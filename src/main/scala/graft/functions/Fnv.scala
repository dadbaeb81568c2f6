package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a (32-bit) over a string's Unicode CODE POINTS, as a native
  * Catalyst `Expression` with whole-stage codegen — the preferred
  * extension tier (custom `Expression` beats a Scala UDF, SURVEY §2.8).
  *
  * Why it exists: the per-token hashes of the text operators (content-
  * defined chunk boundaries, hashed n-gram features) run once per word
  * of every document; md5 there costs a MessageDigest round per token,
  * this is one branch-free integer loop, inlined into the generated
  * stage code. The MinHash signer ([[MinHashSig]]) folds the same hash
  * over each shingle's words in its own kernel, without building the
  * shingle string; [[Fnv.hash32]] is the reference it must equal.
  *
  * Why code points, not bytes: the DuckDB oracle reproduces the hash in
  * portable SQL (`unicode(substr(x, i, 1))` + `list_reduce`), and code
  * points are the one string view both engines expose identically; all
  * intermediates stay below 2^56, so plain BIGINT arithmetic holds in
  * any engine. Cross-checked value-for-value against DuckDB, including
  * non-ASCII.
  */
case class Fnv1a32(child: Expression, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fnv1a32"

  override protected def nullSafeEval(input: Any): Any =
    Fnv.hash32(input.asInstanceOf[UTF8String].toString, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Fnv.hash32($c.toString(), ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a32 =
    copy(child = newChild)
}

object Fnv {
  /** FNV-1a offset basis — the primary hash seed. */
  val Basis1: Long = 0x811C9DC5L
  /** Independent second seed for the Carter-Wegman pair (h1 + j·h2). */
  val Basis2: Long = 0x811C9DC5L ^ 0x5BD1E995L

  /** The hash kernel (also called from generated code — a static call
    * inside the codegen'd loop, like Spark's own UTF8String helpers). */
  def hash32(s: String, seed: Long): Long = {
    var h = seed & 0xFFFFFFFFL
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      h = ((h ^ cp) * 16777619L) & 0xFFFFFFFFL
    }
    h
  }

  /** Column API: `fnv32(col, seed)`. */
  def fnv32(c: Column, seed: Long): Column =
    GraftShim.column(Fnv1a32(GraftShim.expression(c), seed))
}
