package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The MinHash signer of every text near-dup screen, as a native
  * Catalyst expression with whole-stage codegen (built like
  * [[Fnv1a32]]): a document's `words` array (`split(text, " ")`) maps
  * to its `numHashes` signatures
  *
  *   g_j = min over shingles s of pmod(h1(s) + j·h2(s), P)
  *
  * where a shingle is `shingleLen` consecutive words joined by one
  * space, and h1/h2 are FNV-1a over its code points with the two
  * Carter-Wegman seeds — exactly the values
  * `Fnv.hash32(concat_ws(" ", w[i], …), Basis1|Basis2)` gives, empty
  * words (double spaces) included. A document with fewer than
  * `shingleLen` words has no shingle and signs to NULL.
  *
  * Why a kernel: the relational form (explode one row per shingle,
  * hash, `groupBy(doc_id)` min) shuffles every shingle's hash pair to
  * sign a value that depends on one row; a higher-order-function form
  * (`array_min(transform …)`) is `CodegenFallback` and allocates a
  * lambda frame per element. This is one primitive loop per document:
  * each word is decoded to code points once and each shingle's two
  * hashes are folded word by word, with no shingle string built.
  */
case class MinHashSig(child: Expression, numHashes: Int, shingleLen: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    MinHash.sign(input.asInstanceOf[ArrayData], numHashes, shingleLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w => {
      val tmp = ctx.freshName("sig")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.MinHash.sign($w, $numHashes, $shingleLen);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHash {
  /** The Carter-Wegman modulus: h_j = (h1 + j·h2) mod P. 32-bit h1/h2
    * keep j·h2 inside BIGINT for any j, portable to plain SQL. */
  val P: Long = 1000000007L

  private def step(h: Long, cp: Int): Long = ((h ^ cp) * 16777619L) & 0xFFFFFFFFL

  /** The signing kernel (also called from generated code). Null words
    * are skipped with their separator, as `concat_ws` skips them. */
  def sign(words: ArrayData, numHashes: Int, shingleLen: Int): ArrayData = {
    val n = words.numElements()
    val starts = n - shingleLen + 1
    if (starts <= 0) return null
    val cps = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) cps(i) = words.getUTF8String(i).toString.codePoints().toArray
      i += 1
    }
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < starts) {
      var h1 = Fnv.Basis1
      var h2 = Fnv.Basis2
      var first = true
      var k = s
      while (k < s + shingleLen) {
        val w = cps(k)
        if (w != null) {
          if (!first) { h1 = step(h1, ' '); h2 = step(h2, ' ') }
          first = false
          var c = 0
          while (c < w.length) { h1 = step(h1, w(c)); h2 = step(h2, w(c)); c += 1 }
        }
        k += 1
      }
      var j = 0
      while (j < numHashes) {
        val v = (h1 + j * h2) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Column API: the `numHashes` MinHash signatures of a words array. */
  def signatures(words: Column, numHashes: Int, shingleLen: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(words), numHashes, shingleLen))
}
