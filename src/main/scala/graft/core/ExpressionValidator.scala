package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._

/** Security validation of config-supplied transform expressions (P6).
  *
  * The reference's only guard is a substring blacklist of DDL/exec
  * keywords (`postgresql.go:780-799`: DELETE, DROP, TRUNCATE, ALTER,
  * CREATE, GRANT, REVOKE, EXECUTE, FUNCTION, PROCEDURE). This is the
  * strictly-stronger Catalyst version (SURVEY §2.2 P6): the string must
  * PARSE as a single scalar expression (statements like `DROP TABLE t`
  * don't), and the parsed tree must contain only allowlisted node kinds —
  * no subqueries, no unknown or side-effecting functions, nothing
  * non-deterministic (resume would double-apply transforms differently,
  * SURVEY §7.4.2).
  */
object ExpressionValidator {

  /** Scalar functions a transform may call (lower-case). Deterministic,
    * side-effect-free builtins only — deliberately excludes `reflect`,
    * `java_method`, `rand*`, `uuid`, `input_file_name`, and everything
    * that is not a row-local scalar. */
  val allowedFunctions: Set[String] = Set(
    // string
    "upper", "lower", "concat", "concat_ws", "trim", "ltrim", "rtrim",
    "substring", "substr", "length", "char_length", "replace", "lpad",
    "rpad", "split", "regexp_replace", "regexp_extract", "initcap",
    "instr", "locate", "left", "right", "repeat", "reverse", "translate",
    "format_number", "format_string",
    // date/time
    "date_format", "to_date", "to_timestamp", "year", "month", "day",
    "dayofmonth", "dayofweek", "dayofyear", "hour", "minute", "second",
    "unix_timestamp", "from_unixtime", "datediff", "date_add", "date_sub",
    "add_months", "months_between", "last_day", "next_day", "trunc",
    "date_trunc", "quarter", "weekofyear", "make_date", "timestamp_micros",
    // math
    "abs", "round", "bround", "floor", "ceil", "ceiling", "sqrt", "cbrt",
    "exp", "ln", "log", "log2", "log10", "pow", "power", "sign", "signum",
    "mod", "pmod", "greatest", "least",
    // null handling / conditional
    "coalesce", "nvl", "nvl2", "ifnull", "nullif", "if",
    // hashing (deterministic, used by dedup/fingerprint configs)
    "md5", "sha1", "sha2", "hash", "xxhash64", "crc32",
    // graft native expressions (registered in every engine session by
    // GraftExtensions; deterministic row-local scalars)
    "graft_fnv1a32", "graft_cosine", "graft_sqdist", "graft_dot",
    // casts are also reachable as functions
    "cast", "string", "int", "bigint", "double", "decimal", "date",
    "timestamp", "boolean", "binary")

  /** The reference's literal keyword blacklist (`postgresql.go:780-799`),
    * word-bounded, EXTENDED with insert/update (a deliberate superset:
    * the structural allowlist already makes DML unparseable, but the
    * engine also refuses the words outright, accepting the false
    * positive on literals like 'last update' for defense-in-depth) —
    * kept on top of the structural allowlist so parity is explicit
    * (e.g. `EXECUTE p` parses as a harmless aliased attribute, but the
    * reference would reject it; so do we). */
  private val blacklist =
    ("""(?i)\b(delete|drop|truncate|alter|create|grant|revoke|execute|""" +
      """function|procedure|insert|update)\b""").r

  /** @return Right(()) if valid, Left(reason) otherwise. */
  def validate(spark: SparkSession, exprStr: String): Either[String, Unit] = {
    blacklist.findFirstIn(exprStr).foreach { kw =>
      return scala.util.Left(
        s"blacklisted keyword '$kw' (engine blacklist, superset of the reference's)")
    }
    val parsed =
      try scala.util.Right(spark.sessionState.sqlParser.parseExpression(exprStr))
      catch {
        case e: Exception =>
          // a null/empty message must still yield Left, not an NPE from
          // the message formatting itself
          val msg = Option(e.getMessage)
            .flatMap(_.linesIterator.find(_.nonEmpty))
            .getOrElse(e.getClass.getSimpleName)
          scala.util.Left(s"not a parseable scalar expression: $msg")
      }
    parsed.flatMap { root =>
      var bad: Option[String] = None
      root.foreach {
        case _: Literal | _: UnresolvedAttribute => ()
        case f: UnresolvedFunction =>
          val name = f.nameParts.last.toLowerCase
          if (f.nameParts.length > 1)
            bad = bad.orElse(Some(s"qualified function '${f.nameParts.mkString(".")}' not allowed"))
          else if (!allowedFunctions(name) &&
              !graft.functions.UdfRegistry.allowedExtras(name))
            bad = bad.orElse(Some(s"function '$name' not in the allowlist"))
        case _: SubqueryExpression =>
          bad = bad.orElse(Some("subqueries not allowed in transforms"))
        // structural / operator nodes that are always safe
        case _: BinaryArithmetic | _: BinaryComparison | _: UnaryMinus |
             _: UnaryPositive | _: And | _: Or | _: Not | _: Cast |
             _: CaseWhen | _: If | _: IsNull | _: IsNotNull | _: In |
             _: Like | _: RLike | _: Concat | _: Coalesce |
             _: CreateNamedStruct => ()
        case other =>
          bad = bad.orElse(Some(s"expression node '${other.getClass.getSimpleName}' not allowed"))
      }
      bad.toLeft(())
    }
  }

  /** Validate every transform of a table spec; throws with all offending
    * expressions listed (called before any job starts, like the
    * reference's up-front validation `postgresql.go:182-191`). */
  def validateAll(spark: SparkSession, t: TableMapping): Unit = {
    val errs = t.columnTransformations.flatMap { ct =>
      validate(spark, ct.expression).left.toOption
        .map(r => s"${t.name}.${ct.sourceColumn}: '${ct.expression}' — $r")
    }
    require(errs.isEmpty, s"invalid transform expression(s):\n  ${errs.mkString("\n  ")}")
  }

  /** Apply a table spec's transforms in declaration order — the ONE
    * transform fold of every transfer path. Validate with
    * [[validateAll]] first. */
  def applyAll(df: DataFrame, t: TableMapping): DataFrame =
    t.columnTransformations.foldLeft(df) { (d, ct) =>
      d.withColumn(ct.sourceColumn, org.apache.spark.sql.functions.expr(ct.expression))
    }
}
