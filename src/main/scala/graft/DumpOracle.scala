package graft
import java.nio.file.{Files, Paths}
/** Writes SparkEntry.oracleSql as oracle_sql.json WITHOUT running any
  * Spark query — the oracle map is pure data. Used by the oracle-cost
  * profiler (`tools/oracle_profile.py`) so DuckDB-side regressions are
  * measurable without a full Verify pass, and to diff the oracle of two
  * trees entry by entry.
  *
  * Usage: `sbt "runMain graft.DumpOracle [outDir]"` (default
  * /tmp/oracle_dump). */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/oracle_dump")
    val n = write(outDir, None)
    println(s"wrote $n oracle entries to $outDir/oracle_sql.json")
  }

  /** The one renderer of `<outDir>/oracle_sql.json`: the oracle map,
    * restricted to `only` when given, as one JSON object. Every key and
    * value goes through `Fs.jsonEscape` — a tab or CR in the SQL would
    * otherwise make the driver's `json.load` fail and silently zero the
    * correctness gate. Returns the number of entries written. */
  def write(outDir: String, only: Option[Set[String]]): Int = {
    import graft.util.Fs.{jsonEscape => q}
    new java.io.File(outDir).mkdirs()
    val entries = SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }
    val json = entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    entries.size
  }
}
