package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `sbt "runMain graft.Verify <sfDir> <outDir> [gate,gate,...]"`. */
object Verify {
  val Usage = "usage: graft.Verify <sfDir> <outDir> [gate,gate,...]"

  /** `(sfDir, outDir, only)`, or the usage text for a wrong argument
    * count. The optional third argument is a comma-separated gate filter
    * (local iteration only — the driver always calls with two). */
  def parseArgs(args: Array[String]): Either[String, (String, String, Option[Set[String]])] =
    args match {
      case Array(s, o)    => Right((s, o, None))
      case Array(s, o, f) => Right((s, o, Some(f.split(',').toSet)))
      case _              => Left(Usage)
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args) match {
      case Right(parsed) => parsed
      case Left(usage) =>
        System.err.println(usage)
        sys.exit(2)
    }
    val spark = Sessions.builder("graft-verify", Sessions.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // ONE execution per query, straight into the sink — no cache (a
      // result over the cache budget would double-execute on the write;
      // VERDICT r2). AQE's partition coalescing keeps file counts sane;
      // the oracle reader globs *.parquet either way.
      try fn(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    DumpOracle.write(outDir, only)
    spark.stop()
  }
}
