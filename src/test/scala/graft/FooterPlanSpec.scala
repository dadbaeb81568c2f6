package graft


import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core._
import graft.engine._

/** The parquet engine's footer planner against the aggregate planner it
  * falls back to: per source layout, the footers either decline with the
  * logged reason or plan exactly `ChunkSizing.chunkCount` chunks that
  * cover every row and end at the true key max, and both planners
  * transfer the same rows. */
class FooterPlanSpec extends SparkTestBase {
  import FooterPlanSpec._
  import spark.implicits._

  private val batch = 100
  private val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  private def withThreshold[T](n: Int)(body: => T): T = {
    val old = spark.conf.get(threshold)
    spark.conf.set(threshold, n.toString)
    try body finally spark.conf.set(threshold, old)
  }

  private def footers(dir: String): Either[String, ParquetFooters.Footers] =
    ParquetFooters.read(dir, spark.sessionState.newHadoopConf(),
      spark.sessionState.conf.parallelPartitionDiscoveryThreshold)

  /** A source table `t` (`<work>/src/t.parquet`) with rows (id, v). */
  private def sourceDir(): String =
    s"${tempDir("fplan")}/src/t.parquet"

  /** Writes (id, v) rows with parquet-mr directly: no Spark schema in
    * the footer. `id` is the parquet declaration of the key column. */
  private def writeRaw(file: String, id: String, ids: Seq[Long],
                       stats: Boolean = true): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message t { $id; required binary v (STRING); }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withStatisticsEnabled(stats).build()
    val groups = new SimpleGroupFactory(schema)
    try ids.foreach { i =>
      val g = groups.newGroup()
      if (id.contains("int32")) g.append("id", i.toInt) else g.append("id", i)
      w.write(g.append("v", s"v$i"))
    } finally w.close()
  }

  private def rows(n: Int) = (1L to n).map(i => (i, s"v$i")).toDF("id", "v")

  /** Transfers `t` from `src` once; returns the outcome (or the error
    * message), the planner line, the destination rows and the
    * destination's columns (none when the transfer failed). */
  private def transfer(src: String, mapping: TableMapping = TableMapping("t",
                         primaryKey = Some("id")),
                       control: TransferControl = new TransferControl,
                       work: String = tempDir("fplanx"))
      : (Either[String, TransferOutcome], String, Map[Row, Int], Seq[String]) = {
    val spec = TransferSpec(
      EndpointSpec("parquet", path = src.stripSuffix("/t.parquet"), tables = Seq(mapping)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = batch, checkpointRowThreshold = batch,
        checkpointDir = s"$work/cp", rateLimit = 100000000))
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = Try(new TableTransferJob(spark, spec, mapping, control,
      s => { lines.add(s); () }).run()).toEither.left.map(_.getMessage)
    val planner = lines.toArray.map(_.toString).filter(_.contains(": planner ")).toSeq
    assert(planner.size <= 1, planner)
    val dest = out.toOption.map(_ => TableTransferJob.readTarget(spark, spec, mapping.target))
    (out, planner.headOption.getOrElse(""),
      dest.fold(Seq.empty[Row])(_.collect().toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size },
      dest.fold(Seq.empty[String])(_.columns.toSeq))
  }

  private val notInt = Declines("key 'id' is not a signed INT32/INT64 column")

  /** (layout, writer of `<dir>`, expectation) */
  private val layouts: Seq[(String, String => Unit, Expect)] = Seq(
    ("one file, INT64 key",
      d => rows(800).coalesce(1).write.parquet(d), Plans(1)),
    ("many files sorted on the key, many row groups",
      d => rows(800).repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.option("parquet.block.size", "1024")
        .option("parquet.page.size.row.check.min", "10")
        .option("parquet.page.size.row.check.max", "10").parquet(d),
      Plans(4, minGroups = 8)),
    ("overlapping row groups",
      d => {
        rows(800).where(col("id") % 2 === 0).coalesce(1).write.parquet(d)
        rows(800).where(col("id") % 2 === 1).coalesce(1).write.mode("append").parquet(d)
      }, Declines("row groups overlap on key 'id'")),
    ("an empty source",
      d => rows(0).write.parquet(d), Plans(1)),
    ("an all-NULL-key row group",
      d => {
        rows(100).coalesce(1).write.parquet(d)
        (1 to 100).map(i => (Option.empty[Long], s"n$i")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(d)
      }, RefusesNulls),
    ("INT32 key",
      d => rows(800).select(col("id").cast("int").as("id"), col("v")).coalesce(1)
        .write.parquet(d), Plans(1)),
    ("double key",
      d => rows(800).select(col("id").cast("double").as("id"), col("v")).coalesce(1)
        .write.parquet(d), notInt),
    ("decimal key",
      d => rows(800).select(col("id").cast("decimal(12,0)").as("id"), col("v"))
        .coalesce(1).write.parquet(d), notInt),
    ("a file without Spark's schema metadata",
      d => writeRaw(s"$d/part-0.parquet", "required int64 id", 1L to 800L), Plans(1)))

  for ((name, write, expect) <- layouts) test(s"footer plan vs aggregate plan: $name") {
    val dir = sourceDir()
    write(dir)
    val f = footers(dir)
    val inferred = spark.read.parquet(dir)
    // the footer schema is what Spark infers (or absent without metadata)
    f.toOption.flatMap(_.schema) match {
      case Some(s) =>
        assert(s.map(c => c.name -> c.dataType) == inferred.schema.map(c => c.name -> c.dataType))
        assert(spark.read.schema(s).parquet(dir).schema == inferred.schema)
      // (the all-NULL file's key is nullable and the other file's is not,
      // so their stored schemas differ and Spark infers one)
      case None => assert(name.contains("without Spark's schema") || expect == RefusesNulls,
        s"no footer schema: $f")
    }
    val viaFooters = transfer(dir)
    val viaAggregate = withThreshold(0)(transfer(dir))
    assert(viaAggregate._2.endsWith(
      s"planner aggregate: ${f.toOption.get.files} files exceed $threshold (0)"), viaAggregate._2)
    expect match {
      case Plans(files, minGroups) =>
        val fs = f.toOption.get
        assert(fs.files == files && fs.rowGroups >= minGroups, fs.rowGroups)
        assert(viaFooters._2.endsWith(
          s"planner footers ($files files, ${fs.rowGroups} row groups)"), viaFooters._2)
        val k = fs.keyStats("id").toOption.get
        val keys = inferred.select(col("id").cast("long")).as[Long].collect().sorted
        assert(k.rows == keys.length && k.nulls == 0)
        if (keys.nonEmpty) {
          val n = ChunkSizing.chunkCount(k.rows, batch, batch)
          val bounds = ParquetFooters.rangeBounds(k.groups, n)
          assert(bounds.size == n, bounds)
          assert(bounds.zip(bounds.tail).forall { case (a, b) => a < b }, bounds)
          assert(bounds.last == keys.last)
          // every row lands in exactly one chunk; keys are contiguous, so
          // each chunk holds exactly its share of rows
          val sizes = keys.groupBy(k => bounds.indexWhere(k <= _)).map { case (c, ks) => c -> ks.length }
          assert(!sizes.contains(-1) && sizes.values.sum == keys.length)
          val targets = (0 to n).map(j => (j.toLong * keys.length + n - 1) / n)
          assert(sizes == (0 until n).map(c => c -> (targets(c + 1) - targets(c)).toInt).toMap)
        } else Seq(viaFooters, viaAggregate).foreach { v =>
          // an empty source still leaves a readable, empty destination
          assert(v._3.isEmpty && v._4 == inferred.columns.toSeq, v)
        }
      case Declines(reason) =>
        assert(viaFooters._2.endsWith(s"planner aggregate: $reason"), viaFooters._2)
      case RefusesNulls =>
        val msg = "table 't' has 100 NULL values in key 'id'"
        assert(viaFooters._1.left.exists(_.contains(msg)), viaFooters._1)
        assert(viaAggregate._1.left.exists(_.contains(msg)), viaAggregate._1)
    }
    if (expect != RefusesNulls) {
      assert(viaFooters._1 == Right(TransferOutcome.Completed), viaFooters._1)
      assert(viaAggregate._1 == Right(TransferOutcome.Completed), viaAggregate._1)
      val source = inferred.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
      assert(viaFooters._3 == source, "footer-planned destination differs from the source")
      assert(viaAggregate._3 == viaFooters._3, "the two planners transferred different rows")
    }
  }

  test("footer range bounds stay exact across the whole Long domain") {
    val groups = Seq(ParquetFooters.KeyGroup(1000, Long.MinValue, -1L),
      ParquetFooters.KeyGroup(1000, 0L, Long.MaxValue))
    val b = ParquetFooters.rangeBounds(groups, 8)
    assert(b.size == 8 && b.zip(b.tail).forall { case (x, y) => x < y }, b)
    assert(b(3) == -1L && b.last == Long.MaxValue, b)
  }

  test("every fallback to the aggregate planner logs its reason") {
    def planner(dir: String, mapping: TableMapping = TableMapping("t", primaryKey = Some("id")),
                work: String = tempDir("fplanr")): String = {
      val (out, line, dest, _) = transfer(dir, mapping, work = work)
      assert(out == Right(TransferOutcome.Completed), out)
      assert(dest.values.sum == spark.read.parquet(dir).count())
      line.replaceFirst(".*: planner ", "")
    }
    val unsigned = sourceDir()
    writeRaw(s"$unsigned/part-0.parquet", "required int32 id (INTEGER(32,false))", 1L to 300L)
    assert(planner(unsigned) == "aggregate: key 'id' is not a signed INT32/INT64 column")

    val noStats = sourceDir()
    writeRaw(s"$noStats/part-0.parquet", "required int64 id", 1L to 300L, stats = false)
    assert(planner(noStats) ==
      "aggregate: a row group lacks statistics or a null count for key 'id'")

    val overlap = sourceDir()
    rows(300).repartition(2).write.parquet(overlap)
    assert(planner(overlap) == "aggregate: row groups overlap on key 'id'")

    val partitioned = sourceDir()
    rows(300).withColumn("p", col("id") % 2).write.partitionBy("p").parquet(partitioned)
    assert(planner(partitioned).matches(
      "aggregate: 'p=[01]' in the source dir is not a regular \\.parquet file"))

    val bare = sourceDir()
    rows(300).coalesce(1).write.parquet(bare)
    new java.io.File(bare).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(_.renameTo(new java.io.File(bare, "part-0")))
    assert(planner(bare) == "aggregate: 'part-0' in the source dir is not a regular .parquet file")

    val many = sourceDir()
    rows(300).repartition(4).write.parquet(many)
    assert(withThreshold(2)(planner(many)) == s"aggregate: 4 files exceed $threshold (2)")
    assert(planner(many) == "aggregate: row groups overlap on key 'id'")

    // an incremental run plans the rows above its stored cursor with the
    // aggregate; a resume continues its stored plan
    val inc = sourceDir()
    val work = tempDir("fplani")
    val incremental = TableMapping("t", primaryKey = Some("id"), incremental = true)
    rows(300).coalesce(1).write.parquet(inc)
    assert(planner(inc, incremental, work) == "footers (1 files, 1 row groups)")
    rows(400).where(col("id") > 300).coalesce(1).write.mode("append").parquet(inc)
    assert(planner(inc, incremental, work) == "aggregate: extension above a stored cursor")
    val resumed = sourceDir()
    val rwork = tempDir("fplanr")
    rows(800).coalesce(1).write.parquet(resumed)
    val killed = transfer(resumed, control = TransferControl.cancelAfterChecks(2), work = rwork)
    assert(killed._1 == Right(TransferOutcome.Interrupted(2)), killed._1)
    assert(planner(resumed, work = rwork) == "checkpoint (stored plan)")
  }
}

object FooterPlanSpec {
  /** What the footers must decide for a layout. */
  private sealed trait Expect
  private final case class Plans(files: Int, minGroups: Int = 0) extends Expect
  private final case class Declines(reason: String) extends Expect
  private case object RefusesNulls extends Expect
}
