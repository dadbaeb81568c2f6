package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{ColumnTransformation, EndpointSpec, MigrationSpec, TableMapping, TransferSpec}
import graft.engine.{Checkpoint, ChunkSizing, TransferControl, TransferOutcome, TransferRunner}

/** Config-driven parquet→parquet transfer of a seeded catalog, then the
  * same transfer killed after about half its chunks and resumed. The
  * engine's chunking, job and checkpoint cost does almost all the work;
  * no `ops` code runs.
  *
  * Catalog: `orders` (numeric key → range chunks, files clustered by
  * key), `users` (string key → hash buckets, rows in random order) and
  * three small tables (fixed per-table cost). */
object TransferParquet extends Workload {
  val name = "transfer_parquet"

  private final case class Table(mapping: TableMapping, rows: Long, cols: Seq[String])

  private var tables: Seq[Table] = Nil
  private var expected: Map[String, Fingerprint.Print] = Map.empty
  private var srcDir: String = _
  private var srcBytes = 0L

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    srcDir = ctx.path("in/catalog")
    val s = ctx.seed
    def h(k: Int) = xxhash64(lit(s), col("id"), lit(k))
    def u(k: Int) = pmod(h(k), lit(1000000L)).cast("double") / 1e6
    val nOrders = ctx.n(8000)
    val nUsers = ctx.n(3000)
    val words = array(Seq("alpha", "bravo", "delta", "echo", "kilo", "lima",
      "oscar", "sierra", "tango", "zulu").map(lit): _*)
    def word(k: Int) = element_at(words, (pmod(h(k), lit(10L)) + 1).cast("int"))

    def write(df: DataFrame, table: String): () => Unit =
      () => df.write.mode("overwrite").parquet(s"$srcDir/$table.parquet")
    graft.util.Par.run(Seq(
      write(spark.range(0, nOrders, 1, 4).select(
        (col("id") * 3 + pmod(h(1), lit(3L))).as("id"),
        pmod(h(2), lit(50000L)).as("cust"),
        round(u(3) * 1000, 2).as("amount"),
        element_at(array(Seq("new", "paid", "sent", "done", "void").map(lit): _*),
          (pmod(h(4), lit(5L)) + 1).cast("int")).as("status"),
        concat_ws(" ", word(5), word(6), word(7), word(8)).as("note")), "orders"),
      write(spark.range(0, nUsers, 1, 4).select(
        concat(lit("u"), lpad(hex(h(11)), 16, "0")).as("uid"),
        concat_ws(" ", word(12), word(13)).as("name"),
        round(u(14) * 100, 3).as("score"),
        pmod(h(15), lit(1000L)).cast("int").as("visits"))
        .orderBy(h(16)), "users"),
      write(spark.range(0, 5, 1, 1).select(col("id").as("rid"),
        concat(lit("Region "), col("id").cast("string")).as("name")), "regions"),
      write(spark.range(0, 12, 1, 1).select(concat(lit("T"), col("id").cast("string")).as("code"),
        round(u(21), 4).as("rate")), "tiers"),
      write(spark.range(0, 40, 1, 1).select(
        concat(lit("C"), lpad(col("id").cast("string"), 3, "0")).as("ccy"),
        round(u(22) * 10, 4).as("fx")), "currencies")))
    ctx.log("parquet catalog written")

    val ct = ColumnTransformation
    tables = Seq(
      Table(TableMapping("orders", Some("orders_copy"), Some("id"), Seq(
        ct("amount", "amount * 100"), ct("status", "UPPER(status)"))), nOrders,
        Seq("id", "cust", "amount", "status", "note")),
      Table(TableMapping("users", Some("users_copy"), Some("uid"), Seq(
        ct("name", "CONCAT('user: ', name)"), ct("score", "ROUND(score * 2, 3)"))), nUsers,
        Seq("uid", "name", "score", "visits")),
      Table(TableMapping("regions", Some("regions_copy"), Some("rid"), Seq(
        ct("name", "LOWER(name)"))), 5, Seq("rid", "name")),
      Table(TableMapping("tiers", Some("tiers_copy"), Some("code")), 12, Seq("code", "rate")),
      Table(TableMapping("currencies", Some("currencies_copy"), Some("ccy"), Seq(
        ct("fx", "fx * 2"))), 40, Seq("ccy", "fx")))
    // the expected destination, recomputed from the source by the
    // benchmark itself (SQL transforms applied here, not by the engine)
    expected = Fingerprint.of(tables.map(t => (t.mapping.target, transformed(ctx, t), t.cols)))
    srcBytes = Files2.dataBytes(new File(srcDir))
  }

  private def transformed(ctx: Ctx, t: Table): DataFrame = {
    val byCol = t.mapping.columnTransformations.map(c => c.sourceColumn -> c.expression).toMap
    ctx.spark.read.parquet(s"$srcDir/${t.mapping.name}.parquet")
      .selectExpr(t.cols.map(c => byCol.get(c).map(e => s"$e AS $c").getOrElse(c)): _*)
  }

  def rows: Long = tables.map(_.rows).sum

  def open(ctx: Ctx): Unit =
    tables.foreach(t => ctx.spark.read.parquet(s"$srcDir/${t.mapping.name}.parquet").count())

  def inputCounts: Map[String, Double] = Map(
    "rows" -> rows.toDouble, "range_rows" -> tables.head.rows.toDouble,
    "hash_rows" -> tables(1).rows.toDouble, "tables" -> tables.size.toDouble,
    "bytes" -> srcBytes.toDouble)

  /** Chunk checks the engine makes in one uninterrupted transfer. */
  private def plannedChunks(mig: MigrationSpec): Int = tables.map(t =>
    ChunkSizing.chunkCount(t.rows, mig.batchSize, mig.checkpointRowThreshold)).sum

  private def spec(ctx: Ctx, leg: String): TransferSpec = TransferSpec(
    EndpointSpec("parquet", srcDir, tables = tables.map(_.mapping)),
    EndpointSpec("parquet", ctx.path(s"out/$leg")),
    // far above any reachable rate: the limiter never sleeps
    MigrationSpec(rateLimit = 1000000000, checkpointDir = ctx.path(s"cp/$leg")))

  private def reset(ctx: Ctx, leg: String): Unit = {
    Files2.deleteRecursive(new File(ctx.path(s"out/$leg")))
    Files2.deleteRecursive(new File(ctx.path(s"cp/$leg")))
  }

  private def outcomes(rs: Seq[TransferRunner.TableResult], ok: TransferOutcome => Boolean,
                       leg: String): Seq[String] = rs.collect {
    case TransferRunner.TableResult(t, scala.util.Failure(e)) => s"$leg: $t failed: ${e.getMessage}"
    case TransferRunner.TableResult(t, scala.util.Success(o)) if !ok(o) => s"$leg: $t ended $o"
  }

  /** Destination read back independently and compared with the
    * recomputed source: row count and order-independent row hash. */
  private def check(ctx: Ctx, leg: String): Seq[String] = Fingerprint.guard(leg) {
    Fingerprint.diff(leg, Fingerprint.of(tables.map { t =>
      val dir = ctx.path(s"out/$leg/${t.mapping.target}")
      (t.mapping.target, ctx.spark.read.option("recursiveFileLookup", "true").parquet(dir), t.cols)
    }), expected)
  }

  /** `--corrupt drop|dup`: damage one destination chunk before the check,
    * to show that the check catches a dropped or duplicated row. */
  private def corrupt(ctx: Ctx, leg: String): Unit = if (ctx.corrupt != "none") {
    val dest = new File(ctx.path(s"out/$leg/${tables.head.mapping.target}"))
    val chunk = dest.listFiles().filter(_.getName.startsWith("chunk-")).minBy(_.getName)
    val df = ctx.spark.read.parquet(chunk.getPath).localCheckpoint(true)
    val bad = if (ctx.corrupt == "drop") df.orderBy("id").offset(1) else df.union(df.limit(1))
    val tmp = chunk.getPath + ".tmp"
    bad.write.parquet(tmp)
    Files2.deleteRecursive(chunk)
    new File(tmp).renameTo(chunk)
  }

  def pass(ctx: Ctx, traced: Boolean): PassResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val quiet: String => Unit = _ => ()
    val all: TransferOutcome => Boolean = _ == TransferOutcome.Completed
    val lv = new LayerValues
    var failures = Seq.empty[String]

    // leg 1: one uninterrupted transfer into an empty destination
    reset(ctx, "full")
    val saves = if (traced) Some(new SaveCounter(new File(ctx.path("cp/full")))) else None
    val (r1, full) = tr.span("engine", "transfer") {
      TransferRunner.run(spark, spec(ctx, "full"), new TransferControl, quiet)
    }
    saves.foreach(_.close())
    failures ++= outcomes(r1, all, "transfer")
    corrupt(ctx, "full")
    failures ++= check(ctx, "full")

    // leg 2: killed after about half the chunks, then resumed
    reset(ctx, "resume")
    val kill = TransferControl.cancelAfterChecks(plannedChunks(spec(ctx, "resume").migration) / 2)
    val (r2, killed) = tr.span("engine", "kill") {
      TransferRunner.run(spark, spec(ctx, "resume"), kill, quiet)
    }
    if (r2.forall(_.outcome.toOption.contains(TransferOutcome.Completed)))
      failures :+= "kill: every table completed before the cancel"
    failures ++= outcomes(r2, _ => true, "kill")
    val (r3, resumed) = tr.span("engine", "resume") {
      TransferRunner.run(spark, spec(ctx, "resume"), new TransferControl, quiet)
    }
    failures ++= outcomes(r3, o => o == TransferOutcome.Completed ||
      o == TransferOutcome.SkippedComplete, "resume")
    failures ++= check(ctx, "resume")

    val passS = full.seconds + killed.seconds + resumed.seconds
    ctx.heapProbe()
    if (traced) {
      tr.drain()
      Seq(full, killed, resumed).foreach(lv.span(_, jobs = false))
      lv.set("engine.jobs", full.jobs.toDouble)
      val chunks = full.queries.filter(_.chunk)
      val chunkS = chunks.map(q => (q.endMs - q.startMs) / 1000.0).toSeq
      lv.set("engine.chunk_s_p50", Stats.quantile(chunkS, 0.5))
      lv.set("engine.chunk_s_p95", Stats.quantile(chunkS, 0.95))
      lv.set("engine.idle_s", Stats.uncovered(full.startMs, full.endMs,
        chunks.map(q => (q.startMs, q.endMs)).toSeq))
      lv.set("engine.plan_s", firstChunkS(full))
      lv.set("engine.resume_plan_s", firstChunkS(resumed))
      lv.set("engine.checkpoint_saves", saves.map(_.count).getOrElse(0L).toDouble)
      lv.set("engine.checkpoint_save_ms", checkpointSaveMs(ctx))
      val written = Seq(killed, resumed).flatMap(_.queries).map(_.chunkRows).sum
      lv.set("engine.replayed_rows", (written - rows).toDouble)
      lv.set("engine.resume_ratio", (killed.seconds + resumed.seconds) / full.seconds)
      def scanned(table: String) = full.queries.flatMap(_.scanRows)
        .collect { case (p, n) if p.endsWith(s"/$table.parquet") => n }.sum.toDouble
      lv.set("sources.read_amplification", scanned("users") / tables(1).rows)
      lv.set("sources.read_amplification_range", scanned("orders") / tables.head.rows)

      // layer probes: the source scan alone, and one unchunked
      // scan→transform→write, on the same rows
      val (_, scan) = tr.span("sources", "scan") {
        tables.foreach(t => spark.read.parquet(s"$srcDir/${t.mapping.name}.parquet")
          .write.format("noop").mode("overwrite").save())
      }
      val (_, write) = tr.span("sinks", "parquet_write") {
        tables.foreach(t => transformed(ctx, t).write.mode("overwrite")
          .parquet(ctx.path(s"out/unchunked/${t.mapping.target}")))
      }
      tr.drain()
      lv.span(scan); lv.span(write)
      lv.set("sources.scan_s", scan.seconds)
      lv.set("sinks.parquet_write_s", write.seconds)
      lv.set("engine.overhead_s", full.seconds - write.seconds)
      lv.set("sinks.bytes_ratio",
        Files2.dataBytes(new File(ctx.path("out/full"))).toDouble / srcBytes)
      lv.set("sinks.failed_tasks", (full.failedTasks + killed.failedTasks +
        resumed.failedTasks + write.failedTasks).toDouble)
    }
    PassResult(rows, full.seconds, passS, lv.toMap, failures)
  }

  private def firstChunkS(s: Span): Double = {
    val starts = s.queries.filter(_.chunk).map(_.startMs)
    if (starts.isEmpty) Double.NaN else (starts.min - s.startMs) / 1000.0
  }

  /** `Checkpoint.save` timed directly on the payloads the transfer left. */
  private def checkpointSaveMs(ctx: Ctx): Double = {
    val files = Option(new File(ctx.path("cp/full")).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".checkpoint"))
    val cps = files.flatMap(f => Checkpoint.fromJson(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).map(f.getName -> _))
    val dir = ctx.path("cp/timing")
    val times = for (_ <- 1 to 5; (n, cp) <- cps.toSeq) yield {
      val t0 = System.nanoTime()
      Checkpoint.save(dir, "parquet", n.stripSuffix(".checkpoint"), cp)
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(times)
  }
}
