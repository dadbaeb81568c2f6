package graft.perfbench

import java.io.File
import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{ColumnTransformation, EndpointSpec, MigrationSpec, TableMapping, TransferSpec}
import graft.engine.{ChunkSizing, JdbcTransferJob, TransferControl, TransferOutcome, TransferRunner}
import graft.sinks.JdbcUpsert
import graft.sources.JdbcCatalog

/** Seeded numeric-key and VARCHAR-key tables moved from one embedded
  * Derby database to a separate one, in three legs: a fresh load, a
  * re-sync into the populated destination (checkpoint cleared, so every
  * MERGE matches an existing row), and a kill after about half the
  * chunks followed by a resume. Exercises the JDBC read, keyset planning
  * and MERGE batches that the parquet transfer bypasses. */
object TransferJdbc extends Workload {
  val name = "transfer_jdbc"

  private final case class Table(mapping: TableMapping, key: String, rows: Long,
                                 cols: Seq[String])

  private var tables: Seq[Table] = Nil
  private var expected: Map[String, Fingerprint.Print] = Map.empty
  private var srcUrl: String = _
  private var dstUrl: String = _
  private var srcBytes = 0L

  def generate(ctx: Ctx): Unit = {
    srcUrl = s"jdbc:derby:${ctx.path("in/derby-src")};create=true"
    dstUrl = s"jdbc:derby:${ctx.path("out/derby-dst")};create=true"
    JdbcUpsert.ConnectionExecutor.loadDrivers()
    val nAcc = ctx.n(3000)
    val nSes = ctx.n(1500)
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val words = Array("amber", "basil", "cedar", "dune", "ember", "fjord", "grove", "heath")
    val statuses = Array("open", "held", "closed")
    val devices = Array("Phone", "Tablet", "Desktop")
    val c = DriverManager.getConnection(srcUrl)
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE accounts (id BIGINT NOT NULL PRIMARY KEY, " +
        "name VARCHAR(40), balance DOUBLE, status VARCHAR(8))")
      st.executeUpdate("CREATE TABLE sessions (sid VARCHAR(24) NOT NULL PRIMARY KEY, " +
        "account BIGINT, score DOUBLE, device VARCHAR(12))")
      st.close()
      val pa = c.prepareStatement("INSERT INTO accounts VALUES (?, ?, ?, ?)")
      var id = 0L
      for (_ <- 0 until nAcc) {
        id += 1 + rnd.nextInt(3)
        pa.setLong(1, id)
        pa.setString(2, s"${words(rnd.nextInt(8))} ${words(rnd.nextInt(8))}")
        pa.setDouble(3, math.rint(rnd.nextDouble() * 1e6) / 100)
        pa.setString(4, statuses(rnd.nextInt(3)))
        pa.addBatch()
      }
      pa.executeBatch(); pa.close()
      val ps = c.prepareStatement("INSERT INTO sessions VALUES (?, ?, ?, ?)")
      val seen = scala.collection.mutable.HashSet.empty[String]
      while (seen.size < nSes) {
        val sid = f"s${rnd.nextLong() & 0xffffffffffffL}%016x"
        if (seen.add(sid)) {
          ps.setString(1, sid)
          ps.setLong(2, 1 + rnd.nextInt(nAcc))
          ps.setDouble(3, math.rint(rnd.nextDouble() * 1e4) / 100)
          ps.setString(4, devices(rnd.nextInt(3)))
          ps.addBatch()
        }
      }
      ps.executeBatch(); ps.close()
      c.commit()
    } finally c.close()

    ctx.log("derby source written")
    val ct = ColumnTransformation
    tables = Seq(
      Table(TableMapping("accounts", Some("accounts_copy"), columnTransformations = Seq(
        ct("balance", "balance * 2"), ct("name", "UPPER(name)"))), "id", nAcc,
        Seq("id", "name", "balance", "status")),
      Table(TableMapping("sessions", Some("sessions_copy"), columnTransformations = Seq(
        ct("score", "score + 1"), ct("device", "LOWER(device)"))), "sid", nSes,
        Seq("sid", "account", "score", "device")))
    expected = Fingerprint.of(tables.map(t => (t.mapping.target, transformed(ctx, t), t.cols)))
    srcBytes = Files2.dataBytes(new File(ctx.path("in/derby-src")))
  }

  private def read(ctx: Ctx, url: String, table: String): DataFrame = {
    val df = ctx.spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
  }

  private def transformed(ctx: Ctx, t: Table): DataFrame = {
    val byCol = t.mapping.columnTransformations.map(c => c.sourceColumn -> c.expression).toMap
    read(ctx, srcUrl, t.mapping.name)
      .selectExpr(t.cols.map(c => byCol.get(c).map(e => s"$e AS $c").getOrElse(c)): _*)
  }

  def rows: Long = tables.map(_.rows).sum

  def inputCounts: Map[String, Double] = Map(
    "rows" -> rows.toDouble, "numeric_key_rows" -> tables.head.rows.toDouble,
    "varchar_key_rows" -> tables(1).rows.toDouble, "bytes" -> srcBytes.toDouble)

  private val mig0 = MigrationSpec(rateLimit = 1000000000)

  private def spec(ctx: Ctx): TransferSpec = TransferSpec(
    EndpointSpec("jdbc", srcUrl, tables = tables.map(_.mapping)),
    EndpointSpec("jdbc", dstUrl),
    mig0.copy(checkpointDir = ctx.path("cp-jdbc")))

  private def dropTargets(): Unit = tables.foreach { t =>
    if (JdbcCatalog.tableExists(dstUrl, t.mapping.target))
      JdbcCatalog.execute(dstUrl, s"DROP TABLE ${t.mapping.target}")
  }

  private def clearCheckpoints(ctx: Ctx): Unit = Files2.deleteRecursive(new File(ctx.path("cp-jdbc")))

  def open(ctx: Ctx): Unit = {
    dropTargets(); clearCheckpoints(ctx)
    tables.foreach(t => read(ctx, srcUrl, t.mapping.name).count())
  }

  private def outcomes(rs: Seq[TransferRunner.TableResult], ok: TransferOutcome => Boolean,
                       leg: String): Seq[String] = rs.collect {
    case TransferRunner.TableResult(t, scala.util.Failure(e)) => s"$leg: $t failed: ${e.getMessage}"
    case TransferRunner.TableResult(t, scala.util.Success(o)) if !ok(o) => s"$leg: $t ended $o"
  }

  /** The destination read back over JDBC, compared with the recomputed source. */
  private def check(ctx: Ctx, leg: String): Seq[String] = Fingerprint.guard(leg) {
    Fingerprint.diff(leg, Fingerprint.of(tables.map(t =>
      (t.mapping.target, read(ctx, dstUrl, t.mapping.target), t.cols))), expected)
  }

  /** `--corrupt drop|dup`: delete one destination row (a duplicate cannot
    * exist under the primary key, so `dup` inserts a copy of a row under
    * a new key), to show that the check catches it. */
  private def corrupt(ctx: Ctx): Unit = if (ctx.corrupt != "none") {
    val t = tables.head.mapping.target
    if (ctx.corrupt == "drop")
      JdbcCatalog.execute(dstUrl, s"DELETE FROM $t WHERE id = (SELECT MIN(id) FROM $t)")
    else JdbcCatalog.execute(dstUrl, s"INSERT INTO $t SELECT id + 1000000000, name, " +
      s"balance, status FROM $t WHERE id = (SELECT MIN(id) FROM $t)")
  }

  def pass(ctx: Ctx, traced: Boolean): PassResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val quiet: String => Unit = _ => ()
    val done: TransferOutcome => Boolean = _ == TransferOutcome.Completed
    val lv = new LayerValues
    var failures = Seq.empty[String]

    // leg 1: fresh load into an empty destination
    dropTargets(); clearCheckpoints(ctx)
    val saves = if (traced) Some(new SaveCounter(new File(ctx.path("cp-jdbc")))) else None
    val (r1, load) = tr.span("engine", "load") {
      TransferRunner.runJdbc(spark, spec(ctx), log = quiet)
    }
    saves.foreach(_.close())
    failures ++= outcomes(r1, done, "load")
    corrupt(ctx)
    failures ++= check(ctx, "load")

    // leg 2: re-sync into the populated destination
    clearCheckpoints(ctx)
    val (r2, resync) = tr.span("engine", "resync") {
      TransferRunner.runJdbc(spark, spec(ctx), log = quiet)
    }
    failures ++= outcomes(r2, done, "resync")
    failures ++= check(ctx, "resync")

    // leg 3: killed after about half the chunks, then resumed
    dropTargets(); clearCheckpoints(ctx)
    val chunks = tables.map(t => ChunkSizing.chunkCount(t.rows, mig0.batchSize,
      mig0.checkpointRowThreshold)).sum
    val (r3, killed) = tr.span("engine", "kill") {
      TransferRunner.runJdbc(spark, spec(ctx), log = quiet,
        control = TransferControl.cancelAfterChecks(chunks / 2))
    }
    if (r3.forall(_.outcome.toOption.contains(TransferOutcome.Completed)))
      failures :+= "kill: every table completed before the cancel"
    failures ++= outcomes(r3, _ => true, "kill")
    val (r4, resumed) = tr.span("engine", "resume") {
      TransferRunner.runJdbc(spark, spec(ctx), log = quiet)
    }
    failures ++= outcomes(r4, o => o == TransferOutcome.Completed ||
      o == TransferOutcome.SkippedComplete, "resume")
    failures ++= check(ctx, "resume")

    val passS = load.seconds + resync.seconds + killed.seconds + resumed.seconds
    ctx.heapProbe()
    if (traced) {
      tr.drain()
      val legs = Seq(load, resync, killed, resumed)
      legs.foreach(lv.span(_, jobs = false))
      lv.set("engine.jdbc.jobs", load.jobs.toDouble)
      val chunkQ = load.queries.filter(_.chunk)
      val chunkS = chunkQ.map(q => (q.endMs - q.startMs) / 1000.0).toSeq
      lv.set("engine.jdbc.chunk_s_p50", Stats.quantile(chunkS, 0.5))
      lv.set("engine.jdbc.chunk_s_p95", Stats.quantile(chunkS, 0.95))
      lv.set("engine.jdbc.idle_s", Stats.uncovered(load.startMs, load.endMs,
        chunkQ.map(q => (q.startMs, q.endMs)).toSeq))
      lv.set("engine.jdbc.plan_s", firstChunkS(load))
      lv.set("engine.jdbc.resume_plan_s", firstChunkS(resumed))
      lv.set("engine.jdbc.checkpoint_saves", saves.map(_.count).getOrElse(0L).toDouble)
      // every chunk row is read by the chunk's JDBC scan and MERGEd once
      lv.set("engine.jdbc.replayed_rows", (killed.inRecords + resumed.inRecords - rows).toDouble)
      lv.set("engine.jdbc.resume_ratio", (killed.seconds + resumed.seconds) / load.seconds)
      lv.set("engine.resync_rows_per_s", rows / resync.seconds)

      // layer probes: the predicate-partitioned JDBC read alone, and the
      // MERGE sink alone into an empty and then a populated table
      val (_, scan) = tr.span("sources", "jdbc_read") {
        tables.foreach { t =>
          val part = if (t.key == "id") "id" else "account"
          val props = new java.util.Properties()
          props.setProperty("fetchsize", mig0.batchSize.toString)
          spark.read.jdbc(srcUrl, t.mapping.name,
            (0 until 4).map(i => s"MOD($part, 4) = $i").toArray, props)
            .write.format("noop").mode("overwrite").save()
        }
      }
      val inputs = tables.map(t => t -> transformed(ctx, t).localCheckpoint(true))
      inputs.foreach { case (t, _) =>
        val sink = s"${t.mapping.name}_sink"
        if (JdbcCatalog.tableExists(dstUrl, sink)) JdbcCatalog.execute(dstUrl, s"DROP TABLE $sink")
        JdbcCatalog.mirrorTable(srcUrl, t.mapping.name, sink, dstUrl)
      }
      def merge(): Unit = inputs.foreach { case (t, df) =>
        JdbcUpsert.write(df.coalesce(1), JdbcUpsert.Derby, s"${t.mapping.name}_sink",
          Seq(t.key), mig0.batchSize)(JdbcTransferJob.connectionFactory(dstUrl))
      }
      val (_, insert) = tr.span("sinks", "merge_insert")(merge())
      val (_, update) = tr.span("sinks", "merge_update")(merge())
      inputs.foreach { case (t, df) =>
        JdbcCatalog.execute(dstUrl, s"DROP TABLE ${t.mapping.name}_sink")
        df.unpersist()
      }
      tr.drain()
      Seq(scan, insert, update).foreach(lv.span(_))
      lv.set("sources.jdbc_read_s", scan.seconds)
      lv.set("sinks.merge_insert_s", insert.seconds)
      lv.set("sinks.merge_update_s", update.seconds)
      lv.set("sinks.failed_tasks", (legs ++ Seq(insert, update)).map(_.failedTasks).sum.toDouble)
    }
    PassResult(rows, load.seconds, passS, lv.toMap, failures)
  }

  private def firstChunkS(s: Span): Double = {
    val starts = s.queries.filter(_.chunk).map(_.startMs)
    if (starts.isEmpty) Double.NaN else (starts.min - s.startMs) / 1000.0
  }
}
