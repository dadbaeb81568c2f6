package graft

import org.apache.spark.sql.functions._

import graft.core.{ColumnTransformation, MigrationSpec, TableMapping}
import graft.engine.JdbcTransfer
import graft.sinks.JdbcUpsert
import graft.sources.JdbcCatalog

/** JVM-static chaos countdown shared with local-mode tasks. */
object ChaosProbe {
  val remaining = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** JVM-static statement counter: wraps the real Derby executor and counts
  * every MERGE executed — the observable for "the resumed run re-writes
  * ONLY the tail above the checkpoint". Static so local-mode task
  * closures never capture the spec instance. */
object CountingExec {
  val statements = new java.util.concurrent.atomic.AtomicLong(0)
  def factory(url: String): () => JdbcUpsert.Executor = () => {
    val real = new JdbcUpsert.ConnectionExecutor(url)
    new JdbcUpsert.Executor {
      def apply(sql: String, params: Seq[Any]): Unit = { applyCounted(sql, params); () }
      override def applyCounted(sql: String, params: Seq[Any]): Long = {
        statements.incrementAndGet()
        real.applyCounted(sql, params)
      }
      override def close(): Unit = real.close()
    }
  }
}

/** JVM-static batch-timestamp recorder: wraps the real Derby executor
  * and stamps System.nanoTime at every applyBatch — the observable for
  * "statement batches are PACED within a chunk, not fired back-to-back".
  * Static so local-mode task closures never capture the spec instance. */
object BatchClockExec {
  val stamps = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  def factory(url: String): () => JdbcUpsert.Executor = () => {
    val real = new JdbcUpsert.ConnectionExecutor(url)
    new JdbcUpsert.Executor {
      def apply(sql: String, params: Seq[Any]): Unit = { applyCounted(sql, params); () }
      override def applyCounted(sql: String, params: Seq[Any]): Long =
        real.applyCounted(sql, params)
      override def applyBatch(sql: String, rows: Seq[Seq[Any]]): Seq[Long] = {
        stamps.add(java.lang.Long.valueOf(System.nanoTime()))
        real.applyBatch(sql, rows)
      }
      override def close(): Unit = real.close()
    }
  }
}

/** JVM-static flaky executor: fails every statement while `failures`
  * is positive (decrementing per statement), then recovers — drives the
  * chunk-level Retry on the live transfer path. */
object FlakyExec {
  val failures = new java.util.concurrent.atomic.AtomicInteger(0)
  def factory(url: String): () => JdbcUpsert.Executor = () => {
    val real = new JdbcUpsert.ConnectionExecutor(url)
    new JdbcUpsert.Executor {
      def apply(sql: String, params: Seq[Any]): Unit = { applyCounted(sql, params); () }
      override def applyCounted(sql: String, params: Seq[Any]): Long = {
        if (failures.getAndDecrement() > 0)
          throw new java.sql.SQLTransientException("injected write failure")
        real.applyCounted(sql, params)
      }
      override def applyBatch(sql: String, rows: Seq[Seq[Any]]): Seq[Long] = {
        if (failures.getAndDecrement() > 0)
          throw new java.sql.SQLTransientException("injected batch failure")
        real.applyBatch(sql, rows)
      }
      override def close(): Unit = real.close()
    }
  }
}

/** JVM-static concurrent key-value store with MERGE semantics — the
  * server-grade stand-in for the fully-parallel executor path. This
  * Spark distribution ships no derbynet.jar (only the Derby client
  * driver), so a real network server cannot be started in-process; this
  * store accepts genuinely concurrent writers (no process-wide lock) and
  * records the peak concurrency so the test can PROVE the sink ran
  * writers in parallel and still lost nothing. */
object ParallelStore {
  val rows = new java.util.concurrent.ConcurrentHashMap[Long, (String, Double)]()
  val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val peak = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { rows.clear(); inFlight.set(0); peak.set(0) }
  def factory: () => JdbcUpsert.Executor = () => new JdbcUpsert.Executor {
    def apply(sql: String, params: Seq[Any]): Unit = { applyCounted(sql, params); () }
    override def applyCounted(sql: String, params: Seq[Any]): Long = {
      val cur = inFlight.incrementAndGet()
      peak.updateAndGet(p => math.max(p, cur))
      try {
        // Derby-dialect binding order for cols=(id,v,n), keys=(id):
        // ON key, UPDATE SET values, INSERT row
        val id = params.head.asInstanceOf[Number].longValue
        val v = params(1).asInstanceOf[String]
        val n = params(2).asInstanceOf[Number].doubleValue
        Thread.sleep(1) // widen the race window
        rows.put(id, (v, n))
        1L
      } finally { inFlight.decrementAndGet(); () }
    }
  }
}

/** LIVE database tests against embedded Derby (on the Spark classpath):
  * the first real execution of the connect → introspect → scan → upsert
  * path (the reference's core loop, `mysql.go:186-380`). Covers S5/S6/S7
  * live introspection, S8 DDL mirroring, S1/S2 partitioned JDBC read,
  * K1-analog MERGE upsert with idempotence and last-writer-wins, and the
  * full JdbcTransfer round-trip. */
class JdbcDerbySpec extends SparkTestBase {

  private lazy val work = {
    val dir = tempDir("derby")
    // derby.log goes to this suite's temp dir, not the repo. The system
    // home stays where it is: the engine keeps the home it booted with
    // for the whole JVM, and a temp-dir home deleted with this suite
    // reappeared, empty, later in the run.
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    // fast deadlock detection: concurrent MERGE writers can deadlock on
    // index page locks; the sink's per-statement Retry absorbs the abort
    System.setProperty("derby.locks.deadlockTimeout", "2")
    System.setProperty("derby.locks.waitTimeout", "10")
    dir
  }
  private lazy val url = s"jdbc:derby:$work/db;create=true"
  private val mig = MigrationSpec(batchSize = 500, rateLimit = 1000000000)

  /** Serializable executor factory: closes over the URL STRING, never
    * the spec instance (foreachPartition serializes the closure). */
  private def factory: () => JdbcUpsert.Executor = {
    val u = url
    () => new JdbcUpsert.ConnectionExecutor(u)
  }

  private def seedUsers(table: String, n: Int): Unit = {
    JdbcCatalog.execute(url,
      s"CREATE TABLE $table (id BIGINT NOT NULL, name VARCHAR(64), bal DOUBLE, PRIMARY KEY (id))")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?)")
      (1 to n).foreach { i =>
        ps.setLong(1, i.toLong); ps.setString(2, s"user#$i"); ps.setDouble(3, i * 1.5)
        ps.addBatch()
      }
      ps.executeBatch()
    }
  }

  test("derby MERGE upsert: insert, update, idempotent re-apply (K1 live)") {
    import spark.implicits._
    JdbcCatalog.execute(url,
      "CREATE TABLE m1 (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(32), n DOUBLE)")
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "v", "n")
    def writeIt(d: org.apache.spark.sql.DataFrame) =
      JdbcUpsert.write(d, JdbcUpsert.Derby, "m1", Seq("id"))(
        factory)
    writeIt(df)
    // update 2, insert 4 — MERGE takes both paths in one pass
    writeIt(Seq((2L, "B", 20.0), (4L, "d", 4.0)).toDF("id", "v", "n"))
    // idempotence: re-applying the same batch is a no-op
    writeIt(Seq((2L, "B", 20.0), (4L, "d", 4.0)).toDF("id", "v", "n"))
    val back = JdbcTransfer.readBack(spark, url, "m1", mig)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(back.toSeq == Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("duplicate keys inside one batch collapse last-writer-wins (MERGE cardinality)") {
    import spark.implicits._
    JdbcCatalog.execute(url,
      "CREATE TABLE m2 (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(32))")
    // same key three times in ONE partition/batch: last occurrence must win
    val df = Seq((1L, "first"), (1L, "second"), (1L, "third"), (2L, "x"))
      .toDF("id", "v").coalesce(1)
    JdbcUpsert.write(df, JdbcUpsert.Derby, "m2", Seq("id"))(
      factory)
    val back = JdbcTransfer.readBack(spark, url, "m2", mig)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq == Seq((1L, "third"), (2L, "x")))
  }

  test("live catalog introspection: columns, PK order, existence (S5/S6/S7)") {
    JdbcCatalog.execute(url,
      "CREATE TABLE cat1 (b BIGINT NOT NULL, a VARCHAR(10), c DECIMAL(12,2), PRIMARY KEY (b))")
    assert(JdbcCatalog.tableExists(url, "cat1"))
    assert(!JdbcCatalog.tableExists(url, "nope"))
    val cols = JdbcCatalog.columns(url, "cat1")
    assert(cols.map(_.name) == Seq("b", "a", "c"), "ordinal order preserved")
    assert(cols.map(_.sqlType) == Seq("BIGINT", "VARCHAR(10)", "DECIMAL(12,2)"))
    assert(cols.find(_.name == "b").exists(!_.nullable))
    assert(JdbcCatalog.primaryKey(url, "cat1") == Seq("b"))
    // composite key comes back in KEY_SEQ order, not alphabetical
    JdbcCatalog.execute(url,
      "CREATE TABLE cat2 (x INT NOT NULL, y INT NOT NULL, PRIMARY KEY (y, x))")
    assert(JdbcCatalog.primaryKey(url, "cat2") == Seq("y", "x"))
  }

  test("DDL mirror reconstructs types + PK at the destination (S8 live)") {
    seedUsers("src8", 5)
    JdbcCatalog.mirrorTable(url, "src8", "dst8")
    assert(JdbcCatalog.tableExists(url, "dst8"))
    assert(JdbcCatalog.columns(url, "dst8").map(_.sqlType) ==
      Seq("BIGINT", "VARCHAR(64)", "DOUBLE"))
    assert(JdbcCatalog.primaryKey(url, "dst8") == Seq("id"))
    JdbcCatalog.mirrorTable(url, "src8", "dst8") // IF NOT EXISTS: second call no-ops
  }

  test("full JdbcTransfer round-trip: introspect → mirror → read → transform → MERGE") {
    seedUsers("users", 300)
    val t = TableMapping("users", targetName = Some("users_new"),
      columnTransformations = Seq(
        ColumnTransformation("name", "UPPER(name)"),
        ColumnTransformation("bal", "bal + 100")))
    val n = JdbcTransfer.transfer(spark, url, t, mig)
    assert(n == 300)
    // re-run: upsert idempotence means an unchanged destination
    assert(JdbcTransfer.transfer(spark, url, t, mig) == 300)
    val back = JdbcTransfer.readBack(spark, url, "users_new", mig)
    assert(back.count() == 300)
    val expect = JdbcTransfer.readBack(spark, url, "users", mig)
      .withColumn("name", expr("UPPER(name)"))
      .withColumn("bal", expr("bal + 100"))
    assert(back.except(expect).isEmpty && expect.except(back).isEmpty)
    // the partitioned read actually partitioned on the introspected pk
    assert(JdbcCatalog.primaryKey(url, "users_new") == Seq("id"))
  }

  test("parallel writer connections upsert disjoint partitions (server-store path)") {
    import spark.implicits._
    // Embedded Derby LOSES rows under concurrent MERGE (pure-JDBC
    // 4-thread repro drops up to ~25% with all statements reporting
    // success) — ConnectionExecutor serializes statements process-wide
    // for in-process embedded URLs. Several rounds, because the loss
    // was intermittent.
    (1 to 5).foreach { round =>
      JdbcCatalog.execute(url,
        s"CREATE TABLE par$round (id BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
      val df = (1L to 400L).map(i => (i, i * 2.0)).toDF("id", "v").repartition(4)
      JdbcUpsert.write(df, JdbcUpsert.Derby, s"par$round", Seq("id"))(factory)
      val back = JdbcTransfer.readBack(spark, url, s"par$round", mig)
      withClue(s"round $round: ")(assert(back.count() == 400))
      assert(back.agg(sum("v")).head.getDouble(0) == (1L to 400L).map(_ * 2.0).sum)
    }
  }

  test("spec-driven multi-table JDBC run (the CLI's jdbc backend path, R1+R11)") {
    import graft.core.{EndpointSpec, TransferSpec}
    seedUsers("cfg_a", 60)
    seedUsers("cfg_b", 40)
    val spec = TransferSpec(
      EndpointSpec("jdbc", path = url, tables = Seq(
        TableMapping("cfg_a", targetName = Some("cfg_a_new"),
          columnTransformations = Seq(ColumnTransformation("name", "UPPER(name)"))),
        TableMapping("cfg_b", targetName = Some("cfg_b_new")))),
      EndpointSpec("jdbc", path = url),
      // runJdbc now CHECKPOINTS (chunked live path): keep the run's
      // checkpoints with the run, or a complete marker from a previous
      // JVM would skip the whole transfer against this fresh database
      mig.copy(checkpointDir = s"$work/cp_cfg"))
    val results = graft.engine.TransferRunner.runJdbc(spark, spec, log = _ => ())
    assert(results.forall(_.outcome.isSuccess),
      graft.engine.TransferRunner.summarize(results))
    assert(JdbcTransfer.readBack(spark, url, "cfg_a_new", mig).count() == 60)
    assert(JdbcTransfer.readBack(spark, url, "cfg_b_new", mig).count() == 40)
    val up = JdbcTransfer.readBack(spark, url, "cfg_a_new", mig)
      .where(col("name") === upper(col("name"))).count()
    assert(up == 60, "transform not applied on the JDBC runner path")
  }

  test("mid-transfer crash then rerun converges (idempotent MERGE recovery)") {
    seedUsers("chaos", 200)
    JdbcCatalog.mirrorTable(url, "chaos", "chaos_new")
    // first attempt dies after ~60 statements with a NON-retryable error
    // (AssertionError escapes the NonFatal retry) — a hard executor
    // crash mid-partition, leaving a partially-written destination
    ChaosProbe.remaining.set(60)
    val u = url
    val flaky: () => JdbcUpsert.Executor = () => {
      val real = new JdbcUpsert.ConnectionExecutor(u)
      new JdbcUpsert.Executor {
        def apply(sql: String, params: Seq[Any]): Unit = { applyCounted(sql, params); () }
        override def applyCounted(sql: String, params: Seq[Any]): Long = {
          if (ChaosProbe.remaining.decrementAndGet() < 0)
            throw new AssertionError("injected mid-transfer crash")
          real.applyCounted(sql, params)
        }
        override def close(): Unit = real.close()
      }
    }
    val src = JdbcTransfer.readBack(spark, url, "chaos", mig)
    intercept[Exception] {
      JdbcUpsert.write(src.coalesce(1), JdbcUpsert.Derby, "chaos_new", Seq("id"))(flaky)
    }
    val partial = JdbcTransfer.readBack(spark, url, "chaos_new", mig).count()
    assert(partial < 200, "crash was injected too late to matter")
    // rerun through the normal path: MERGE re-upserts everything written
    // before the crash and fills in the rest — destination converges
    assert(JdbcTransfer.transfer(spark, url,
      TableMapping("chaos", targetName = Some("chaos_new")), mig) == 200)
    val back = JdbcTransfer.readBack(spark, url, "chaos_new", mig)
    assert(back.count() == 200)
    assert(back.except(JdbcTransfer.readBack(spark, url, "chaos", mig)).isEmpty)
  }

  test("streaming foreachBatch MERGE sink: closed windows land in Derby once") {
    import graft.streaming.StreamingIngest
    StreamingIngest.windowCountsToJdbc(spark, sf, url, "stream_wc")
    val back = JdbcTransfer.readAll(spark, url, "stream_wc")
    val events = graft.sources.Tables(spark, sf, "events")
    val maxTs = events.agg(max("ts")).head.getTimestamp(0)
    val closed = events.groupBy(
        date_trunc("hour", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("w_start") + expr("INTERVAL 1 HOUR") <=
        lit(maxTs) - expr("INTERVAL 1 HOUR"))
    assert(back.count() > 0)
    assert(back.except(closed).isEmpty && closed.except(back).isEmpty,
      "Derby contents must equal the closed-window batch aggregation")
  }

  test("live resume refuses a plan computed over a DIFFERENT key of the same width") {
    import graft.engine.{JdbcTransferJob, TransferControl, TransferOutcome}
    seedUsers("users_swap", 600)
    val cpDir = s"$work/cp_swap"
    val mig2 = MigrationSpec(batchSize = 100, checkpointRowThreshold = 100,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("users_swap", targetName = Some("users_swap_new"))
    val first = new JdbcTransferJob(spark, url, t, mig2,
      control = TransferControl.cancelAfterChecks(2), log = _ => ()).run()
    assert(first.isInstanceOf[TransferOutcome.Interrupted])
    // same tuple width (1), different column: the old width-only check
    // would resume id-domain bounds as bal predicates and skip rows
    val swapped = t.copy(primaryKey = Some("bal"))
    val e = intercept[IllegalArgumentException] {
      new JdbcTransferJob(spark, url, swapped, mig2, log = _ => ()).run()
    }
    assert(e.getMessage.contains("computed over key"), e.getMessage)
  }

  test("one-shot JdbcTransfer handles a non-numeric key via the unified chunked planner") {
    // the old standalone one-shot pipeline refused VARCHAR keys; the
    // consolidation into JdbcTransferJob (VERDICT r5 #6) routes them
    // through the rank-probe plan — and leaves NO checkpoint artifacts
    JdbcCatalog.execute(url,
      "CREATE TABLE vkey_oneshot (name VARCHAR(32) NOT NULL PRIMARY KEY, v DOUBLE)")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO vkey_oneshot VALUES (?, ?)")
      (1 to 300).foreach { i => ps.setString(1, f"k$i%04d"); ps.setDouble(2, i); ps.addBatch() }
      ps.executeBatch()
    }
    val t = TableMapping("vkey_oneshot", targetName = Some("vkey_oneshot_new"))
    assert(JdbcTransfer.transfer(spark, url, t, mig) == 300)
    assert(JdbcTransfer.transfer(spark, url, t, mig) == 300) // stateless rerun
    assert(JdbcTransfer.readAll(spark, url, "vkey_oneshot_new").count() == 300)
    // stateless: no resume file anywhere (an empty checkpoint dir is the
    // job's no-state sentinel; the spec's default dir must stay unused)
    assert(!new java.io.File("./data/checkpoints").exists(),
      "one-shot transfer must not write checkpoint files")
  }

  test("chunked live transfer: kill, checkpoint, resume re-writes only the tail (R4/R8 live)") {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferControl, TransferOutcome}
    seedUsers("users_kr", 1000)
    val cpDir = s"$work/cp_kr"
    val mig2 = MigrationSpec(batchSize = 200, checkpointRowThreshold = 200,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("users_kr", targetName = Some("users_kr_new"),
      columnTransformations = Seq(ColumnTransformation("bal", "bal * 2")))
    // 1000 dense keys / 200-row chunks → 5-chunk plan; kill after 2 checks
    val first = new JdbcTransferJob(spark, url, t, mig2,
      control = TransferControl.cancelAfterChecks(2), log = _ => ()).run()
    assert(first.isInstanceOf[TransferOutcome.Interrupted])
    val cp = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    assert(!cp.complete && cp.chunkIndex == 1,
      s"expected prefix checkpoint at chunk 1, got $cp")
    assert(cp.bounds.size == 5 && cp.totalRows == 1000,
      s"plan must be persisted in the checkpoint, got $cp")
    // resume with a COUNTING executor: exactly the rows ABOVE the
    // checkpointed bound may be merged — a full 1000-row rewrite means
    // the checkpoint was ignored
    val tail = JdbcCatalog.withConnection(url) { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT COUNT(*) FROM users_kr WHERE id > ${cp.bounds(cp.chunkIndex)}")
        rs.next(); rs.getLong(1)
      } finally st.close()
    }
    assert(tail > 0 && tail < 1000, s"kill landed at a useless point: tail=$tail")
    CountingExec.statements.set(0)
    val second = new JdbcTransferJob(spark, url, t, mig2, log = _ => (),
      executorFactory = CountingExec.factory(url)).run()
    assert(second == TransferOutcome.Completed)
    assert(CountingExec.statements.get == tail,
      s"resume must re-write only the $tail rows above the checkpoint, " +
        s"merged ${CountingExec.statements.get}")
    // resumed plan came from the checkpoint — same bounds, now complete
    val done = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    assert(done.complete && done.bounds == cp.bounds)
    // destination equals the transformed source
    val back = JdbcTransfer.readBack(spark, url, "users_kr_new", mig2)
    val expect = JdbcTransfer.readBack(spark, url, "users_kr", mig2)
      .withColumn("bal", expr("bal * 2"))
    assert(back.count() == 1000)
    assert(back.except(expect).isEmpty && expect.except(back).isEmpty)
    // skip-if-complete: a third run is a no-op (R6)
    assert(new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run() ==
      TransferOutcome.SkippedComplete)
  }

  test("VARCHAR PK gets a rank-probe chunk plan with string bounds (VERDICT r3 #2)") {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferControl, TransferOutcome}
    JdbcCatalog.execute(url, "CREATE TABLE vkey (" +
      "k VARCHAR(16) NOT NULL PRIMARY KEY, v DOUBLE)")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO vkey VALUES (?, ?)")
      (1 to 100).foreach { i =>
        ps.setString(1, f"K$i%04d"); ps.setDouble(2, i * 1.0); ps.addBatch()
      }
      ps.executeBatch()
    }
    val cpDir = s"$work/cp_vk"
    val mig2 = MigrationSpec(batchSize = 25, checkpointRowThreshold = 25,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("vkey", targetName = Some("vkey_new"),
      columnTransformations = Seq(ColumnTransformation("v", "v + 1")))
    val first = new JdbcTransferJob(spark, url, t, mig2,
      control = TransferControl.cancelAfterChecks(1), log = _ => ()).run()
    assert(first.isInstanceOf[TransferOutcome.Interrupted])
    val cp = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    // 100 rows / 25-row chunks → 4 bounds, each an EXACT stored key
    assert(cp.bounds == Seq("K0025", "K0050", "K0075", "K0100"),
      s"rank-probe bounds must be stored keys, got ${cp.bounds}")
    val second = new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run()
    assert(second == TransferOutcome.Completed)
    val back = JdbcTransfer.readAll(spark, url, "vkey_new")
    assert(back.count() == 100)
    assert(back.agg(sum("v")).head.getDouble(0) == (1 to 100).map(_ + 1.0).sum)
  }

  test("fully-parallel executor path: concurrent writers, no loss, LWW (VERDICT r3 #3)") {
    import spark.implicits._
    // No derbynet.jar ships with this Spark distribution, so a real
    // network server cannot run in-process; ParallelStore accepts
    // genuinely concurrent MERGE writers instead. 4 Spark partitions,
    // no coalesce, no process-wide lock.
    ParallelStore.reset()
    val df = (1L to 800L).map(i => (i, s"v$i", i * 2.0)).toDF("id", "v", "n")
      .repartition(4)
    val written = JdbcUpsert.write(df, JdbcUpsert.Derby, "fake", Seq("id"))(
      ParallelStore.factory)
    assert(written == 800, s"accumulator reported $written")
    assert(ParallelStore.rows.size == 800, "row loss on the parallel path")
    assert(ParallelStore.peak.get > 1,
      s"writers never overlapped (peak ${ParallelStore.peak.get}) — " +
        "the parallel path was not exercised")
    assert(ParallelStore.rows.get(400L) == (("v400", 800.0)))
    // last-writer-wins on replay
    JdbcUpsert.write(Seq((400L, "V400", 0.0)).toDF("id", "v", "n"),
      JdbcUpsert.Derby, "fake", Seq("id"))(ParallelStore.factory)
    assert(ParallelStore.rows.get(400L) == (("V400", 0.0)))
    // and the URL classifier routes server URLs to this unserialized path
    assert(!JdbcUpsert.isEmbeddedUrl("jdbc:derby://localhost:1527/db"))
    assert(JdbcUpsert.isEmbeddedUrl("jdbc:derby:/tmp/x/db;create=true"))
  }

  test("live transfer honours the shared rate limiter (R2 on the JDBC path)") {
    import graft.engine.{JdbcTransferJob, RateLimiter, TransferOutcome}
    seedUsers("users_rl", 400)
    val slept = new java.util.concurrent.atomic.AtomicLong(0)
    // virtual clock: no real time passes, every sleep is recorded
    val clock = new java.util.concurrent.atomic.AtomicLong(0)
    val limiter = new RateLimiter(100, now = () => clock.get(),
      sleep = ms => { slept.addAndGet(ms); clock.addAndGet(ms); () })
    val mig2 = MigrationSpec(batchSize = 100, checkpointRowThreshold = 100,
      rateLimit = 100, checkpointDir = s"$work/cp_rl")
    val t = TableMapping("users_rl", targetName = Some("users_rl_new"))
    val out = new JdbcTransferJob(spark, url, t, mig2, log = _ => (),
      sharedLimiter = Some(limiter)).run()
    assert(out == TransferOutcome.Completed)
    // 400 rows at 100 rows/s on a frozen clock → ~4 s of enforced sleep
    assert(slept.get >= 3000,
      s"limiter was not consulted on the live path (slept ${slept.get} ms)")
    assert(JdbcTransfer.readBack(spark, url, "users_rl_new", mig2).count() == 400)
  }

  test("rate pacing applies INSIDE a chunk, per statement batch (VERDICT r5 #4)") {
    import graft.engine.{JdbcTransferJob, TransferOutcome}
    // ONE chunk of 1200 rows (threshold 1200) split into 4 statement
    // batches of 300: without sub-chunk pacing every batch fires
    // back-to-back and the driver only sleeps AFTER the chunk — the
    // batch timestamps must instead spread across the chunk.
    seedUsers("users_pace", 1200)
    BatchClockExec.stamps.clear()
    val mig2 = MigrationSpec(batchSize = 300, checkpointRowThreshold = 1200,
      rateLimit = 2400, chunkParallelism = 1, checkpointDir = s"$work/cp_pace")
    val t = TableMapping("users_pace", targetName = Some("users_pace_new"))
    val out = new JdbcTransferJob(spark, url, t, mig2, log = _ => (),
      executorFactory = BatchClockExec.factory(url)).run()
    assert(out == TransferOutcome.Completed)
    assert(JdbcTransfer.readBack(spark, url, "users_pace_new", mig2).count() == 1200)
    val ts = BatchClockExec.stamps.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
    assert(ts.length == 4, s"expected 4 statement batches, saw ${ts.length}")
    // slice = 2400/s ÷ (1 writer × 1 chunk) → batches 2-4 acquire 300
    // rows each ≈ 125 ms apart; demand ≥ 250 ms total spread (a
    // no-pacing run measures ~0-20 ms)
    val spreadMs = (ts.last - ts.head) / 1000000L
    assert(spreadMs >= 250,
      s"statement batches were not paced within the chunk (spread $spreadMs ms)")
  }

  test("numeric chunk plan is row-exact under key skew (keyset bounds)") {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferOutcome}
    // 900 keys packed into 0.1% of the range + 100 spread to 1M: an even
    // VALUE-split would put 90% of the rows in the first chunk
    JdbcCatalog.execute(url, "CREATE TABLE skew (" +
      "k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO skew VALUES (?, ?)")
      (1 to 900).foreach { i => ps.setLong(1, i.toLong); ps.setDouble(2, i); ps.addBatch() }
      (1 to 100).foreach { i => ps.setLong(1, i * 10000L); ps.setDouble(2, i); ps.addBatch() }
      ps.executeBatch()
    }
    val cpDir = s"$work/cp_skew"
    val mig2 = MigrationSpec(batchSize = 200, checkpointRowThreshold = 200,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("skew", targetName = Some("skew_new"))
    val out = new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run()
    assert(out == TransferOutcome.Completed)
    val cp = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    // 1000 rows / 200-row chunks → 5 bounds; the dense region must be
    // CUT — at least 3 bounds land inside keys <= 1000 (an even split
    // would put every bound far above it)
    val dense = cp.bounds.count(BigDecimal(_) <= 1000)
    assert(cp.bounds.size == 5 && dense >= 3,
      s"plan failed to split the dense region: ${cp.bounds}")
    // row-exact chunks: every chunk but the last holds exactly total / n
    // rows (the last takes the remainder)
    val counts = cp.bounds.indices.map { i =>
      val lo = if (i == 0) "" else s"k > ${cp.bounds(i - 1)} AND "
      JdbcCatalog.withConnection(url) { c =>
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT COUNT(*) FROM skew WHERE ${lo}k <= ${cp.bounds(i)}")
          rs.next(); rs.getLong(1)
        } finally st.close()
      }
    }
    assert(counts.sum == 1000)
    val per = 1000L / counts.size
    assert(counts.init.forall(_ == per) && counts.last == 1000L - per * (counts.size - 1),
      s"chunks are not row-exact: $counts (bounds ${cp.bounds})")
    val back = JdbcTransfer.readAll(spark, url, "skew_new")
    assert(back.count() == 1000)
  }

  test("resume continues a stored numeric plan whose bounds are not stored keys") {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferControl, TransferOutcome}
    // even keys 2..2000; the planted plan's inner bounds are odd — range
    // edges of an older numeric planner that no row carries
    JdbcCatalog.execute(url, "CREATE TABLE oddb (" +
      "id BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO oddb VALUES (?, ?)")
      (1 to 1000).foreach { i => ps.setLong(1, 2L * i); ps.setDouble(2, i); ps.addBatch() }
      ps.executeBatch()
    }
    val cpDir = s"$work/cp_oddb"
    val mig2 = MigrationSpec(batchSize = 200, checkpointRowThreshold = 200,
      rateLimit = 1000000000, chunkParallelism = 1, checkpointDir = cpDir)
    val t = TableMapping("oddb", targetName = Some("oddb_new"))
    val name = JdbcTransferJob.checkpointName(url, t)
    // an interrupted run lands ids <= 800 at the destination…
    assert(new JdbcTransferJob(spark, url, t, mig2,
      control = TransferControl.cancelAfterChecks(2), log = _ => ()).run() ==
      TransferOutcome.Interrupted(2))
    // …and the checkpoint it left is replaced by the older planner's
    // in-flight plan, two chunks done (ids <= 701)
    val planted = Seq("301", "701", "1101", "1501", "2000")
    Checkpoint.save(cpDir, "jdbc", name, Checkpoint(Map("id" -> "701"),
      System.currentTimeMillis(), complete = false, chunkIndex = 1,
      bounds = planted, totalRows = 1000, keyCols = Seq("id")))
    CountingExec.statements.set(0)
    assert(new JdbcTransferJob(spark, url, t, mig2, log = _ => (),
      executorFactory = CountingExec.factory(url)).run() == TransferOutcome.Completed)
    // ids 702..2000; a fresh plan would resume above 800 (600 rows)
    assert(CountingExec.statements.get == 650,
      s"resume must merge exactly the 650 rows above 701, merged ${CountingExec.statements.get}")
    val done = Checkpoint.load(cpDir, "jdbc", name).get
    assert(done.complete && done.bounds == planted, done.toString)
    val back = JdbcTransfer.readAll(spark, url, "oddb_new")
    val src = JdbcTransfer.readAll(spark, url, "oddb")
    assert(back.count() == 1000)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("DECIMAL PK gets an exact numeric chunk plan at the key's scale") {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferOutcome}
    JdbcCatalog.execute(url, "CREATE TABLE dkey (" +
      "k DECIMAL(12,2) NOT NULL PRIMARY KEY, v DOUBLE)")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO dkey VALUES (?, ?)")
      (1 to 200).foreach { i =>
        ps.setBigDecimal(1, new java.math.BigDecimal(s"$i.25"))
        ps.setDouble(2, i * 1.0); ps.addBatch()
      }
      ps.executeBatch()
    }
    val cpDir = s"$work/cp_dk"
    val mig2 = MigrationSpec(batchSize = 50, checkpointRowThreshold = 50,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("dkey", targetName = Some("dkey_new"))
    val out = new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run()
    assert(out == TransferOutcome.Completed)
    val cp = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    // plan bounds carry the key's scale, final bound is the exact max
    assert(cp.bounds.size == 4 && cp.bounds.last == "200.25",
      s"expected 4 scale-2 bounds ending at the exact max, got ${cp.bounds}")
    assert(cp.bounds.forall(_.contains(".")), s"scale lost: ${cp.bounds}")
    val back = JdbcTransfer.readAll(spark, url, "dkey_new")
    assert(back.count() == 200)
    assert(back.agg(sum("v")).head.getDouble(0) == (1 to 200).map(_ * 1.0).sum)
  }

  test("TIMESTAMP PK gets rank-probe bounds with typed temporal literals") {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferOutcome}
    JdbcCatalog.execute(url, "CREATE TABLE tkey (" +
      "k TIMESTAMP NOT NULL PRIMARY KEY, v DOUBLE)")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO tkey VALUES (?, ?)")
      (1 to 120).foreach { i =>
        ps.setTimestamp(1, java.sql.Timestamp.valueOf(
          f"2024-01-${i / 60 + 1}%02d 00:${i % 60}%02d:00"))
        ps.setDouble(2, i * 1.0); ps.addBatch()
      }
      ps.executeBatch()
    }
    val cpDir = s"$work/cp_tk"
    val mig2 = MigrationSpec(batchSize = 30, checkpointRowThreshold = 30,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("tkey", targetName = Some("tkey_new"))
    val out = new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run()
    assert(out == TransferOutcome.Completed)
    val cp = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    assert(cp.bounds.size == 4 && cp.bounds.forall(_.startsWith("2024-01-")),
      s"expected 4 timestamp rank bounds, got ${cp.bounds}")
    val back = JdbcTransfer.readAll(spark, url, "tkey_new")
    assert(back.count() == 120)
    assert(back.agg(sum("v")).head.getDouble(0) == (1 to 120).map(_ * 1.0).sum)
  }

  test("streaming JDBC sink across a rerun converges (ADVICE r3)") {
    import graft.streaming.StreamingIngest
    StreamingIngest.windowCountsToJdbc(spark, sf, url, "stream_par")
    val first = JdbcTransfer.readAll(spark, url, "stream_par")
    val n = first.count()
    assert(n > 0)
    // rerun: probe-then-create must fall through to the idempotent MERGE
    // instead of dying on table-already-exists
    StreamingIngest.windowCountsToJdbc(spark, sf, url, "stream_par")
    val second = JdbcTransfer.readAll(spark, url, "stream_par")
    assert(second.count() == n, "rerun must converge, not duplicate")
  }

  test("live kill+resume invariant: any kill point converges to the uninterrupted result") {
    import graft.engine.{JdbcTransferJob, TransferControl, TransferOutcome}
    seedUsers("users_kp", 600)
    val expect = JdbcTransfer.readBack(spark, url, "users_kp", mig)
      .withColumn("bal", expr("bal * 3"))
    // kill after 1..5 chunk checks (6-chunk plan at batch 100): every
    // kill point must resume to the same destination
    (1 to 5).foreach { kp =>
      val cpDir = s"$work/cp_kp$kp"
      val mig2 = MigrationSpec(batchSize = 100, checkpointRowThreshold = 100,
        rateLimit = 1000000000, checkpointDir = cpDir)
      val t = TableMapping("users_kp", targetName = Some(s"users_kp_$kp"),
        columnTransformations = Seq(ColumnTransformation("bal", "bal * 3")))
      new JdbcTransferJob(spark, url, t, mig2,
        control = TransferControl.cancelAfterChecks(kp), log = _ => ()).run()
      val resumed = new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run()
      withClue(s"kill point $kp: ") {
        assert(resumed == TransferOutcome.Completed ||
          resumed == TransferOutcome.SkippedComplete)
        val back = JdbcTransfer.readBack(spark, url, s"users_kp_$kp", mig)
        assert(back.count() == 600)
        assert(back.except(expect).isEmpty && expect.except(back).isEmpty,
          "resumed destination diverged from the uninterrupted result")
      }
    }
  }

  test("live wave contract: every chunk_parallelism and kill point") {
    import org.apache.spark.sql.Row
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferControl, TransferOutcome}
    // 400 dense keys / 100-row chunks → 4-chunk plan; a wave is up to
    // chunk_parallelism chunks read by one JDBC scan and MERGEd once
    seedUsers("users_wave", 400)
    def rows(target: String): Map[Row, Int] =
      JdbcTransfer.readAll(spark, url, target).collect().toSeq
        .groupBy(identity).map { case (r, rs) => r -> rs.size }
    def mapping(target: String) = TableMapping("users_wave", targetName = Some(target),
      columnTransformations = Seq(ColumnTransformation("bal", "bal * 3")))
    for (p <- 1 to 4) {
      def mig2(tag: String) = MigrationSpec(batchSize = 100, checkpointRowThreshold = 100,
        rateLimit = 1000000000, chunkParallelism = p, checkpointDir = s"$work/cp_wave_$tag")
      val ref = mapping(s"users_wave_${p}_ref")
      assert(new JdbcTransferJob(spark, url, ref, mig2(s"${p}_ref"), log = _ => ()).run() ==
        TransferOutcome.Completed)
      val expect = rows(ref.target)
      assert(expect.values.sum == 400)
      for (k <- 0 to 4) withClue(s"chunk_parallelism $p, kill point $k: ") {
        val t = mapping(s"users_wave_${p}_$k")
        val m = mig2(s"${p}_$k")
        val out = new JdbcTransferJob(spark, url, t, m,
          control = TransferControl.cancelAfterChecks(k), log = _ => ()).run()
        if (k == 4) assert(out == TransferOutcome.Completed)
        else {
          assert(out == TransferOutcome.Interrupted(k))
          val cp = Checkpoint.load(m.checkpointDir, "jdbc",
            JdbcTransferJob.checkpointName(url, t)).get
          assert(!cp.complete && cp.chunkIndex == k - 1 && cp.bounds.size == 4, cp.toString)
          assert(new JdbcTransferJob(spark, url, t, m, log = _ => ()).run() ==
            TransferOutcome.Completed)
        }
        assert(rows(t.target) == expect, "resumed destination differs from an uninterrupted run")
      }
    }
  }

  test("live chunk writes retry through transient failures and converge") {
    import graft.engine.{JdbcTransferJob, TransferOutcome}
    seedUsers("users_fl", 300)
    // first TWO write attempts fail (sink-level per-statement retry is
    // bypassed by the thrown SQLTransientException reaching the
    // chunk-level Retry) — the transfer must still complete exactly
    FlakyExec.failures.set(2)
    val mig2 = MigrationSpec(batchSize = 100, checkpointRowThreshold = 100,
      rateLimit = 1000000000, checkpointDir = s"$work/cp_fl")
    val t = TableMapping("users_fl", targetName = Some("users_fl_new"),
      columnTransformations = Seq(ColumnTransformation("bal", "bal * 2")))
    val out = new JdbcTransferJob(spark, url, t, mig2, log = _ => (),
      executorFactory = FlakyExec.factory(url)).run()
    assert(out == TransferOutcome.Completed)
    val back = JdbcTransfer.readBack(spark, url, "users_fl_new", mig2)
    assert(back.count() == 300)
    val expect = JdbcTransfer.readBack(spark, url, "users_fl", mig2)
      .withColumn("bal", expr("bal * 2"))
    assert(back.except(expect).isEmpty && expect.except(back).isEmpty,
      "post-retry destination diverged")
  }

  test("cross-database transfer mirrors and MERGEs into the DESTINATION database") {
    import graft.engine.{JdbcTransferJob, TransferOutcome}
    seedUsers("xdb_src", 120)
    val destWork = tempDir("derbydst")
    val destUrl = s"jdbc:derby:$destWork/db2;create=true"
    val mig2 = MigrationSpec(batchSize = 500, rateLimit = 1000000000,
      checkpointDir = s"$work/cp_xdb")
    val t = TableMapping("xdb_src", targetName = Some("xdb_dst"),
      columnTransformations = Seq(ColumnTransformation("bal", "bal + 1")))
    val out = new JdbcTransferJob(spark, url, t, mig2,
      destinationUrl = destUrl, log = _ => ()).run()
    assert(out == TransferOutcome.Completed)
    assert(!JdbcCatalog.tableExists(url, "xdb_dst"),
      "destination table leaked into the SOURCE database")
    assert(JdbcCatalog.tableExists(destUrl, "xdb_dst"))
    val back = JdbcTransfer.readAll(spark, destUrl, "xdb_dst")
    assert(back.count() == 120)
    assert(back.agg(sum("bal")).head.getDouble(0) ==
      (1 to 120).map(_ * 1.5 + 1).sum)
  }

  test("metadata probes treat underscores as literals, not LIKE wildcards") {
    // Derby's getTables/getColumns patterns wildcard `_` and declare NO
    // escape string — an unfiltered probe for wca_b would match wcaxb
    JdbcCatalog.execute(url, "CREATE TABLE WCAXB (x INT)")
    assert(!JdbcCatalog.tableExists(url, "wca_b"),
      "existence probe wildcard-matched a sibling table")
    JdbcCatalog.execute(url, "CREATE TABLE WCA_B (y BIGINT NOT NULL PRIMARY KEY)")
    assert(JdbcCatalog.tableExists(url, "wca_b"))
    val cols = JdbcCatalog.columns(url, "wca_b")
    assert(cols.map(_.name) == Seq("y"),
      s"column inventory leaked from a wildcard-matched sibling: $cols")
  }

  test("transfer refuses a PK-less live table (reference mysql.go:216-218)") {
    JdbcCatalog.execute(url, "CREATE TABLE nopk (a INT, b INT)")
    val e = intercept[IllegalArgumentException] {
      JdbcTransfer.transfer(spark, url, TableMapping("nopk"), mig)
    }
    assert(e.getMessage.contains("primary key"))
  }

  test("schema evolution: source gains a column; evolve_schema re-transfer adds + backfills it") {
    seedUsers("users_evo", 400)
    val t0 = TableMapping("users_evo", targetName = Some("users_evo_new"))
    assert(JdbcTransfer.transfer(spark, url, t0, mig) == 400)
    // the source gains a column and fills it; the destination lags behind
    JdbcCatalog.execute(url, "ALTER TABLE users_evo ADD COLUMN score INT")
    JdbcCatalog.execute(url, "UPDATE users_evo SET score = CAST(id * 2 AS INT)")
    // default behavior: no silent drop — the widened MERGE fails loudly
    intercept[Exception] { JdbcTransfer.transfer(spark, url, t0, mig) }
    // opted in: the destination is ALTERed (nullable) and the keyed MERGE
    // backfills every transferred row
    val t1 = t0.copy(evolveSchema = true)
    assert(JdbcTransfer.transfer(spark, url, t1, mig) == 400)
    val evolved = JdbcCatalog.columns(url, "users_evo_new").find(_.name == "score")
    assert(evolved.isDefined, "evolved column missing at the destination")
    assert(evolved.get.nullable, "evolved column must be added NULLABLE — " +
      "the destination already holds rows with no value for it")
    val back = JdbcTransfer.readBack(spark, url, "users_evo_new", mig)
    assert(back.count() == 400)
    assert(back.where(expr("score = CAST(id * 2 AS INT)")).count() == 400)
    // evolution with a missing destination falls back to the plain mirror
    val t2 = TableMapping("users_evo", targetName = Some("users_evo_new2"),
      evolveSchema = true)
    assert(JdbcTransfer.transfer(spark, url, t2, mig) == 400)
    assert(JdbcCatalog.columns(url, "users_evo_new2").map(_.name).contains("score"))
    // destination-only columns survive evolution (strictly additive)
    JdbcCatalog.execute(url, "ALTER TABLE users_evo_new ADD COLUMN dest_only VARCHAR(8)")
    assert(JdbcTransfer.transfer(spark, url, t1, mig) == 400)
    assert(JdbcCatalog.columns(url, "users_evo_new").map(_.name).contains("dest_only"))
  }

  test("incremental sync: completed transfer re-run appends ONLY the delta; no-op when no new rows") {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferOutcome}
    seedUsers("users_inc", 600)
    val cpDir = s"$work/cp_inc"
    val mig2 = MigrationSpec(batchSize = 100, checkpointRowThreshold = 100,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("users_inc", targetName = Some("users_inc_new"),
      incremental = true)
    val j1 = new JdbcTransferJob(spark, url, t, mig2, log = _ => ())
    assert(j1.run() == TransferOutcome.Completed && j1.rowsWritten == 600)
    // no new rows: Completed with ZERO merges, checkpoint untouched
    CountingExec.statements.set(0)
    assert(new JdbcTransferJob(spark, url, t, mig2, log = _ => (),
      executorFactory = CountingExec.factory(url)).run() == TransferOutcome.Completed)
    assert(CountingExec.statements.get == 0,
      s"no-op delta merged ${CountingExec.statements.get} rows")
    // append 250 rows; the incremental run merges ONLY those
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO users_inc VALUES (?, ?, ?)")
      (601 to 850).foreach { i =>
        ps.setLong(1, i.toLong); ps.setString(2, s"user#$i"); ps.setDouble(3, i * 1.5)
        ps.addBatch()
      }
      ps.executeBatch()
    }
    CountingExec.statements.set(0)
    val j3 = new JdbcTransferJob(spark, url, t, mig2, log = _ => (),
      executorFactory = CountingExec.factory(url))
    assert(j3.run() == TransferOutcome.Completed)
    assert(CountingExec.statements.get == 250,
      s"delta run must merge exactly the 250 new rows, merged ${CountingExec.statements.get}")
    assert(j3.rowsWritten == 250)
    val back = JdbcTransfer.readBack(spark, url, "users_inc_new", mig2)
    assert(back.count() == 850)
    val src = JdbcTransfer.readBack(spark, url, "users_inc", mig2)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    // checkpoint stays COMPACT: sentinel + delta bounds, complete, and
    // its last bound is the new max (the next delta's base)
    val cp = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    assert(cp.complete && cp.bounds.last == "850", cp.toString)
    assert(cp.bounds.size <= 1 + 250 / 100 + 1, s"checkpoint not compacted: ${cp.bounds.size} bounds")
    // a NON-incremental mapping still skips the complete checkpoint (R6)
    assert(new JdbcTransferJob(spark, url, t.copy(incremental = false), mig2,
      log = _ => ()).run() == TransferOutcome.SkippedComplete)
  }

  test("incremental sync: kill mid-delta resumes the delta; varchar keys walk the tail") {
    import graft.engine.{JdbcTransferJob, TransferControl, TransferOutcome}
    // numeric: kill inside the delta, resume converges
    seedUsers("users_inck", 500)
    val mig2 = MigrationSpec(batchSize = 50, checkpointRowThreshold = 50,
      rateLimit = 1000000000, checkpointDir = s"$work/cp_inck")
    val t = TableMapping("users_inck", targetName = Some("users_inck_new"),
      incremental = true)
    assert(new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run() ==
      TransferOutcome.Completed)
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO users_inck VALUES (?, ?, ?)")
      (501 to 800).foreach { i =>
        ps.setLong(1, i.toLong); ps.setString(2, s"user#$i"); ps.setDouble(3, i * 1.5)
        ps.addBatch()
      }
      ps.executeBatch()
    }
    val killed = new JdbcTransferJob(spark, url, t, mig2,
      control = TransferControl.cancelAfterChecks(2), log = _ => ()).run()
    assert(killed.isInstanceOf[TransferOutcome.Interrupted], killed.toString)
    assert(new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run() ==
      TransferOutcome.Completed)
    assert(JdbcTransfer.readBack(spark, url, "users_inck_new", mig2).count() == 800)
    // varchar PK: zero-padded keys append ABOVE the old max in key order
    JdbcCatalog.execute(url,
      "CREATE TABLE vinc (name VARCHAR(16) NOT NULL PRIMARY KEY, v DOUBLE)")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO vinc VALUES (?, ?)")
      (1 to 300).foreach { i => ps.setString(1, f"k$i%04d"); ps.setDouble(2, i); ps.addBatch() }
      ps.executeBatch()
    }
    val tv = TableMapping("vinc", targetName = Some("vinc_new"), incremental = true)
    val mv = mig2.copy(checkpointDir = s"$work/cp_vinc")
    assert(new JdbcTransferJob(spark, url, tv, mv, log = _ => ()).run() ==
      TransferOutcome.Completed)
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO vinc VALUES (?, ?)")
      (301 to 400).foreach { i => ps.setString(1, f"k$i%04d"); ps.setDouble(2, i); ps.addBatch() }
      ps.executeBatch()
    }
    CountingExec.statements.set(0)
    val jv = new JdbcTransferJob(spark, url, tv, mv, log = _ => (),
      executorFactory = CountingExec.factory(url))
    assert(jv.run() == TransferOutcome.Completed)
    assert(CountingExec.statements.get == 100,
      s"varchar delta must merge exactly 100 rows, merged ${CountingExec.statements.get}")
    assert(JdbcTransfer.readAll(spark, url, "vinc_new").count() == 400)
    // stateless incremental refuses loudly
    val e = intercept[IllegalArgumentException] {
      new JdbcTransferJob(spark, url, tv, mv.copy(checkpointDir = ""), log = _ => ()).run()
    }
    assert(e.getMessage.contains("incremental"))
  }

  test("composite PK plans on the FULL key tuple — low-cardinality leading column (VERDICT r4 #1)") {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferControl, TransferOutcome}
    JdbcCatalog.execute(url, "CREATE TABLE comp (" +
      "region VARCHAR(4) NOT NULL, id BIGINT NOT NULL, v DOUBLE, " +
      "PRIMARY KEY (region, id))")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO comp VALUES (?, ?, ?)")
      // 5 regions × 200 ids: a plan keyed on pk.head alone could never
      // produce more than 5 chunks (and checkpoint granularity dies)
      for (r <- 0 until 5; i <- 1 to 200) {
        ps.setString(1, s"R$r"); ps.setLong(2, i.toLong)
        ps.setDouble(3, i * 1.0); ps.addBatch()
      }
      ps.executeBatch()
    }
    val cpDir = s"$work/cp_comp"
    val mig2 = MigrationSpec(batchSize = 125, checkpointRowThreshold = 125,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("comp", targetName = Some("comp_new"),
      columnTransformations = Seq(ColumnTransformation("v", "v * 2")))
    val first = new JdbcTransferJob(spark, url, t, mig2,
      control = TransferControl.cancelAfterChecks(2), log = _ => ()).run()
    assert(first.isInstanceOf[TransferOutcome.Interrupted])
    val cp = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    // 1000 rows / 125-row chunks → 8 tuple bounds, each over BOTH key
    // columns — far more than the 5 a pk.head plan could reach
    assert(cp.bounds.isEmpty && cp.boundCols.size == 8,
      s"expected an 8-chunk tuple plan, got $cp")
    assert(cp.boundCols.forall(_.size == 2),
      s"each bound must carry the full key tuple: ${cp.boundCols}")
    assert(cp.boundCols.exists(b => b(1).toLong != 200L),
      s"no bound cuts MID-region — the plan did not rank the full tuple: ${cp.boundCols}")
    // the kill checkpointed a tuple prefix (both key columns in last_key)
    assert(cp.lastKey.keySet == Set("region", "id"), s"lastKey: ${cp.lastKey}")
    // disjoint + complete + row-balanced: each chunk range holds EXACTLY
    // total/n rows (rank-walk quantiles are row-exact) and they sum to
    // the table
    def gt(b: Seq[String]) =
      s"(region > '${b(0)}' OR (region = '${b(0)}' AND id > ${b(1)}))"
    def le(b: Seq[String]) =
      s"(region < '${b(0)}' OR (region = '${b(0)}' AND id <= ${b(1)}))"
    val counts = cp.boundCols.indices.map { i =>
      val lo = if (i == 0) "" else s"${gt(cp.boundCols(i - 1))} AND "
      JdbcCatalog.withConnection(url) { c =>
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            s"SELECT COUNT(*) FROM comp WHERE $lo${le(cp.boundCols(i))}")
          rs.next(); rs.getLong(1)
        } finally st.close()
      }
    }
    assert(counts.sum == 1000 && counts.forall(_ == 125L),
      s"tuple chunks must be disjoint, complete and row-exact: $counts")
    // resume continues the SAME tuple plan to completion
    val second = new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run()
    assert(second == TransferOutcome.Completed)
    val done = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    assert(done.complete && done.boundCols == cp.boundCols)
    val back = JdbcTransfer.readAll(spark, url, "comp_new")
    assert(back.count() == 1000)
    assert(back.agg(sum("v")).head.getDouble(0) ==
      5 * (1 to 200).map(_ * 2.0).sum)
  }

  test("composite key mixing VARCHAR and TIMESTAMP columns transfers with kill/resume") {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferControl, TransferOutcome}
    // temporal literals ride INSIDE tuple comparisons here ({ts '…'}
    // JDBC escapes within the expanded OR form) — a quoting or
    // precedence slip would corrupt chunk predicates silently
    JdbcCatalog.execute(url, "CREATE TABLE mixed (" +
      "region VARCHAR(4) NOT NULL, created TIMESTAMP NOT NULL, v DOUBLE, " +
      "PRIMARY KEY (region, created))")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO mixed VALUES (?, ?, ?)")
      for (r <- 0 until 3; i <- 0 until 120) {
        ps.setString(1, s"R$r")
        ps.setTimestamp(2, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(i * 7L)))
        ps.setDouble(3, i * 1.0); ps.addBatch()
      }
      ps.executeBatch()
    }
    val cpDir = s"$work/cp_mixed"
    val mig2 = MigrationSpec(batchSize = 60, checkpointRowThreshold = 60,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("mixed", targetName = Some("mixed_new"),
      columnTransformations = Seq(ColumnTransformation("v", "v + 1")))
    val first = new JdbcTransferJob(spark, url, t, mig2,
      control = TransferControl.cancelAfterChecks(2), log = _ => ()).run()
    assert(first.isInstanceOf[TransferOutcome.Interrupted])
    val cp = Checkpoint.load(cpDir, "jdbc", JdbcTransferJob.checkpointName(url, t)).get
    // 360 rows / 60-row chunks → 6 tuple bounds; timestamps mid-region
    assert(cp.boundCols.size == 6 && cp.boundCols.forall(_.size == 2), s"$cp")
    assert(cp.boundCols.exists(b => b(0) == "R0") &&
      cp.boundCols.exists(b => b(0) == "R2"), s"bounds: ${cp.boundCols}")
    assert(new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run()
      == TransferOutcome.Completed)
    val back = JdbcTransfer.readAll(spark, url, "mixed_new")
    assert(back.count() == 360)
    assert(back.agg(sum("v")).head.getDouble(0) == 3 * (0 until 120).map(_ + 1.0).sum)
  }

  // --- chunk-plan invariants under random key distributions (VERDICT r4
  //     #8): whatever the keys look like, a persisted plan must have
  //     sorted/distinct bounds, its last bound must be the exact MAX,
  //     and the chunk ranges must partition the table (disjoint +
  //     complete, verified by summing per-chunk COUNTs server-side).

  private val propTables = new java.util.concurrent.atomic.AtomicInteger(0)

  private def forAllN[T](gen: org.scalacheck.Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      val v = gen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(1000L + i))
        .getOrElse(sys.error("gen failed"))
      body(v)
    }

  /** Persist a plan WITHOUT moving rows (cancel before the first chunk),
    * then return the checkpoint. */
  private def planOnly(tbl: String, mig2: MigrationSpec): graft.engine.Checkpoint = {
    import graft.engine.{Checkpoint, JdbcTransferJob, TransferControl}
    val t = TableMapping(tbl, targetName = Some(s"${tbl}_out"))
    new JdbcTransferJob(spark, url, t, mig2,
      control = TransferControl.cancelAfterChecks(0), log = _ => ()).run()
    Checkpoint.load(mig2.checkpointDir, "jdbc",
      JdbcTransferJob.checkpointName(url, t)).get
  }

  private def chunkCountsSql(tbl: String, pkCol: String,
                             bounds: Seq[String], quote: Boolean): Seq[Long] = {
    def lit(v: String) = if (quote) s"'$v'" else v
    bounds.indices.map { i =>
      val lo = if (i == 0) "" else s"$pkCol > ${lit(bounds(i - 1))} AND "
      JdbcCatalog.withConnection(url) { c =>
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            s"SELECT COUNT(*) FROM $tbl WHERE $lo$pkCol <= ${lit(bounds(i))}")
          rs.next(); rs.getLong(1)
        } finally st.close()
      }
    }
  }

  test("chunk-plan invariants hold under random key distributions (VERDICT r4 #8)") {
    import org.scalacheck.Gen
    // distribution zoo: dense, sparse (large gaps), skewed bursts,
    // negative ranges — each draws a distinct BIGINT key set
    val keySets: Gen[Set[Long]] = for {
      n <- Gen.choose(120, 600)
      shape <- Gen.oneOf("dense", "sparse", "skew", "negative")
      keys <- shape match {
        case "dense" => Gen.const((1L to n.toLong).toSet)
        case "sparse" => Gen.containerOfN[Set, Long](n, Gen.choose(-1000000000L, 1000000000L))
        case "skew" =>
          // 90% of keys in a 1000-wide burst, 10% spread over 10^9
          val burst = Gen.containerOfN[Set, Long](n * 9 / 10, Gen.choose(500000L, 501000L))
          val tail = Gen.containerOfN[Set, Long](n / 10, Gen.choose(0L, 1000000000L))
          for (b <- burst; t <- tail) yield b ++ t
        case _ => Gen.containerOfN[Set, Long](n, Gen.choose(-5000000L, -1L))
      }
    } yield keys
    forAllN(keySets, 5) { keys =>
      val tbl = s"prop_k${propTables.incrementAndGet()}"
      JdbcCatalog.execute(url,
        s"CREATE TABLE $tbl (id BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
      JdbcCatalog.withConnection(url) { c =>
        val ps = c.prepareStatement(s"INSERT INTO $tbl VALUES (?, ?)")
        keys.foreach { k => ps.setLong(1, k); ps.setDouble(2, 1.0); ps.addBatch() }
        ps.executeBatch()
      }
      val mig2 = MigrationSpec(batchSize = 50, checkpointRowThreshold = 50,
        rateLimit = 1000000000, checkpointDir = s"$work/cp_$tbl")
      val cp = planOnly(tbl, mig2)
      assert(cp.totalRows == keys.size)
      val asNum = cp.bounds.map(BigDecimal(_))
      assert(asNum == asNum.sorted && asNum.distinct == asNum,
        s"bounds must be sorted and distinct: ${cp.bounds}")
      assert(asNum.last == BigDecimal(keys.max),
        s"last bound must be the exact MAX: ${cp.bounds.last} vs ${keys.max}")
      val counts = chunkCountsSql(tbl, "id", cp.bounds, quote = false)
      assert(counts.sum == keys.size,
        s"chunks must partition the table: $counts sums to ${counts.sum}, want ${keys.size}")
      assert(counts.forall(_ > 0), s"no chunk may be empty: $counts")
    }
  }

  test("chunk-plan invariants: DECIMAL-scaled and VARCHAR keys (VERDICT r4 #8)") {
    import org.scalacheck.Gen
    // DECIMAL(12,3) keys with random scale-3 values
    forAllN(Gen.containerOfN[Set, Long](300, Gen.choose(-10000000L, 10000000L)), 2) { raw =>
      val tbl = s"prop_d${propTables.incrementAndGet()}"
      JdbcCatalog.execute(url,
        s"CREATE TABLE $tbl (id DECIMAL(12,3) NOT NULL PRIMARY KEY, v DOUBLE)")
      val keys = raw.map(l => BigDecimal(l, 3))
      JdbcCatalog.withConnection(url) { c =>
        val ps = c.prepareStatement(s"INSERT INTO $tbl VALUES (?, ?)")
        keys.foreach { k => ps.setBigDecimal(1, k.bigDecimal); ps.setDouble(2, 1.0); ps.addBatch() }
        ps.executeBatch()
      }
      val mig2 = MigrationSpec(batchSize = 50, checkpointRowThreshold = 50,
        rateLimit = 1000000000, checkpointDir = s"$work/cp_$tbl")
      val cp = planOnly(tbl, mig2)
      val asNum = cp.bounds.map(BigDecimal(_))
      assert(asNum == asNum.sorted && asNum.distinct == asNum)
      assert(asNum.last == keys.max, s"${cp.bounds.last} vs ${keys.max}")
      val counts = chunkCountsSql(tbl, "id", cp.bounds, quote = false)
      assert(counts.sum == keys.size && counts.forall(_ > 0), s"$counts")
    }
    // COMPOSITE keys: low-cardinality leading column × random numeric
    // second — bounds must be full tuples, ranges must partition
    val compKeys: Gen[Set[(Int, Long)]] = for {
      lead <- Gen.choose(2, 6)
      n <- Gen.choose(150, 400)
      ks <- Gen.containerOfN[Set, (Int, Long)](n,
        Gen.zip(Gen.choose(0, lead - 1), Gen.choose(0L, 100000L)))
    } yield ks
    forAllN(compKeys, 2) { keys =>
      val tbl = s"prop_c${propTables.incrementAndGet()}"
      JdbcCatalog.execute(url, s"CREATE TABLE $tbl (cat INT NOT NULL, " +
        "id BIGINT NOT NULL, v DOUBLE, PRIMARY KEY (cat, id))")
      JdbcCatalog.withConnection(url) { c =>
        val ps = c.prepareStatement(s"INSERT INTO $tbl VALUES (?, ?, ?)")
        keys.foreach { case (cat, id) =>
          ps.setInt(1, cat); ps.setLong(2, id); ps.setDouble(3, 1.0); ps.addBatch()
        }
        ps.executeBatch()
      }
      val mig2 = MigrationSpec(batchSize = 40, checkpointRowThreshold = 40,
        rateLimit = 1000000000, checkpointDir = s"$work/cp_$tbl")
      val cp = planOnly(tbl, mig2)
      val bs = cp.boundCols
      assert(bs.nonEmpty && bs.forall(_.size == 2), s"tuple plan expected: $cp")
      val asT = bs.map(b => (b(0).toInt, b(1).toLong))
      assert(asT == asT.sorted && asT.distinct == asT,
        s"tuple bounds must be sorted and distinct: $bs")
      assert(asT.last == keys.max, s"last bound must be MAX tuple: ${asT.last} vs ${keys.max}")
      def gt(b: Seq[String]) = s"(cat > ${b(0)} OR (cat = ${b(0)} AND id > ${b(1)}))"
      def le(b: Seq[String]) = s"(cat < ${b(0)} OR (cat = ${b(0)} AND id <= ${b(1)}))"
      val counts = bs.indices.map { i =>
        val lo = if (i == 0) "" else s"${gt(bs(i - 1))} AND "
        JdbcCatalog.withConnection(url) { c =>
          val st = c.createStatement()
          try {
            val rs = st.executeQuery(s"SELECT COUNT(*) FROM $tbl WHERE $lo${le(bs(i))}")
            rs.next(); rs.getLong(1)
          } finally st.close()
        }
      }
      assert(counts.sum == keys.size && counts.forall(_ > 0),
        s"tuple chunks must partition the table: $counts")
    }
    // VARCHAR keys: random alphanumeric strings, rank-walked bounds
    val strKeys = Gen.containerOfN[Set, String](250,
      Gen.listOfN(8, Gen.alphaNumChar).map(_.mkString))
    forAllN(strKeys, 2) { keys =>
      val tbl = s"prop_s${propTables.incrementAndGet()}"
      JdbcCatalog.execute(url,
        s"CREATE TABLE $tbl (k VARCHAR(16) NOT NULL PRIMARY KEY, v DOUBLE)")
      JdbcCatalog.withConnection(url) { c =>
        val ps = c.prepareStatement(s"INSERT INTO $tbl VALUES (?, ?)")
        keys.foreach { k => ps.setString(1, k); ps.setDouble(2, 1.0); ps.addBatch() }
        ps.executeBatch()
      }
      val mig2 = MigrationSpec(batchSize = 50, checkpointRowThreshold = 50,
        rateLimit = 1000000000, checkpointDir = s"$work/cp_$tbl")
      val cp = planOnly(tbl, mig2)
      // bounds are exact stored keys, sorted under SQL VARCHAR collation
      // (binary for Derby's default), distinct, closed by the exact max
      assert(cp.bounds == cp.bounds.sorted && cp.bounds.distinct == cp.bounds)
      assert(cp.bounds.last == keys.max, s"${cp.bounds.last} vs ${keys.max}")
      assert(cp.bounds.toSet.subsetOf(keys),
        "rank-probe bounds must be stored keys")
      val counts = chunkCountsSql(tbl, "k", cp.bounds, quote = true)
      assert(counts.sum == keys.size && counts.forall(_ > 0), s"$counts")
    }
  }

  test("hostile VARCHAR keys (quotes, backslashes, unicode) survive probes and predicates") {
    import graft.engine.{JdbcTransferJob, TransferControl, TransferOutcome}
    // every key carries a hostile prefix, so rank-probe BOUNDS land on
    // hostile values (bound via PreparedStatement — VERDICT r5 #2) and
    // the literal chunk predicates Spark splices must escape them
    val prefixes = Seq("O'Brien", """back\slash""", "d''ouble", "pct%und_",
      "日本語キー", "émoji", "a b  c", "\"quoted\"")
    val keys = (0 until 320).map(i => f"${prefixes(i % prefixes.size)}~$i%04d")
    JdbcCatalog.execute(url,
      "CREATE TABLE hostile_src (k VARCHAR(32) NOT NULL PRIMARY KEY, v DOUBLE)")
    JdbcCatalog.withConnection(url) { c =>
      val ps = c.prepareStatement("INSERT INTO hostile_src VALUES (?, ?)")
      keys.foreach { k => ps.setString(1, k); ps.setDouble(2, 1.5); ps.addBatch() }
      ps.executeBatch()
    }
    val cpDir = s"$work/cp_hostile"
    val mig2 = MigrationSpec(batchSize = 40, checkpointRowThreshold = 40,
      rateLimit = 1000000000, checkpointDir = cpDir)
    val t = TableMapping("hostile_src", targetName = Some("hostile_dst"))
    // kill + resume so hostile bounds also round-trip the checkpoint JSON
    val first = new JdbcTransferJob(spark, url, t, mig2,
      control = TransferControl.cancelAfterChecks(2), log = _ => ()).run()
    assert(first.isInstanceOf[TransferOutcome.Interrupted])
    assert(new JdbcTransferJob(spark, url, t, mig2, log = _ => ()).run()
      == TransferOutcome.Completed)
    val back = JdbcTransfer.readAll(spark, url, "hostile_dst")
    assert(back.count() == keys.size)
    assert(back.select("k").collect().map(_.getString(0)).toSet == keys.toSet)
  }

  test("expanded tuple predicate == Spark struct comparison (property, widths 2-4)") {
    import graft.engine.JdbcTransferJob.{CharKey, NumericKey, PlanKey}
    import graft.sinks.JdbcUpsert.Derby
    import org.apache.spark.sql.functions.{col, lit, struct}
    import org.scalacheck.Gen
    // The expanded form `k1 > a OR (k1 = a AND …)` is hand-rolled
    // lexicographic logic; this drives it against Spark's own struct
    // ordering on random tuples and bounds (VERDICT r5 Next #8).
    // Narrow leading domains force ties at every level.
    val tupleGen: Gen[(Int, String, Long)] = Gen.zip(
      Gen.choose(0, 3), Gen.listOfN(2, Gen.alphaNumChar).map(_.mkString),
      Gen.choose(0L, 50L))
    for (width <- 2 to 4) {
      val tbl = s"prop_x$width"
      val colsAll = Seq("c0", "c1", "c2")
      val ddlAll = Seq("c0 INT NOT NULL", "c1 VARCHAR(8) NOT NULL", "c2 BIGINT NOT NULL")
      val stylesAll = Seq(NumericKey, CharKey(backslashEscape = false), NumericKey)
      // width 4 repeats the narrow INT at the end to keep ties everywhere
      val cols = if (width == 4) colsAll :+ "c3" else colsAll.take(width)
      val ddl = if (width == 4) ddlAll :+ "c3 INT NOT NULL" else ddlAll.take(width)
      val styles = if (width == 4) stylesAll :+ NumericKey else stylesAll.take(width)
      def toRow(t: (Int, String, Long)): Seq[String] = {
        val full = Seq(t._1.toString, t._2, t._3.toString, (t._1 % 2).toString)
        if (width == 4) full else full.take(width)
      }
      forAllN(Gen.containerOfN[Set, (Int, String, Long)](200, tupleGen), 2) { raw =>
        val rows = raw.map(toRow).toSeq.distinct
        JdbcCatalog.execute(url, s"CREATE TABLE $tbl (${ddl.mkString(", ")}, " +
          s"PRIMARY KEY (${cols.mkString(", ")}))")
        try {
          JdbcCatalog.withConnection(url) { c =>
            val ps = c.prepareStatement(
              s"INSERT INTO $tbl VALUES (${cols.map(_ => "?").mkString(", ")})")
            rows.foreach { r =>
              cols.indices.foreach { i =>
                if (styles(i).isInstanceOf[CharKey]) ps.setString(i + 1, r(i))
                else ps.setLong(i + 1, r(i).toLong)
              }
              ps.addBatch()
            }
            ps.executeBatch()
          }
          val key = PlanKey(cols, styles, Derby)
          val df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows.map(r =>
              org.apache.spark.sql.Row.fromSeq(r)), 2),
            org.apache.spark.sql.types.StructType(cols.map(c =>
              org.apache.spark.sql.types.StructField(c,
                org.apache.spark.sql.types.StringType))))
          // string-typed struct comparison matches Derby only if every
          // component compares as its own type — so compare on TYPED
          // columns (cast numerics back to long)
          def typed(c: String, i: Int) =
            if (styles(i).isInstanceOf[CharKey]) col(c) else col(c).cast("long")
          val tupleCol = struct(cols.zipWithIndex.map { case (c, i) =>
            typed(c, i).as(c) }: _*)
          def boundCol(b: Seq[String]) = struct(cols.zipWithIndex.map { case (c, i) =>
            (if (styles(i).isInstanceOf[CharKey]) lit(b(i))
             else lit(b(i).toLong)).as(c) }: _*)
          def derbySelect(where: String): Set[Seq[String]] =
            JdbcCatalog.withConnection(url) { c =>
              val st = c.createStatement()
              try {
                val rs = st.executeQuery(
                  s"SELECT ${cols.mkString(", ")} FROM $tbl WHERE $where")
                val b = Set.newBuilder[Seq[String]]
                while (rs.next()) b += cols.indices.map(i => rs.getString(i + 1))
                b.result()
              } finally st.close()
            }
          def sparkSelect(pred: org.apache.spark.sql.Column): Set[Seq[String]] =
            df.where(pred).collect()
              .map(r => cols.indices.map(r.getString)).toSet
          // bounds: 3 stored tuples + 2 arbitrary (possibly absent) ones
          val bounds = rows.take(3) ++
            Seq(Seq("1", "zz", "25", "0").take(width).padTo(width, "1"),
              Seq("2", "A0", "0", "1").take(width).padTo(width, "0"))
          bounds.foreach { b =>
            assert(derbySelect(key.gt(b)) == sparkSelect(tupleCol > boundCol(b)),
              s"gt mismatch at width $width, bound $b")
            assert(derbySelect(key.le(b)) == sparkSelect(tupleCol <= boundCol(b)),
              s"le mismatch at width $width, bound $b")
          }
        } finally JdbcCatalog.execute(url, s"DROP TABLE $tbl")
      }
    }
  }
}
