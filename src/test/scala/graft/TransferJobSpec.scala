package graft

import java.nio.file.{Files, Paths}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core._
import graft.engine._

/** End-to-end tests of the config-driven transfer engine, including the
  * SURVEY §5.2.4 invariant: for a random kill point, resuming from the
  * checkpoint yields a destination identical (as a keyed set) to an
  * uninterrupted run. */
class TransferJobSpec extends SparkTestBase {

  /** Minimal property-check driver (scalatestplus is not on the offline
    * classpath): sample `n` values from a ScalaCheck Gen and assert each. */
  private def forAllN[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      val v = gen.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail("gen exhausted"))
      withClue(s"sample #$i = $v: ")(body(v))
    }

  /** Cancels after `n` chunk-boundary checks — the simulated kill. */
  private def KillAfter(n: Int): TransferControl =
    TransferControl.cancelAfterChecks(n)

  private def freshSpec(tables: Seq[TableMapping],
                        batch: Int = 50): (TransferSpec, String) = {
    val work = tempDir("xfer")
    val spec = TransferSpec(
      source = EndpointSpec("parquet", path = sf, tables = tables),
      destination = EndpointSpec("parquet", path = s"$work/dest"),
      migration = MigrationSpec(batchSize = batch, checkpointRowThreshold = batch,
        checkpointDir = s"$work/checkpoints", rateLimit = 100000000))
    (spec, work)
  }

  /** Indices of the `chunk-<first chunk index>` wave dirs of a target. */
  private def chunkDirs(spec: TransferSpec, target: String): Set[Int] =
    new java.io.File(s"${spec.destination.path}/$target").listFiles()
      .filter(_.getName.startsWith("chunk-"))
      .map(_.getName.stripPrefix("chunk-").toInt).toSet

  /** First chunk of every wave of `width` chunks over plan chunks
    * `from until to`. */
  private def waveStarts(from: Int, to: Int, width: Int): Set[Int] =
    (from until to by width).toSet

  private val customerXform = TableMapping("customer",
    targetName = Some("customer_new"),
    columnTransformations = Seq(
      ColumnTransformation("c_name", "UPPER(c_name)"),
      ColumnTransformation("c_acctbal", "round(c_acctbal * 100, 0)")))

  private def expectedCustomer = {
    import org.apache.spark.sql.functions._
    graft.sources.Tables(spark, sf, "customer")
      .withColumn("c_name", expr("UPPER(c_name)"))
      .withColumn("c_acctbal", expr("round(c_acctbal * 100, 0)"))
  }

  test("full transfer: transforms applied, chunked dest matches source") {
    val (spec, _) = freshSpec(Seq(customerXform))
    val out = TransferRunner.run(spark, spec, log = _ => ())
    assert(out.forall(_.outcome.isSuccess))
    val dest = TableTransferJob.readTarget(spark, spec, "customer_new")
    assert(dest.count() == expectedCustomer.count())
    assert(dest.except(expectedCustomer).isEmpty)
    assert(expectedCustomer.except(dest).isEmpty)
    // artifacts: DDL sidecar (S8), completion marker, complete checkpoint
    assert(Files.exists(Paths.get(spec.destination.path, "customer_new", "_schema.ddl")))
    assert(Files.exists(Paths.get(spec.destination.path, "customer_new", "_GRAFT_COMPLETE")))
    assert(Checkpoint.load(spec.migration.checkpointDir, "parquet", TableTransferJob.checkpointName(spec, customerXform))
      .exists(_.complete))
    // multiple plan chunks actually happened (150 rows / 50 per chunk;
    // the complete checkpoint sits at the plan's last chunk), written as
    // waves into one dir per wave, named by its first chunk
    val planChunks = Checkpoint.load(spec.migration.checkpointDir, "parquet",
      TableTransferJob.checkpointName(spec, customerXform)).get.chunkIndex + 1
    assert(planChunks >= 2, s"expected a chunked plan, got $planChunks chunks")
    assert(chunkDirs(spec, "customer_new") ==
      waveStarts(0, planChunks, spec.migration.chunkParallelism))
  }

  test("completed table is skipped on rerun (R6)") {
    val (spec, _) = freshSpec(Seq(customerXform))
    TransferRunner.run(spark, spec, log = _ => ())
    val again = TransferRunner.run(spark, spec, log = _ => ())
    assert(again.head.outcome.get == TransferOutcome.SkippedComplete)
  }

  test("parquet incremental: completed transfer extends with ONLY the appended key tail") {
    import org.apache.spark.sql.functions._
    val work = tempDir("pinc")
    val src0 = graft.sources.Tables(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    src0.where(col("o_orderkey") < 800).write.parquet(s"$work/src/orders_inc.parquet")
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(
        TableMapping("orders_inc", targetName = Some("orders_inc_new"),
          primaryKey = Some("o_orderkey"), incremental = true))),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = 100, checkpointRowThreshold = 100,
        checkpointDir = s"$work/cp", rateLimit = 100000000))
    val t = spec.source.tables.head
    assert(new TableTransferJob(spark, spec, t, log = _ => ()).run() ==
      TransferOutcome.Completed)
    val destDir = s"$work/dest/orders_inc_new"
    def chunkDirs = new java.io.File(destDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("chunk-"))
      .map(_.getName).toSet
    val before = chunkDirs
    // no new rows: the extension is a no-op that ends complete again
    assert(new TableTransferJob(spark, spec, t, log = _ => ()).run() ==
      TransferOutcome.Completed)
    assert(chunkDirs == before, "no-op delta must not touch chunk dirs")
    // source appends a key tail; the delta lands in NEW chunk dirs only
    src0.where(col("o_orderkey") >= 800).write.mode("append")
      .parquet(s"$work/src/orders_inc.parquet")
    assert(new TableTransferJob(spark, spec, t, log = _ => ()).run() ==
      TransferOutcome.Completed)
    val after = chunkDirs
    assert(before.subsetOf(after) && after.size > before.size,
      s"delta must append chunk dirs: $before -> $after")
    val deltaRows = (after -- before).toSeq
      .map(n => spark.read.parquet(s"$destDir/$n").count()).sum
    assert(deltaRows == src0.where(col("o_orderkey") >= 800).count(),
      s"delta chunk dirs hold $deltaRows rows")
    val dest = TableTransferJob.readTarget(spark, spec, "orders_inc_new")
    assert(dest.count() == src0.count())
    assert(dest.except(src0).isEmpty && src0.except(dest).isEmpty)
    // R6 preserved: a non-incremental mapping still skips
    assert(new TableTransferJob(spark, spec, t.copy(incremental = false),
      log = _ => ()).run() == TransferOutcome.SkippedComplete)
  }

  test("parquet incremental over a string key degrades to a correct full re-transfer") {
    import org.apache.spark.sql.functions._
    val work = tempDir("pinch")
    val src0 = graft.sources.Tables(spark, sf, "customer")
      .select(concat(lit("K"), col("c_custkey")).as("ckey"), col("c_acctbal"))
    val firstHalf = src0.where(pmod(crc32(col("ckey")), lit(2)) === 0)
    firstHalf.write.parquet(s"$work/src/cust_inc.parquet")
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(
        TableMapping("cust_inc", targetName = Some("cust_inc_new"),
          primaryKey = Some("ckey"), incremental = true))),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = 100, checkpointRowThreshold = 100,
        checkpointDir = s"$work/cp", rateLimit = 100000000))
    val t = spec.source.tables.head
    assert(new TableTransferJob(spark, spec, t, log = _ => ()).run() ==
      TransferOutcome.Completed)
    // new rows arrive ANYWHERE in the key space (varchar keys have no
    // range cursor) — the incremental re-run degrades to a full
    // idempotent re-transfer and must still be exactly right
    src0.where(pmod(crc32(col("ckey")), lit(2)) === 1).write.mode("append")
      .parquet(s"$work/src/cust_inc.parquet")
    assert(new TableTransferJob(spark, spec, t, log = _ => ()).run() ==
      TransferOutcome.Completed)
    val dest = TableTransferJob.readTarget(spark, spec, "cust_inc_new")
    assert(dest.count() == src0.count())
    assert(dest.except(src0).isEmpty && src0.except(dest).isEmpty)
    // crash-safety of the degrade: the old COMPLETE state is cleared
    // BEFORE the wipe, so an interrupted degrade must NOT be shielded
    // by a stale complete marker — the next plain run must transfer,
    // not skip (R6 would otherwise serve a destroyed destination)
    val killed = new TableTransferJob(spark, spec, t, KillAfter(1),
      log = _ => ()).run()
    assert(killed.isInstanceOf[TransferOutcome.Interrupted], killed.toString)
    val after = new TableTransferJob(spark, spec,
      t.copy(incremental = false), log = _ => ()).run()
    assert(after == TransferOutcome.Completed,
      s"interrupted degrade must resume, not skip: $after")
    val dest2 = TableTransferJob.readTarget(spark, spec, "cust_inc_new")
    assert(dest2.count() == src0.count())
    assert(dest2.except(src0).isEmpty && src0.except(dest2).isEmpty)
  }

  test("prune-completed GCs checkpoints (+ chunk dirs under a published layout); rerun re-transfers cleanly") {
    // chunked layout: only the checkpoint may go (chunk dirs ARE the data)
    val (spec, _) = freshSpec(Seq(customerXform))
    TransferRunner.run(spark, spec, log = _ => ())
    assert(TableTransferJob.pruneCompleted(spec, customerXform))
    assert(Checkpoint.load(spec.migration.checkpointDir, "parquet",
      TableTransferJob.checkpointName(spec, customerXform)).isEmpty)
    val dest = TableTransferJob.readTarget(spark, spec, "customer_new")
    assert(dest.count() == expectedCustomer.count(), "data must survive the prune")
    // rerun after prune: NOT skipped (checkpoint gone) — a full clean re-transfer
    val again = TransferRunner.run(spark, spec, log = _ => ())
    assert(again.head.outcome.get == TransferOutcome.Completed)
    assert(TableTransferJob.readTarget(spark, spec, "customer_new")
      .except(expectedCustomer).isEmpty)

    // partitioned publish layout: intermediate chunk dirs go too
    val part = TableMapping("orders", targetName = Some("orders_part"),
      partitionBy = Seq("o_orderstatus"))
    val (spec2, _) = freshSpec(Seq(part))
    TransferRunner.run(spark, spec2, log = _ => ())
    val destDir = new java.io.File(s"${spec2.destination.path}/orders_part")
    assert(destDir.listFiles().exists(_.getName.startsWith("chunk-")))
    assert(TableTransferJob.pruneCompleted(spec2, part))
    assert(!destDir.listFiles().exists(_.getName.startsWith("chunk-")),
      "published layout: chunk intermediates must be pruned")
    val src = graft.sources.Tables(spark, sf, "orders")
    assert(TableTransferJob.readTarget(spark, spec2, "orders_part").count() == src.count())
    // an INTERRUPTED run refuses the prune (checkpoint is its resume point)
    val (spec3, _) = freshSpec(Seq(customerXform))
    new TableTransferJob(spark, spec3, customerXform, KillAfter(1), _ => ()).run()
    assert(!TableTransferJob.pruneCompleted(spec3, customerXform))
    assert(Checkpoint.load(spec3.migration.checkpointDir, "parquet",
      TableTransferJob.checkpointName(spec3, customerXform)).nonEmpty,
      "interrupted checkpoint must survive")
  }

  test("kill+resume invariant: resumed destination == uninterrupted (SURVEY §5.2.4)") {
    forAllN(Gen.choose(1, 4), 4) { k =>
      val (spec, _) = freshSpec(Seq(customerXform))
      val job = () => new TableTransferJob(spark, spec, customerXform,
        KillAfter(k), _ => ())
      val first = job().run()
      // with 3 chunks a kill point >= chunk count just completes
      first match {
        case TransferOutcome.Interrupted(_) =>
          val resumed = new TableTransferJob(spark, spec, customerXform,
            new TransferControl, _ => ()).run()
          assert(resumed == TransferOutcome.Completed)
        case TransferOutcome.Completed => ()
        case other => fail(s"unexpected: $other")
      }
      val dest = TableTransferJob.readTarget(spark, spec, "customer_new")
      assert(dest.count() == expectedCustomer.count())
      assert(dest.except(expectedCustomer).isEmpty)
      assert(expectedCustomer.except(dest).isEmpty)
    }
  }

  test("checkpoint bound covers every row written (no re-transfer duplicates)") {
    import org.apache.spark.sql.functions._
    // interrupted mid-run: all rows in chunks <= chunkIndex are <= lastKey
    val (spec, _) = freshSpec(Seq(customerXform))
    val r = new TableTransferJob(spark, spec, customerXform,
      KillAfter(2), _ => ()).run()
    assert(r.isInstanceOf[TransferOutcome.Interrupted])
    val cp = Checkpoint.load(spec.migration.checkpointDir, "parquet", TableTransferJob.checkpointName(spec, customerXform)).get
    val bound = cp.lastKey("c_custkey").toDouble
    val written = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"${spec.destination.path}/customer_new")
    assert(chunkDirs(spec, "customer_new") ==
      waveStarts(0, cp.chunkIndex + 1, spec.migration.chunkParallelism),
      "checkpoint index matches written waves")
    val overBound = written.where(col("c_custkey") > bound).count()
    assert(overBound == 0,
      s"$overBound rows above checkpoint bound $bound would duplicate on resume")
    // completed run: the recorded bound is the TRUE max of the key, so a
    // rerun's remaining-set is empty even where the quantile undershot
    val done = new TableTransferJob(spark, spec, customerXform,
      new TransferControl, _ => ()).run()
    assert(done == TransferOutcome.Completed)
    val cpDone = Checkpoint.load(spec.migration.checkpointDir, "parquet", TableTransferJob.checkpointName(spec, customerXform)).get
    val trueMax = graft.sources.Tables(spark, sf, "customer")
      .agg(max(col("c_custkey"))).head.getLong(0)
    assert(cpDone.lastKey("c_custkey").toDouble == trueMax.toDouble)
  }

  test("NULL primary keys are refused, not silently dropped") {
    import spark.implicits._
    val work = tempDir("xfern")
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, "c"))
      .toDF("id", "v").write.parquet(s"$work/src/t.parquet")
    val t = TableMapping("t", primaryKey = Some("id"))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(checkpointDir = s"$work/cp", rateLimit = 100000000))
    val e = intercept[IllegalArgumentException] {
      new TableTransferJob(spark, spec, t, new TransferControl, _ => ()).run()
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("orphan chunk dirs above the checkpoint are cleaned on resume") {
    val (spec, _) = freshSpec(Seq(customerXform))
    // simulate a crash that wrote an extra chunk the checkpoint never saw
    val orphan = Paths.get(spec.destination.path, "customer_new", "chunk-00099")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.parquet"), "")
    TransferRunner.run(spark, spec, log = _ => ())
    assert(!Files.exists(orphan), "orphan chunk dir should be removed")
    val dest = TableTransferJob.readTarget(spark, spec, "customer_new")
    assert(dest.except(expectedCustomer).isEmpty)
  }

  test("non-numeric PK is chunked by sampled keyset ranges and resumes after a kill") {
    import spark.implicits._
    val work = tempDir("xferh")
    Seq(("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 4.0), ("e", 5.0), ("f", 6.0))
      .toDF("sku", "price").write.parquet(s"$work/src/items.parquet")
    val t = TableMapping("items", primaryKey = Some("sku"),
      columnTransformations = Seq(ColumnTransformation("price", "price * 100")))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = 2, checkpointRowThreshold = 2,
        checkpointDir = s"$work/cp", rateLimit = 100000000))
    // kill mid-run, then resume
    val first = new TableTransferJob(spark, spec, t, KillAfter(1), _ => ()).run()
    val second = new TableTransferJob(spark, spec, t, new TransferControl, _ => ()).run()
    assert(second == TransferOutcome.Completed || first == TransferOutcome.Completed)
    val dest = TableTransferJob.readTarget(spark, spec, "items")
    val expect = spark.read.parquet(s"$work/src/items.parquet")
      .withColumn("price", org.apache.spark.sql.functions.expr("price * 100"))
    assert(dest.count() == 6 && dest.except(expect).isEmpty)
  }

  test("transform rewriting the PK column does not shift chunk membership (ADVICE r2)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = tempDir("xferpk")
    (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.parquet(s"$work/src/t.parquet")
    // transform REWRITES the pk: id -> id * 1000. Bounds must apply to the
    // source value, so every source row lands in exactly one chunk.
    val t = TableMapping("t", primaryKey = Some("id"),
      columnTransformations = Seq(ColumnTransformation("id", "id * 1000")))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = 50, checkpointRowThreshold = 50,
        checkpointDir = s"$work/cp", rateLimit = 100000000))
    val r = new TableTransferJob(spark, spec, t, new TransferControl, _ => ()).run()
    assert(r == TransferOutcome.Completed)
    val dest = TableTransferJob.readTarget(spark, spec, "t")
    assert(dest.count() == 200, "a post-transform upper bound drops/duplicates rows")
    assert(dest.select(countDistinct(col("id"))).head.getLong(0) == 200)
    assert(dest.agg(max(col("id"))).head.getLong(0) == 200000L)
  }

  test("integral PKs above 2^53 keep exact bounds (no double rounding; ADVICE r2)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = tempDir("xfersnow")
    // snowflake-style ids: consecutive longs where double rounds to even
    val base = (1L << 53) + 1L
    (0L until 100L).map(i => (base + i, i)).toDF("id", "v")
      .write.parquet(s"$work/src/t.parquet")
    val t = TableMapping("t", primaryKey = Some("id"))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = 30, checkpointRowThreshold = 30,
        checkpointDir = s"$work/cp", rateLimit = 100000000))
    // kill mid-run so a resume actually consults the checkpointed bound
    new TableTransferJob(spark, spec, t, KillAfter(1), _ => ()).run()
    val cp1 = Checkpoint.load(s"$work/cp", "parquet", TableTransferJob.checkpointName(spec, t))
    cp1.flatMap(_.lastKey.get("id")).foreach { k =>
      assert(k.toLong >= base && (k.toLong - base) < 100, s"rounded bound $k")
    }
    val r = new TableTransferJob(spark, spec, t, new TransferControl, _ => ()).run()
    assert(r == TransferOutcome.Completed)
    val dest = TableTransferJob.readTarget(spark, spec, "t")
    assert(dest.count() == 100, "double-rounded resume bound duplicated/lost rows")
    assert(dest.select(countDistinct(col("id"))).head.getLong(0) == 100)
    // final checkpoint records the exact max, not a rounded neighbour
    val cp = Checkpoint.load(s"$work/cp", "parquet", TableTransferJob.checkpointName(spec, t)).get
    assert(cp.lastKey("id") == (base + 99L).toString)
  }

  test("a string-key resume under a new batch size continues its stored plan") {
    import spark.implicits._
    val work = tempDir("xferbkt")
    (1 to 40).map(i => (s"sku$i", i.toDouble)).toDF("sku", "price")
      .write.parquet(s"$work/src/items.parquet")
    val t = TableMapping("items", primaryKey = Some("sku"))
    def spec(batch: Int) = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = batch, checkpointRowThreshold = batch,
        checkpointDir = s"$work/cp", rateLimit = 100000000))
    // first run with batch=5 → 8 chunks; killed after the first chunk
    val first = new TableTransferJob(spark, spec(5), t, KillAfter(1), _ => ()).run()
    assert(first == TransferOutcome.Interrupted(1))
    val cp = Checkpoint.load(s"$work/cp", "parquet",
      TableTransferJob.checkpointName(spec(5), t)).get
    assert(cp.chunkIndex == 0 && cp.bounds.size == 7 && cp.lastKey.contains("sku"), cp)
    // resume with a CHANGED batch size: the 7 stored chunks still run
    // (re-planning at batch=20 would cut 2 chunks), above the cursor
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val second = new TableTransferJob(spark, spec(20), t, new TransferControl,
      s => { lines.add(s); () }).run()
    assert(second == TransferOutcome.Completed)
    assert(lines.toArray.exists(_.toString.endsWith("planner checkpoint (stored plan)")))
    assert(Checkpoint.load(s"$work/cp", "parquet",
      TableTransferJob.checkpointName(spec(20), t)).get.chunkIndex == 7)
    val dest = TableTransferJob.readTarget(spark, spec(20), "items")
    assert(dest.count() == 40)
    assert(dest.select("sku").distinct().count() == 40)
  }

  test("a string-key resume reads its row total from the checkpoint, not a count scan") {
    import spark.implicits._
    val work = tempDir("xferbnc")
    (1 to 40).map(i => (s"sku$i", i.toDouble)).toDF("sku", "price")
      .write.parquet(s"$work/src/items.parquet")
    val t = TableMapping("items", primaryKey = Some("sku"))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = 5, checkpointRowThreshold = 5,
        checkpointDir = s"$work/cp", rateLimit = 100000000))
    val first = new TableTransferJob(spark, spec, t, KillAfter(1), _ => ()).run()
    assert(first.isInstanceOf[TransferOutcome.Interrupted])
    val cp = Checkpoint.load(s"$work/cp", "parquet",
      TableTransferJob.checkpointName(spec, t)).get
    assert(cp.totalRows == 40,
      s"string-key checkpoint must persist the row total at plan time, got $cp")
    // record every job call-site during the resume: chunk writes only —
    // a `source.count()` would appear as "count at TableTransferJob..."
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        sites.add(Option(j.properties)
          .map(_.getProperty("callSite.short", "")).getOrElse("")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val second = new TableTransferJob(spark, spec, t, new TransferControl, _ => ()).run()
      assert(second == TransferOutcome.Completed)
      Thread.sleep(500) // listener bus drains asynchronously
      val counted = sites.toArray.map(_.toString)
        .filter(_.contains("count at TableTransferJob"))
      assert(counted.isEmpty,
        s"resume paid a count scan: ${counted.mkString(", ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
    val dest = TableTransferJob.readTarget(spark, spec, "items")
    assert(dest.count() == 40)
    assert(dest.select("sku").distinct().count() == 40)
  }

  test("register_table executes CREATE TABLE IF NOT EXISTS on the session catalog (S8)") {
    spark.sql("DROP TABLE IF EXISTS customer_new")
    try {
      val (spec, _) = freshSpec(Seq(customerXform.copy(registerTable = true)))
      TransferRunner.run(spark, spec, log = _ => ())
      assert(spark.catalog.tableExists("customer_new"), "target not in catalog")
      val viaCatalog = spark.table("customer_new")
      assert(viaCatalog.count() == expectedCustomer.count())
      assert(viaCatalog.except(expectedCustomer).isEmpty)
      // IF NOT EXISTS: a rerun with the table already registered succeeds
      Checkpoint.deleteAll(spec.migration.checkpointDir)
      TransferRunner.run(spark, spec, log = _ => ())
      assert(spark.catalog.tableExists("customer_new"))
      // external table: dropping it must NOT delete the transferred data
      spark.sql("DROP TABLE customer_new")
      assert(TableTransferJob.readTarget(spark, spec, "customer_new").count() ==
        expectedCustomer.count())
    } finally spark.sql("DROP TABLE IF EXISTS customer_new")
  }

  test("nested struct/array/map columns survive the chunked transfer intact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = tempDir("xfernst")
    val src = (1L to 120L).map(i => (i, (s"t$i", i * 2), Seq(i * 1.0, i * 2.0)))
      .toDF("id", "meta", "vals")
    src.write.parquet(s"$work/src/docs.parquet")
    val t = TableMapping("docs", primaryKey = Some("id"))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = 40, checkpointRowThreshold = 40,
        checkpointDir = s"$work/cp", rateLimit = 100000000))
    // kill+resume over nested data, then complete
    new TableTransferJob(spark, spec, t, KillAfter(1), _ => ()).run()
    new TableTransferJob(spark, spec, t, new TransferControl, _ => ()).run()
    val dest = TableTransferJob.readTarget(spark, spec, "docs")
    assert(dest.count() == 120)
    assert(dest.except(spark.read.parquet(s"$work/src/docs.parquet")).isEmpty)
    // nested extraction works post-transfer
    assert(dest.select(col("meta._2"), element_at(col("vals"), 2))
      .where(col("meta._2") === element_at(col("vals"), 2)).count() == 120)
  }

  test("transfer rejects a malicious transform up front (P6 wired in)") {
    val bad = TableMapping("customer", columnTransformations =
      Seq(ColumnTransformation("c_name", "reflect('java.lang.System','exit','0')")))
    val (spec, _) = freshSpec(Seq(bad))
    val out = TransferRunner.run(spark, spec, log = _ => ())
    assert(out.head.outcome.isFailure)
    assert(out.head.outcome.failed.get.getMessage.contains("allowlist"))
  }

  test("an interrupted run refuses to resume under a DIFFERENT key (both modes)") {
    // Chunk membership is a function of the key; resuming another key's
    // plan remaps chunks (lost or duplicated rows). v3 checkpoints carry
    // the key identity, so BOTH modes refuse any swap outright.
    // Range mode: numeric → numeric with the same width.
    val tr = TableMapping("lineitem", targetName = Some("li_swap_range"))
    val (specR, _) = freshSpec(Seq(tr), batch = 500)
    new TableTransferJob(spark, specR, tr, KillAfter(1), _ => ()).run()
    val swapR = tr.copy(primaryKey = Some("l_partkey"))
    val eR = intercept[IllegalArgumentException] {
      new TableTransferJob(spark, specR, swapR, new TransferControl, _ => ()).run()
    }
    assert(eR.getMessage.contains("planned over key"), eR.getMessage)
    // Hash mode: string → string.
    val th = TableMapping("customer", targetName = Some("c_swap_hash"),
      primaryKey = Some("c_name"))
    val (specH, _) = freshSpec(Seq(th), batch = 20)
    new TableTransferJob(spark, specH, th, KillAfter(1), _ => ()).run()
    val swapH = th.copy(primaryKey = Some("c_mktsegment"))
    val eH = intercept[IllegalArgumentException] {
      new TableTransferJob(spark, specH, swapH, new TransferControl, _ => ()).run()
    }
    assert(eH.getMessage.contains("planned over key"), eH.getMessage)
  }

  test("a legacy (pre-v3) range checkpoint under a renamed key refuses via the cursor name") {
    // v2 files carry no key_cols, but the range path's resume cursor is
    // stored under the OLD key column's name — a miss is a key swap, and
    // silently restarting the plan would duplicate the completed prefix.
    val t = TableMapping("orders", targetName = Some("o_legacy_swap"))
    val (spec, _) = freshSpec(Seq(t), batch = 500)
    new TableTransferJob(spark, spec, t, KillAfter(1), _ => ()).run()
    // rewrite the checkpoint as a v2 file (strip key_cols, keep cursor)
    val name = TableTransferJob.checkpointName(spec, t)
    val cp = Checkpoint.load(spec.migration.checkpointDir, "parquet", name).get
    assert(cp.lastKey.contains("o_orderkey"))
    Checkpoint.save(spec.migration.checkpointDir, "parquet", name,
      cp.copy(keyCols = Nil, version = 2))
    val swapped = t.copy(primaryKey = Some("o_custkey"))
    val e = intercept[IllegalArgumentException] {
      new TableTransferJob(spark, spec, swapped, new TransferControl, _ => ()).run()
    }
    assert(e.getMessage.contains("resume cursor"), e.getMessage)
  }

  test("a hash checkpoint under a now-single-numeric key refuses to resume") {
    // A v3 in-flight hash-bucket checkpoint, as the bucket chunker wrote
    // it, found under a CHANGED key: the key-identity guard refuses
    // before the legacy restart, so a key change is never absorbed
    // silently. Low cardinality of the new key is NOT an excuse:
    // l_linenumber alone is exactly the low-card case.
    val t = TableMapping("lineitem", targetName = Some("li_keyswap"),
      primaryKey = Some("l_linenumber,l_orderkey"))
    val (spec, _) = freshSpec(Seq(t), batch = 500)
    writeLegacyBuckets(spec, t, complete = false)
    val swapped = t.copy(primaryKey = Some("l_linenumber"))
    val e = intercept[IllegalArgumentException] {
      new TableTransferJob(spark, spec, swapped, new TransferControl, _ => ()).run()
    }
    // the v3 key-identity guard (the second message is the deleted
    // hash-path guard's)
    assert(e.getMessage.contains("planned over key") ||
      e.getMessage.contains("hash-bucket path"), e.getMessage)
  }

  /** A v3 hash-bucket checkpoint as the bucket chunker wrote it (8
    * buckets, key (l_linenumber, l_orderkey)); an in-flight one also
    * leaves its first wave dir, holding bucket 0..3's rows. */
  private def writeLegacyBuckets(spec: TransferSpec, t: TableMapping,
                                 complete: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    val chunk = if (complete) 7 else 3
    val cp = Paths.get(spec.migration.checkpointDir,
      s"parquet_${TableTransferJob.checkpointName(spec, t)}.checkpoint")
    Files.createDirectories(cp.getParent)
    Files.writeString(cp, s"""{"version": 3, "last_key": {}, "last_updated": "2026-10-01T00:00:00Z", "complete": $complete, "chunk_index": $chunk, "bucket_count": 8, "bounds": [], "bound_cols": [], "key_cols": ["l_linenumber", "l_orderkey"], "total_rows": 6000}""")
    val src = graft.sources.Tables(spark, sf, "lineitem")
    val bucket = pmod(hash(col("l_linenumber"), col("l_orderkey")), lit(8))
    val dest = s"${spec.destination.path}/${t.target}"
    if (complete) (0 to 7 by 4).foreach { b =>
      src.where(bucket.between(b, b + 3)).write.parquet(f"$dest/chunk-$b%05d")
    } else src.where(bucket.between(0, 3)).write.parquet(s"$dest/chunk-00000")
    if (complete) Files.writeString(Paths.get(dest, "_GRAFT_COMPLETE"), "")
  }

  test("legacy v3 hash-bucket checkpoints: in flight restarts cleanly, complete skips, incremental degrades") {
    val t = TableMapping("lineitem", targetName = Some("li_legacy"),
      primaryKey = Some("l_linenumber,l_orderkey"))
    val src = graft.sources.Tables(spark, sf, "lineitem")
    def run(spec: TransferSpec, m: TableMapping): (TransferOutcome, Seq[String]) = {
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val out = new TableTransferJob(spark, spec, m, new TransferControl,
        s => { lines.add(s); () }).run()
      (out, lines.toArray.map(_.toString).toSeq)
    }
    def sameAsSource(spec: TransferSpec): Unit = {
      val dest = TableTransferJob.readTarget(spark, spec, t.target)
      assert(dest.count() == src.count())
      assert(dest.except(src).isEmpty && src.except(dest).isEmpty)
    }
    // in flight: one logged reason, the checkpoint and every chunk dir
    // dropped, a fresh range plan — the destination equals a fresh run
    val (inflight, _) = freshSpec(Seq(t), batch = 500)
    writeLegacyBuckets(inflight, t, complete = false)
    val (out, lines) = run(inflight, t)
    assert(out == TransferOutcome.Completed)
    assert(lines.count(_.contains("restarting")) == 1, lines)
    assert(lines.exists(_.contains("holds a v3 hash-bucket plan")), lines)
    sameAsSource(inflight)
    val cp = Checkpoint.load(inflight.migration.checkpointDir, "parquet",
      TableTransferJob.checkpointName(inflight, t)).get
    assert(cp.complete && cp.version == Checkpoint.FormatVersion && cp.bucketCount < 0, cp)
    assert(!Files.readString(Checkpoint.path(inflight.migration.checkpointDir, "parquet",
      TableTransferJob.checkpointName(inflight, t))).contains("bucket_count"))
    // complete: R6 skips it
    val (done, _) = freshSpec(Seq(t), batch = 500)
    writeLegacyBuckets(done, t, complete = true)
    assert(run(done, t)._1 == TransferOutcome.SkippedComplete)
    // complete under incremental: the full idempotent re-transfer
    val inc = t.copy(incremental = true)
    val (again, incLines) = run(done, inc)
    assert(again == TransferOutcome.Completed)
    assert(incLines.exists(_.contains("degrades to a full idempotent re-transfer")), incLines)
    sameAsSource(done)
  }

  test("composite key with a high-cardinality leading column keeps the range path") {
    // lineitem's real key order (l_orderkey leading): the plan is one of
    // (l_orderkey, l_linenumber) tuples, so chunks keep parquet min/max
    // row-group pruning on the leading column.
    val t = TableMapping("lineitem", targetName = Some("li_range"))
    val (spec, _) = freshSpec(Seq(t), batch = 500)
    new TableTransferJob(spark, spec, t, KillAfter(1), _ => ()).run()
    val cp = Checkpoint.load(spec.migration.checkpointDir, "parquet",
      TableTransferJob.checkpointName(spec, t)).get
    assert(cp.boundCols.nonEmpty && cp.boundCols.forall(_.size == 2),
      s"expected a tuple range plan, got $cp")
    assert(new TableTransferJob(spark, spec, t, new TransferControl, _ => ()).run()
      == TransferOutcome.Completed)
  }

  // --- one range path for every key type ---------------------------------

  /** Transfers `<work>/src/t.parquet` (as `write` leaves it) keyed on `pk`
    * twice: uninterrupted, and killed mid-plan then resumed — the resume
    * under session time zone `resumeZone` when given. Both destinations
    * must hold exactly the source's rows. */
  private def checkKillResume(pk: String, resumeZone: Option[String] = None)
                             (write: String => Unit): Unit = {
    import org.apache.spark.sql.Row
    val work = tempDir("xferkey")
    write(s"$work/src/t.parquet")
    val t = TableMapping("t", primaryKey = Some(pk))
    def spec(leg: String) = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/$leg"),
      MigrationSpec(batchSize = 20, checkpointRowThreshold = 20,
        checkpointDir = s"$work/cp-$leg", rateLimit = 100000000))
    def rows(df: org.apache.spark.sql.DataFrame): Map[Row, Int] =
      df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
    val source = rows(spark.read.parquet(s"$work/src/t.parquet"))
    assert(source.values.sum == 200)
    assert(new TableTransferJob(spark, spec("full"), t, log = _ => ()).run() ==
      TransferOutcome.Completed)
    // 10 chunks: the first wave, then one chunk of the second, commit
    assert(new TableTransferJob(spark, spec("killed"), t, KillAfter(5), _ => ()).run() ==
      TransferOutcome.Interrupted(5))
    val cp = Checkpoint.load(s"$work/cp-killed", "parquet",
      TableTransferJob.checkpointName(spec("killed"), t)).get
    assert(cp.chunkIndex == 4 && cp.lastKey.contains(pk) && cp.bounds.size == 5, cp)
    val zone = "spark.sql.session.timeZone"
    val before = spark.conf.get(zone)
    resumeZone.foreach(spark.conf.set(zone, _))
    try assert(new TableTransferJob(spark, spec("killed"), t, log = _ => ()).run() ==
      TransferOutcome.Completed)
    finally spark.conf.set(zone, before)
    assert(rows(TableTransferJob.readTarget(spark, spec("full"), "t")) == source)
    assert(rows(TableTransferJob.readTarget(spark, spec("killed"), "t")) == source,
      "resumed destination differs from an uninterrupted run")
  }

  private def keyed(key: org.apache.spark.sql.Column)(dir: String): Unit =
    spark.range(0, 200, 1, 4).select(key.as("k"), org.apache.spark.sql.functions.col("id"))
      .write.parquet(dir)

  test("kill + resume = uninterrupted on a non-ASCII string key") {
    import org.apache.spark.sql.functions._
    val prefixes = array(Seq("a", "é", "ж", "日本", "😀", "Ω", "z").map(lit): _*)
    checkKillResume("k")(keyed(concat(element_at(prefixes,
      (pmod(col("id") * 7, lit(7L)) + 1).cast("int")), col("id").cast("string"))))
  }

  test("kill + resume = uninterrupted on a date key") {
    import org.apache.spark.sql.functions._
    checkKillResume("k")(keyed(date_add(lit("1969-12-01").cast("date"),
      (col("id") * 37 % 9001).cast("int"))))
  }

  test("kill + resume = uninterrupted on a timestamp key, resumed in another session time zone") {
    import org.apache.spark.sql.functions._
    checkKillResume("k", resumeZone = Some("Asia/Kathmandu"))(
      keyed(timestamp_micros(lit(1700000000000000L) + col("id") * 3600000123L)))
  }

  test("kill + resume = uninterrupted on a decimal key") {
    import org.apache.spark.sql.functions._
    checkKillResume("k")(keyed((col("id") * 1.25 - 100).cast("decimal(20,4)")))
  }

  test("kill + resume = uninterrupted on a double key") {
    import org.apache.spark.sql.functions._
    checkKillResume("k")(keyed(col("id") * 0.1 - 7.3))
  }

  test("kill + resume = uninterrupted on a long key above 2^53, planned by the sample") {
    import org.apache.spark.sql.functions._
    // two files interleaved on the key: the footers decline (row groups
    // overlap), so the bounds come from the sample aggregate
    checkKillResume("k") { dir =>
      val big = lit((1L << 53) + 1L) + col("id")
      spark.range(0, 200, 2, 1).select(big.as("k"), col("id")).write.parquet(dir)
      spark.range(1, 200, 2, 1).select(big.as("k"), col("id")).write.mode("append").parquet(dir)
    }
  }

  test("NULL keys are refused before any write: a string key, a composite key's second column") {
    import spark.implicits._
    val work = tempDir("xfernk")
    Seq[(Long, String)]((1L, "a"), (2L, null), (3L, "c"))
      .toDF("id", "name").write.parquet(s"$work/src/t.parquet")
    for ((target, key) <- Seq("by_name" -> "name", "by_id_name" -> "id,name")) {
      val t = TableMapping("t", targetName = Some(target), primaryKey = Some(key))
      val spec = TransferSpec(
        EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
        EndpointSpec("parquet", path = s"$work/dest"),
        MigrationSpec(checkpointDir = s"$work/cp", rateLimit = 100000000))
      val e = intercept[IllegalArgumentException] {
        new TableTransferJob(spark, spec, t, new TransferControl, _ => ()).run()
      }
      assert(e.getMessage.contains("has 1 NULL values in key"), e.getMessage)
      assert(!new java.io.File(s"$work/dest/$target").list().exists(_.startsWith("chunk-")),
        s"$target: a wave was written before the refusal")
    }
  }

  // --- waves: up to chunk_parallelism plan chunks per query -------------

  /** The wave contract for one table, over every chunk_parallelism
    * p ∈ 1..4 and every kill point k: `cancelAfterChecks(k)` ends
    * `Interrupted(k)` with the checkpoint at chunk k − 1 (unless k covers
    * the whole plan); a wave dir planted above that checkpoint (a crash
    * after an unrecorded write) is removed by the resume and never read;
    * the resumed destination equals an uninterrupted run, laid out as
    * the killed run's waves followed by the resume's. */
  private def checkWaveContract(t: TableMapping, batch: Int): Unit = {
    import org.apache.spark.sql.Row
    def specFor(p: Int): TransferSpec = {
      val (s, _) = freshSpec(Seq(t), batch)
      s.copy(migration = s.migration.copy(chunkParallelism = p))
    }
    def cpOf(spec: TransferSpec): Checkpoint = Checkpoint.load(
      spec.migration.checkpointDir, "parquet", TableTransferJob.checkpointName(spec, t)).get
    def rows(spec: TransferSpec): Map[Row, Int] =
      TableTransferJob.readTarget(spark, spec, t.target).collect().toSeq
        .groupBy(identity).map { case (r, rs) => r -> rs.size }
    def run(spec: TransferSpec, control: TransferControl): TransferOutcome =
      new TableTransferJob(spark, spec, t, control, _ => ()).run()
    for (p <- 1 to 4) {
      val ref = specFor(p)
      assert(run(ref, new TransferControl) == TransferOutcome.Completed)
      val done = cpOf(ref)
      val chunks = done.chunkIndex + 1
      assert(done.complete && chunks == 4, s"expected a 4-chunk plan, got $done")
      assert(chunkDirs(ref, t.target) == waveStarts(0, chunks, p))
      val expect = rows(ref)
      assert(expect.values.sum == graft.sources.Tables(spark, sf, t.name).count())
      for (k <- 0 to chunks) withClue(s"chunk_parallelism $p, kill point $k: ") {
        val spec = specFor(p)
        val out = run(spec, KillAfter(k))
        if (k == chunks) assert(out == TransferOutcome.Completed)
        else {
          assert(out == TransferOutcome.Interrupted(k))
          val cp = cpOf(spec)
          assert(!cp.complete && cp.chunkIndex == k - 1, cp.toString)
          assert(chunkDirs(spec, t.target) == waveStarts(0, k, p))
          // simulated crash: a wave dir above the checkpoint holding a
          // copy of a real row — reading it would duplicate that row
          val stale = f"${spec.destination.path}/${t.target}/chunk-${k + 1}%05d"
          TableTransferJob.readTarget(spark, ref, t.target).limit(1)
            .write.parquet(stale)
          assert(run(spec, new TransferControl) == TransferOutcome.Completed)
          assert(chunkDirs(spec, t.target) ==
            waveStarts(0, k, p) ++ waveStarts(k, chunks, p))
        }
        assert(rows(spec) == expect, "resumed destination differs from an uninterrupted run")
      }
    }
  }

  test("wave contract on the range path: every chunk_parallelism and kill point") {
    checkWaveContract(customerXform.copy(targetName = Some("cust_waves_range")), batch = 38)
  }

  test("wave contract on a sampled string key: every chunk_parallelism and kill point") {
    checkWaveContract(customerXform.copy(targetName = Some("cust_waves_hash"),
      primaryKey = Some("c_name")), batch = 38)
  }

  test("wave contract on a composite key with a low-cardinality leading column") {
    // l_linenumber has 7 values: the plan ranks the whole
    // (l_linenumber, l_orderkey) tuple, so it still cuts 4 chunks
    val t = TableMapping("lineitem", targetName = Some("li_waves_lowcard"),
      primaryKey = Some("l_linenumber,l_orderkey"))
    checkWaveContract(t, batch = 1500)
    // …of about 1,500 rows each: bounds on the leading column alone
    // could only cut at its 7 values (918 rows for l_linenumber = 7)
    val (s, _) = freshSpec(Seq(t), batch = 1500)
    val spec = s.copy(migration = s.migration.copy(chunkParallelism = 1))
    assert(new TableTransferJob(spark, spec, t, log = _ => ()).run() == TransferOutcome.Completed)
    val sizes = chunkDirs(spec, t.target).toSeq.sorted.map { i =>
      spark.read.parquet(f"${spec.destination.path}/${t.target}/chunk-$i%05d").count()
    }
    assert(sizes.size == 4 && sizes.forall(n => math.abs(n - 1500) <= 400), sizes)
  }

  /** Runs `body` and returns the Spark jobs it submitted plus, per query,
    * its name (the output dir for a file write, else the action) and the
    * rows its file scans produced — counters, not timings, so they do not
    * depend on host load. */
  private def countQueries(body: => Unit): (Long, Seq[(String, Long)]) = {
    import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener
        with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        var scanned = 0L
        def visit(p: SparkPlan): Unit = foreach(p) {
          case c: CommandResultExec => visit(c.commandPhysicalPlan)
          case f: FileSourceScanExec =>
            scanned += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case other => other.subqueries.foreach(visit)
        }
        visit(qe.executedPlan)
        val name = qe.logical match {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName
          case _ => funcName
        }
        queries.add((name, scanned)); ()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    spark.listenerManager.register(listener)
    val jobs = graft.util.JobCounter.install(sc)
    try body finally {
      org.apache.spark.TestBus.drain(sc)
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(listener)
    }
    (jobs.count, queries.toArray.toSeq.map(_.asInstanceOf[(String, Long)]))
  }

  test("counters: an 8-chunk range table at chunk_parallelism 4 plans from its footers and runs two wave writes") {
    import spark.implicits._
    val work = tempDir("xferwave")
    (1L to 800L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$work/src/t.parquet")
    val t = TableMapping("t", primaryKey = Some("id"))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = 100, checkpointRowThreshold = 100,
        checkpointDir = s"$work/cp", rateLimit = 100000000, chunkParallelism = 4))
    val (jobs, queries) = countQueries {
      assert(new TableTransferJob(spark, spec, t, log = _ => ()).run() ==
        TransferOutcome.Completed)
    }
    assert(Checkpoint.load(s"$work/cp", "parquet", TableTransferJob.checkpointName(spec, t))
      .get.chunkIndex == 7, "expected an 8-chunk plan")
    assert(queries.map(_._1) == Seq("chunk-00000", "chunk-00004"), queries)
    // the footers give the schema and the plan with no job; each wave
    // write is one
    assert(jobs == 2, s"$jobs jobs for $queries")
    assert(TableTransferJob.readTarget(spark, spec, "t").count() == 800)
  }

  /** 320 string keys `k000..k319`, 10 chunks at batch 32; the sample
    * then holds every key, so bound j is exactly key 32(j+1)−1 and the
    * three waves at chunk_parallelism 4 cover 128, 128 and 64 keys.
    * Returns the rows the wave writes' file scans read. */
  private def stringWaveScans(write: (org.apache.spark.sql.DataFrame, String) => Unit): Long = {
    import spark.implicits._
    val work = tempDir("xferwaves")
    val keys = (0 until 320).map(i => (f"k$i%03d", i.toDouble)).toDF("sku", "price")
    write(keys, s"$work/src/items.parquet")
    val t = TableMapping("items", primaryKey = Some("sku"))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(batchSize = 32, checkpointRowThreshold = 32,
        checkpointDir = s"$work/cp", rateLimit = 100000000, chunkParallelism = 4))
    val (_, queries) = countQueries {
      assert(new TableTransferJob(spark, spec, t, log = _ => ()).run() ==
        TransferOutcome.Completed)
    }
    assert(Checkpoint.load(s"$work/cp", "parquet", TableTransferJob.checkpointName(spec, t))
      .get.chunkIndex == 9, "expected a 10-chunk plan")
    val waves = queries.filter(_._1.startsWith("chunk-"))
    assert(waves.map(_._1) == Seq("chunk-00000", "chunk-00004", "chunk-00008"), queries)
    val dest = TableTransferJob.readTarget(spark, spec, "items")
    assert(dest.count() == 320 && dest.except(keys).isEmpty)
    waves.map(_._2).sum
  }

  test("counters: a string table clustered on the key reads each source row once over all its waves") {
    // one file per 32-key run, in key order: each wave's key range
    // prunes every file outside it (hash buckets read all 320 per wave)
    val scanned = stringWaveScans { (df, dir) =>
      (0 until 10).foreach { f =>
        df.where(df("price") >= f * 32.0 && df("price") < (f + 1) * 32.0).coalesce(1)
          .write.mode("append").parquet(dir)
      }
    }
    assert(scanned == 320L, scanned)
  }

  test("counters: a randomly ordered string table reads every row once per wave") {
    // one row group in random key order: no wave can prune it — what
    // the hash-bucket chunker read on every table
    val scanned = stringWaveScans { (df, dir) =>
      df.orderBy(org.apache.spark.sql.functions.rand(7)).coalesce(1).write.parquet(dir)
    }
    assert(scanned == 3 * 320L, scanned)
  }

  test("an empty source completes; a one-bucket empty wave leaves a readable destination") {
    import spark.implicits._
    val work = tempDir("xferempty")
    Seq.empty[(String, Long, Double)].toDF("sku", "id", "price")
      .write.parquet(s"$work/src/items.parquet")
    val hashT = TableMapping("items", primaryKey = Some("sku"))
    val rangeT = TableMapping("items", targetName = Some("items_by_id"), primaryKey = Some("id"))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = s"$work/src", tables = Seq(hashT, rangeT)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(checkpointDir = s"$work/cp", rateLimit = 100000000))
    Seq(hashT, rangeT).foreach { t =>
      assert(new TableTransferJob(spark, spec, t, log = _ => ()).run() ==
        TransferOutcome.Completed, t.target)
    }
    val dest = TableTransferJob.readTarget(spark, spec, "items")
    assert(dest.count() == 0 && dest.columns.toSeq == Seq("sku", "id", "price"))
  }
}
