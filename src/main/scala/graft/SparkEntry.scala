package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{ColumnTransformation, EndpointSpec, ExpressionValidator, MigrationSpec, TableMapping, TransferSpec}
import graft.engine.{TableTransferJob, TransferControl, TransferRunner}
import graft.functions.MySqlDateFormat
import graft.functions.Portable.fx
import graft.ops.{Curation, Dedup, Layout, MediaKeys, Multimodal, Similarity, TextAnalysis}
import graft.ops.MediaKeys.{eventIds, payloads}
import graft.sinks.Upsert
import graft.sources.Tables
import graft.streaming.StreamingIngest

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent `oracleSql` (the t2
  * correctness gate). The oracle SQL lives in the Spark-free `oracle`
  * module (`graft.oracle.OracleSql`), which cannot see this object or
  * the ops it drives; `oracleSql` forwards to it.
  *
  * Determinism rules (the driver hash-compares canonicalized rows):
  *   - every LIMIT is preceded by an ORDER BY over a unique key, so the
  *     selected row *set* is deterministic;
  *   - floating-point aggregates go through an exact DECIMAL sum and are
  *     cast back to DOUBLE, so Spark's and DuckDB's summation order can't
  *     produce different ulps;
  *   - computed columns carry the same alias on both sides (the driver
  *     sorts columns by name before hashing).
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Flagship: the product itself — a config-driven multi-table transfer
    * (YAML-shaped spec → chunked keyset read → validated expr transforms →
    * idempotent chunk writes → checkpoint complete), then read the target
    * back (reference: `internal/migration/mysql/mysql.go:186-380`). */
  def entry(spark: SparkSession): DataFrame = {
    val (spec, _) = transferSpec(spark, "/root/testdata/sf0.001")
    val results = TransferRunner.run(spark, spec, log = _ => ())
    // fail loudly, never serve a partial/stale target (same contract as
    // transfer_config_multi)
    require(TransferRunner.allCompleted(results),
      s"entry transfer failed: ${TransferRunner.summarize(results)}")
    TableTransferJob.readTarget(spark, spec, "orders_new")
  }

  /** Shared transfer spec used by `entry` and the transfer_* correctness
    * entries: two tables, the reference config.yaml's transform
    * vocabulary (`configs/config.yaml:8-21`). The work dir is
    * deterministic per (sfDir, batch) and wiped at the start of each
    * call — repeated bench/test runs must not leak a table copy per
    * invocation into /tmp. */
  private def transferSpec(spark: SparkSession, sfDir: String,
                           batch: Int = 5000): (TransferSpec, String) = {
    val work = graft.util.Fs.workDir("xfer", s"$sfDir:$batch")
    graft.util.Fs.deleteRecursive(new java.io.File(work))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
    val spec = TransferSpec(
      source = EndpointSpec("parquet", path = sfDir, tables = Seq(
        TableMapping("orders", targetName = Some("orders_new"),
          columnTransformations = Seq(
            ColumnTransformation("o_orderstatus", "CONCAT('Status: ', o_orderstatus)"),
            ColumnTransformation("o_totalprice", "o_totalprice * 100"))),
        TableMapping("customer", targetName = Some("customer_new"),
          columnTransformations = Seq(
            ColumnTransformation("c_name", "UPPER(c_name)"),
            ColumnTransformation("c_acctbal", "c_acctbal + 100"))))),
      destination = EndpointSpec("parquet", path = s"$work/dest"),
      migration = MigrationSpec(batchSize = batch, checkpointRowThreshold = batch,
        checkpointDir = s"$work/checkpoints", rateLimit = 1000000000))
    (spec, work)
  }

  // ---------------------------------------------------------------------
  // Query surface. Key → (spark impl, duckdb oracle). Names map to
  // SURVEY §2 operator ids.
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // --- S1/S2: keyset-paginated scan (WHERE pk > last ORDER BY pk LIMIT n),
    //     reference mysql.go:578-679 / postgresql.go:376-401
    "s1_keyset_scan" -> ((s, d) =>
      T(s, d, "lineitem")
        .where(col("l_orderkey") > 300)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(1000)),

    // --- S3: cursor scan with resume filter (Mongo `{_id:{$gt:last}}`),
    //     reference mongodb.go:264-360
    "s3_cursor_scan" -> ((s, d) =>
      T(s, d, "events").where(col("event_id") > 500)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))),

    // --- P1: explicit column projection (never SELECT *), mysql.go:617-627
    "p1_projection" -> ((s, d) =>
      T(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")),

    // --- P2: per-column scalar transform expressions (config-driven),
    //     reference config.go:28-31 + configs/config.yaml:11-21
    "p2_transform_upper" -> ((s, d) =>
      T(s, d, "customer").select(col("c_custkey"), expr("UPPER(c_name)").as("c_name_upper"))),
    "p2_transform_arith" -> ((s, d) =>
      T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        expr("l_extendedprice * 100").as("price_cents"))),
    "p2_transform_dateformat" -> ((s, d) =>
      T(s, d, "orders").select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))),
    "p2_transform_concat" -> ((s, d) =>
      T(s, d, "orders").select(col("o_orderkey"),
        expr("CONCAT('Status: ', o_orderstatus)").as("status_label"))),
    // MySQL-dialect DATE_FORMAT pattern translated to JDK (SURVEY §7.4.3)
    "p2_mysql_dateformat" -> ((s, d) =>
      T(s, d, "orders").select(col("o_orderkey"),
        date_format(col("o_orderdate"), MySqlDateFormat.translate("%Y-%m-%d %H:%i")).as("od_mysql"))),
    // a NATIVE graft expression reached through the config-transform
    // surface: the string goes through the P6 validator, expr() resolves
    // it via the GraftExtensions-injected function, codegen runs the
    // Fnv kernel, and the oracle recomputes the same hash in SQL
    "p2_transform_fnv" -> ((s, d) => {
      val e = "graft_fnv1a32(text)"
      ExpressionValidator.validate(s, e).left.foreach(r => sys.error(r))
      T(s, d, "documents").select(col("doc_id"), expr(e).as("text_fnv"))
    }),

    // --- P3: keyset predicate count, mysql.go:617-627
    "p3_keyset_count" -> ((s, d) =>
      T(s, d, "orders").where(col("o_orderkey") > 500).agg(count(lit(1)).as("cnt"))),

    // --- P4: token-range predicate analog (Cassandra token() resume),
    //     cassandra.go:1066-1142
    "p4_token_predicate" -> ((s, d) =>
      T(s, d, "orders")
        .where(pmod(col("o_orderkey") * lit(2654435761L), lit(1000000007L)) >= 500000000L)
        .agg(count(lit(1)).as("cnt"))),

    // --- P5: completed-rows predicate (progress math), postgresql.go:312-317
    "p5_completed_count" -> ((s, d) =>
      T(s, d, "customer").where(col("c_custkey") <= 75).agg(count(lit(1)).as("cnt"))),

    // --- A1: total row count (progress denominator), mysql.go:244-249
    "a1_count" -> ((s, d) =>
      T(s, d, "lineitem").agg(count(lit(1)).as("cnt"))),

    // --- A2: filtered count, mongodb.go:270-274
    "a2_filtered_count" -> ((s, d) =>
      T(s, d, "events").where(col("event_id") <= 500).agg(count(lit(1)).as("cnt"))),

    // --- A3: running max of PK (resume cursor), mysql.go:654-662
    "a3_max_pk" -> ((s, d) =>
      T(s, d, "lineitem").agg(max(col("l_orderkey")).as("max_key"))),

    // --- O1/O2: sort + limit = top-k (TakeOrderedAndProject), mysql.go:617-631
    "o1_sort_limit" -> ((s, d) =>
      T(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy(col("l_orderkey").desc, col("l_linenumber").desc)
        .limit(100)),

    // --- extensions: aggregation (TPC-H Q1 shape; partial agg map-side,
    //     one shuffle on the two group keys)
    "q1_agg" -> ((s, d) =>
      T(s, d, "lineitem")
        .where(col("l_shipdate") <= lit("1999-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          count(lit(1)).as("count_order"))),

    // --- extensions: 3-way join + agg + top-k (TPC-H Q3 shape).
    //     No broadcast hint: customer grows with scale (~1.5M rows at
    //     sf10), so a forced broadcast OOMs on a real cluster — AQE picks
    //     broadcast-vs-shuffle from runtime stats instead.
    "q3_join" -> ((s, d) => {
      val c = T(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = T(s, d, "orders")
      val l = T(s, d, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // --- extensions: broadcast dim join (hash join, no shuffle of the dim)
    "join_broadcast_dim" -> ((s, d) => {
      val c = T(s, d, "customer")
      val n = T(s, d, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // --- extensions: semi join (EXISTS)
    "join_semi" -> ((s, d) => {
      val o = T(s, d, "orders")
      val l = T(s, d, "lineitem").where(col("l_quantity") > 45)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select("o_orderkey")
    }),

    // --- extensions: anti join (NOT EXISTS)
    "join_anti" -> ((s, d) => {
      val c = T(s, d, "customer")
      val o = T(s, d, "orders").where(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey")
    }),

    // --- extensions: window rank-1 (dedup / latest-per-key pattern)
    "window_rank_dedup" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      T(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_id", "event_type")
    }),

    // --- extensions: analytic window (running sum, exact decimal frame)
    "window_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, d, "events")
        .select(col("event_id"), col("user_id"),
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("running_value"))
    }),

    // --- extensions: exact interpolated percentiles (type-7, both engines)
    "agg_percentiles" -> ((s, d) =>
      T(s, d, "lineitem").groupBy("l_returnflag").agg(
        fx(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        fx(expr("percentile(l_quantity, 0.95)"), 6).as("p95_qty"))),

    // --- extensions: lead/lag analytic windows
    "window_lead_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T(s, d, "events").select(col("event_id"), col("user_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
    }),

    // --- extensions: range (non-equi) join against a tiny bucket dim —
    //     broadcast nested-loop by construction (dim is 4 rows)
    "join_range_bucket" -> ((s, d) => {
      import s.implicits._
      val dim = Seq((0L, 0.0, 25.0), (1L, 25.0, 50.0),
        (2L, 50.0, 75.0), (3L, 75.0, 1e9)).toDF("bucket_id", "lo", "hi")
      T(s, d, "events").join(broadcast(dim),
          col("value") >= col("lo") && col("value") < col("hi"))
        .select(col("event_id"), col("bucket_id"))
    }),

    // --- bucketed CO-LOCATED join: both sides land bucketed on the join
    //     key (the one-time layout shuffle any real keyed ingest pays),
    //     then the join AND the keyed aggregation run with ZERO exchanges
    //     — the 100 TB join shape (PlanAuditSpec asserts no Exchange;
    //     the merge hint keeps the small side from broadcasting so the
    //     co-location is actually exercised).
    "join_bucketed_colocated" -> ((s, d) => {
      val wh = graft.util.Fs.workDir("bkt", d)
      // table names carry the same digest as the work dir — fixed names
      // would collide across concurrent sessions sharing a metastore
      val id = graft.util.Fs.digest(d)
      val (tOrders, tCustomer) = (s"bkt_orders_$id", s"bkt_customer_$id")
      graft.util.Fs.deleteRecursive(new java.io.File(wh))
      s.sql(s"DROP TABLE IF EXISTS $tOrders")
      s.sql(s"DROP TABLE IF EXISTS $tCustomer")
      // GC stale digests — OPT-IN (-Dgraft.bkt.gc=1, ADVICE r6): runs
      // against OTHER data dirs registered their own bkt_* pair, and a
      // long-lived metastore accumulates two tables per data dir
      // forever; but two concurrent sessions sharing one metastore
      // against DIFFERENT dirs would drop each other's LIVE bucketed
      // tables mid-query if the GC ran unconditionally. Default off:
      // correctness for concurrent sessions beats tidiness; an operator
      // who owns the metastore opts in from a maintenance window.
      if (sys.props.get("graft.bkt.gc").contains("1"))
        s.catalog.listTables().collect()
          .map(_.name)
          .filter(n => (n.startsWith("bkt_orders_") || n.startsWith("bkt_customer_")) &&
            !n.endsWith(id))
          .foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))
      T(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .write.format("parquet").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders").mode("overwrite").saveAsTable(tOrders)
      T(s, d, "customer").select("c_custkey", "c_acctbal")
        .write.format("parquet").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer").mode("overwrite").saveAsTable(tCustomer)
      s.table(tOrders).hint("merge")
        .join(s.table(tCustomer), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    }),

    // --- extensions: AS-OF join via carried-forward window state — for
    //     each click, the user's most recent purchase value at-or-before
    //     it (one shuffle on user_id; no join at all — the scalable as-of)
    "join_asof_event" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, d, "events")
        .withColumn("last_purchase",
          last(when(col("event_type") === "purchase", col("value")),
            ignoreNulls = true).over(w))
        .where(col("event_type") === "click")
        .select("event_id", "user_id", "last_purchase")
    }),

    // --- extensions: fuzzy string matching (edit distance) on a small
    //     self-pair set (25×25 nations, broadcast NLJ)
    "fuzzy_match_levenshtein" -> ((s, d) => {
      val a = T(s, d, "nation").select(col("n_name").as("name_a"))
      val b = T(s, d, "nation").select(col("n_name").as("name_b"))
      a.join(broadcast(b), col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("bigint"))
        .where(col("dist") <= 5)
        .select("name_a", "name_b", "dist")
    }),

    // --- extensions: set ops
    "setop_except" -> ((s, d) =>
      T(s, d, "customer").select(col("c_custkey").as("key"))
        .except(T(s, d, "orders").where(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("key")))),
    "setop_union" -> ((s, d) =>
      T(s, d, "region").select(col("r_regionkey").as("key"))
        .union(T(s, d, "nation").select(col("n_regionkey").as("key")))
        .distinct()),

    // --- extensions: distinct / count distinct / rollup
    "agg_distinct" -> ((s, d) =>
      T(s, d, "orders").select("o_orderpriority").distinct()),
    "agg_count_distinct" -> ((s, d) =>
      T(s, d, "lineitem").agg(countDistinct(col("l_partkey")).as("cnt"))),
    "agg_rollup" -> ((s, d) =>
      T(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))),

    // --- explicit GROUPING SETS (the general form behind cube/rollup) —
    //     exercised through the SQL surface; the decimal-sum-then-double
    //     convention keeps both engines' totals bit-identical
    "agg_grouping_sets" -> ((s, d) => {
      T(s, d, "orders").createOrReplaceTempView("gs_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
    }),

    // --- pivot (long → wide): per-priority counts by order status. The
    //     pivot VALUES are declared, so the plan is one hash aggregation
    //     — no distinct-scan to discover columns, the 100 TB shape
    "agg_pivot" -> ((s, d) =>
      T(s, d, "orders").groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("cnt_f"),
          coalesce(col("O"), lit(0L)).as("cnt_o"),
          coalesce(col("P"), lit(0L)).as("cnt_p"))),

    // --- quantile-bucket assignment: ntile/percent_rank/cume_dist over
    //     a unique total order (c_acctbal, c_custkey) — every rank
    //     deterministic, both engines agree exactly
    "window_ntile" -> ((s, d) => {
      val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
      T(s, d, "customer").select(col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).cast("bigint").as("tile"),
        fx(percent_rank().over(w), 6).as("pr"),
        fx(cume_dist().over(w), 6).as("cd"))
    }),

    // --- correlated EXISTS / NOT EXISTS subqueries — Catalyst
    //     decorrelates to a semi + anti join (free in Spark, absent in
    //     the reference); the declared SQL is what a reference user
    //     migrating real queries would write
    "join_exists_subquery" -> ((s, d) => {
      T(s, d, "customer").createOrReplaceTempView("sq_customer")
      T(s, d, "orders").createOrReplaceTempView("sq_orders")
      s.sql(
        """SELECT c_custkey, c_name FROM sq_customer c
          |WHERE EXISTS (SELECT 1 FROM sq_orders o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          |  AND NOT EXISTS (SELECT 1 FROM sq_orders o2
          |                  WHERE o2.o_custkey = c.c_custkey
          |                    AND o2.o_orderstatus = 'F')""".stripMargin)
    }),

    // --- as-of join (ops/AsOf.scala): purchases enriched with each
    //     user's latest at-or-before click. Union + window carry-forward
    //     — ONE shuffle on the key, no range explosion; DuckDB's native
    //     ASOF JOIN is the oracle.
    "join_asof" -> ((s, d) => {
      val ev = T(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      // right side unique per (key, instant): max event_id wins —
      // duplicate right rows at one ts have no deterministic as-of
      // winner in any engine (mirrored in the oracle)
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
      graft.ops.AsOf.asofJoin(purchases, clicks, Seq("user_id"), "ts_us")
        .withColumn("gap_us", col("ts_us") - col("asof_ts_us"))
    }),

    // --- the STREAM-STREAM twin of join_asof: flatMapGroupsWithState
    //     carrying one (ts, click_id) pair per user — O(keys) state.
    //     Same sweep algorithm ⇒ same result ⇒ same ASOF oracle.
    "streaming_asof" -> ((s, d) => StreamingIngest.streamingAsOf(s, d)),

    // --- the staleness-bounded as-of (AsOf tolerance): matches older
    //     than 6 h are nulled. At sf0.01 the corpus splits into all
    //     three contract classes — ~209 in-tolerance matches, ~1629
    //     stale-nulled, ~143 never-matched — so the gate exercises the
    //     whole bound, not just the happy path (oracle: DuckDB ASOF
    //     LEFT JOIN + post-join CASE).
    "join_asof_tolerance" -> ((s, d) => {
      val ev = T(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
      graft.ops.AsOf.asofJoin(purchases, clicks, Seq("user_id"), "ts_us",
          tolerance = Some(21600000000L)) // 6 h in µs
        .withColumn("gap_us", col("ts_us") - col("asof_ts_us"))
    }),

    // --- monster-key mitigation AS CODE: partition on (user, day)
    //     with bucket seeds restoring the carry — result-equal to
    //     join_asof (same oracle), spread over buckets
    "join_asof_bucketed" -> ((s, d) => {
      val ev = T(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
      graft.ops.AsOf.asofJoinBucketed(purchases, clicks, Seq("user_id"),
          "ts_us", bucketWidth = 86400L * 1000000L) // one-day buckets in µs
        .withColumn("gap_us", col("ts_us") - col("asof_ts_us"))
    }),

    // --- R1/R4-R6/P2/P6: the config-driven transfer engine end-to-end —
    //     two tables with validated transforms, chunked writes, completion
    //     markers; result = transformed orders read back from the target.
    "transfer_config_multi" -> ((s, d) => {
      val (spec, _) = transferSpec(s, d)
      val results = TransferRunner.run(s, spec, log = _ => ())
      require(TransferRunner.allCompleted(results),
        s"transfer failed: ${TransferRunner.summarize(results)}")
      TableTransferJob.readTarget(s, spec, "orders_new")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    }),

    // --- partition_by destination: chunked transfer → one-time hive-
    //     layout publish → partition-discovery read-back. At 100 TB the
    //     published layout is what downstream partition pruning keys on.
    "transfer_partitioned" -> ((s, d) => {
      val work = graft.util.Fs.workDir("part", d)
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      val spec = TransferSpec(
        EndpointSpec("parquet", path = d, tables = Seq(
          TableMapping("orders", targetName = Some("orders_part"),
            partitionBy = Seq("o_orderstatus"),
            columnTransformations = Seq(
              ColumnTransformation("o_totalprice", "o_totalprice * 100"))))),
        EndpointSpec("parquet", path = s"$work/dest"),
        MigrationSpec(batchSize = 5000, checkpointRowThreshold = 5000,
          checkpointDir = s"$work/cp", rateLimit = 1000000000))
      val res = TransferRunner.run(s, spec, log = _ => ())
      require(TransferRunner.allCompleted(res),
        s"partitioned transfer failed: ${TransferRunner.summarize(res)}")
      TableTransferJob.readTarget(s, spec, "orders_part")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),

    // --- R4/R5/R8: kill mid-run (checkpoint flush), resume from the
    //     resume file — resumed destination must equal an uninterrupted
    //     run (the reference's headline 断点续传 feature, mysql.go:533-576).
    "transfer_resume" -> ((s, d) => {
      // small chunks so the kill really interrupts mid-table at sf0.01
      val (spec, _) = transferSpec(s, d, batch = 500)
      val customer = spec.source.tables.find(_.name == "customer").get
      new graft.engine.TableTransferJob(s, spec, customer,
        TransferControl.cancelAfterChecks(1), _ => ()).run()
      new graft.engine.TableTransferJob(s, spec, customer,
        new TransferControl, _ => ()).run()
      TableTransferJob.readTarget(s, spec, "customer_new")
        .select("c_custkey", "c_name", "c_acctbal")
    }),

    // --- Mongo bson.M analog: NESTED documents (struct + array + map
    //     columns) moved through the chunked transfer engine intact,
    //     then queried by nested-field extraction post-transfer
    //     (reference moves whole documents opaquely, mongodb.go:327-335;
    //     here the nesting survives a keyset-chunked, resumable engine).
    "transfer_nested_roundtrip" -> ((s, d) => {
      val work = graft.util.Fs.workDir("nested", d)
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      val nested = T(s, d, "events").select(
        col("event_id"),
        struct(col("event_type").as("etype"),
          struct(col("user_id").as("uid")).as("who")).as("meta"),
        array(col("value"), col("value") * 2).as("vals"),
        map(lit("v"), col("value")).as("tags"))
      nested.write.mode("overwrite").parquet(s"$work/src/evdoc.parquet")
      val spec = TransferSpec(
        EndpointSpec("parquet", path = s"$work/src", tables = Seq(
          TableMapping("evdoc", primaryKey = Some("event_id")))),
        EndpointSpec("parquet", path = s"$work/dest"),
        MigrationSpec(batchSize = 5000, checkpointRowThreshold = 5000,
          checkpointDir = s"$work/cp", rateLimit = 1000000000))
      val results = TransferRunner.run(s, spec, log = _ => ())
      require(TransferRunner.allCompleted(results),
        s"nested transfer failed: ${TransferRunner.summarize(results)}")
      TableTransferJob.readTarget(s, spec, "evdoc").select(
        col("event_id"),
        col("meta.etype").as("etype"),
        col("meta.who.uid").as("uid"),
        element_at(col("vals"), 2).as("v2"),
        element_at(col("tags"), "v").as("tag_v"))
    }),

    // --- ragged/deep JSON documents: INFERRED union schema (no
    //     hand-written DDL), per-row NULLs for absent fields — the
    //     SURVEY §7.4.5 deep/ragged-document gap
    "json_infer_extract" -> ((s, d) => {
      val ragged = T(s, d, "events").select(col("event_id"),
        when(col("event_id") % 3 === 0,
          concat(lit("{\"extra\": {\"a\": "), col("event_id"), lit("}}")))
          .otherwise(col("props")).as("doc"))
      graft.ops.Multimodal.parseInferred(ragged, "doc")
        .select(col("event_id"),
          col("doc_doc.k").as("k_val"),
          col("doc_doc.extra.a").as("a_val"))
    }),

    // =====================================================================
    // LLM-data-pipeline extensions (first-class per the build brief):
    // dedup family, similarity search, text analysis, multimodal, streaming.
    // =====================================================================

    // --- exact dedup: hash-groupBy on content (one shuffle on md5(text))
    "dedup_exact" -> ((s, d) => Dedup.exact(T(s, d, "documents"))),

    // --- fuzzy dedup: MinHash + banded LSH + exact-Jaccard confirm
    //     (bucket-join on band keys — no cartesian; see Dedup.minhashLsh)
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(T(s, d, "documents"))),

    // --- gated LSH recall (round 11, the ann_recall move applied to
    //     text dedup): how many of the exhaustive jaccard pairs the
    //     capped band screen surfaces, per bands setting — the
    //     "more bands → more recall" S-curve as hash-checked integers
    "dedup_lsh_recall" -> ((s, d) => Dedup.lshRecall(T(s, d, "documents"),
      thresholdsPct = Seq(30, 50, 70))),

    // --- SimHash fingerprints + hamming-banded near-dup pairs
    "dedup_simhash" -> ((s, d) => Dedup.simhash(T(s, d, "documents"))),
    "dedup_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(T(s, d, "documents"))),

    // --- similarity search: exact brute-force baseline + LSH-bucketed ANN
    //     + IVF (coarse-quantizer cells, nProbe scan) — the index path
    "ann_cosine_topk" -> ((s, d) => Similarity.bruteForceTopK(T(s, d, "embeddings"))),

    // --- Johnson-Lindenstrauss random projection (deterministic ±1 md5
    //     matrix, native graft_dot kernels): the dimensionality-reduction
    //     pass before indexing at scale; one row per (vec_id, dim)
    "embedding_project" -> ((s, d) =>
      Similarity.randomProjection(T(s, d, "embeddings"))),

    // --- corpus report card: per-source curation metrics + rollup total
    //     (integer-exact aggregates — partitioning-proof)
    "corpus_report" -> ((s, d) => Curation.corpusReport(T(s, d, "documents"))),

    // --- sliding-window chunking (window 32, stride 24): the context-
    //     window prep for training/retrieval corpora; narrow expansion
    "text_chunk_windows" -> ((s, d) =>
      Curation.chunkWindows(T(s, d, "documents"))),

    // --- int8 scalar quantization: per-vector affine codes + (offset,
    //     scale) — 4× memory for ANN; gate hashes the FULL code array
    "embedding_quantize" -> ((s, d) =>
      Similarity.quantize(T(s, d, "embeddings"))),

    // --- Z-order (Morton) clustering key: write-time layout so parquet
    //     min/max stats prune files on EITHER dimension at 100 TB
    "layout_zorder" -> ((s, d) =>
      Layout.withZValue(T(s, d, "orders").select("o_orderkey", "o_custkey"),
        "o_orderkey", "o_custkey")),

    // --- small-files compaction: fragment documents into 64 tiny files,
    //     compact key-clustered, read back — content must be IDENTICAL
    //     to the source table (the gate proves lossless maintenance)
    "files_compact" -> ((s, d) => {
      val work = graft.util.Fs.workDir("compact", d)
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      T(s, d, "documents").repartition(64)
        .write.mode("overwrite").parquet(s"$work/frag")
      Layout.compact(s, s"$work/frag", s"$work/compacted",
        targetBytes = 8L << 20, sortCol = "doc_id")
      s.read.parquet(s"$work/compacted")
    }),
    "ann_bucket_topk" -> ((s, d) => Similarity.bucketTopK(T(s, d, "embeddings"))),
    "ann_ivf_topk" -> ((s, d) => Similarity.ivfTopK(T(s, d, "embeddings"))),

    // --- IVF index LIFECYCLE: the cell-partitioned vector store built
    //     in TWO generations (even vectors indexed first, odd appended
    //     against the same frozen centroids) and probed as one — must
    //     hash-match the single-build oracle, proving append ≡ rebuild
    //     (the ANN sibling of dedup_index_lifecycle)
    // --- the IVF index MAINTAINED BY A STREAM (round 12): new vectors
    //     arrive as micro-batches, each appending its frozen-centroid
    //     cell assignments as an idempotent increment dir; the probe
    //     reads the union of generations. Stream-appended ≡ rebuilt
    //     (per-vector assignment, frozen centroids), so the oracle is
    //     the single-build probe — every standing index (bands, span
    //     grams, IVF cells) now has a stream-maintained variant.
    "streaming_ann_index" -> ((s, d) =>
      StreamingIngest.annIndexMaintainStream(s, d)),

    "ann_index_lifecycle" -> ((s, d) => {
      val e = T(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("emb").as("ce"))
      val gen0 = Similarity.ivfAssign(e.where(col("vec_id") % 2 === 0), cents)
      val gen1 = Similarity.ivfAssign(e.where(col("vec_id") % 2 === 1), cents)
      Similarity.ivfProbe(gen0.unionByName(gen1), e, cents)
    }),

    // --- IVF fed by the TRAINED coarse quantizer (VERDICT r3 #7): two
    //     deterministic Lloyd's rounds (distances and means rounded to
    //     6 dp so the oracle reproduces the quantizer exactly), then the
    //     same cell/probe machinery as ann_ivf_topk.
    "ann_ivf_trained_topk" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val cents = Similarity.trainCentroids(emb, k = 16, iters = 2, scale = Some(6))
      Similarity.ivfTopK(emb, centroids = Some(cents))
    }),

    // --- IVF-PQ (VERDICT r6 #3): product-quantized codes + asymmetric-
    //     distance scoring — the 100 TB ANN memory format; codebooks are
    //     four per-subspace trained quantizers, oracle replays them
    "ann_ivfpq_topk" -> ((s, d) => Similarity.ivfPqTopK(T(s, d, "embeddings"))),
    // two-stage retrieval: ADC screen (3k candidates from codes) →
    // exact re-rank reading full vectors ONLY for the candidates
    "ann_ivfpq_rerank" -> ((s, d) => Similarity.ivfPqRerankTopK(T(s, d, "embeddings"))),

    // --- gated recall@k (VERDICT r9 #3): integer hit counts of the
    //     IVF probe (per nProbe 1/2/4, vs exact cosine top-3) and the
    //     IVF-PQ rerank path (vs exact L2 top-3), over an off-centroid
    //     query window — "probe more cells for more recall" as a
    //     hash-checked number instead of a SCALE.md argument
    "ann_recall" -> ((s, d) => Similarity.annRecall(T(s, d, "embeddings"))),

    // --- SAMPLE-trained IVF (VERDICT r6 #8): the documented 100 TB
    //     recipe as code — Lloyd's runs on the vec_id%4==0 quarter of
    //     the collection (seeded by its first 16 members), the full
    //     collection only pays assignment; probe/scan unchanged
    "ann_ivf_sampled_topk" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = T(s, d, "embeddings")
      val cents = Similarity.trainCentroids(
        emb.where(col("vec_id") % 4 === 0), k = 16, iters = 2,
        scale = Some(6), initMaxId = Some(64))
      Similarity.ivfTopK(emb, centroids = Some(cents))
    }),

    // --- SemDeDup-style semantic dedup: trained k-means cells as the
    //     candidate generator, min-id keeper per cosine-dup group
    "dedup_semantic" -> ((s, d) => Similarity.semanticDedup(T(s, d, "embeddings"))),

    // --- exact n-gram Jaccard near-dup pairs (the exact counterpart of
    //     minhash-LSH): inverted shingle index, df-capped, no cartesian
    "dedup_ngram_jaccard" -> ((s, d) => Curation.ngramJaccardPairs(T(s, d, "documents"))),

    // --- asymmetric containment pairs: short doc embedded in a longer
    //     one (Jaccard-invisible); directed contained→container output
    "dedup_containment" -> ((s, d) => Curation.ngramContainmentPairs(T(s, d, "documents"))),

    // --- band-SCREENED exact-pair confirms: the bounded 100 TB variant
    //     of the two exhaustive ops above — capped LSH buckets generate
    //     candidates, the exact df-capped confirm runs only on those
    "dedup_jaccard_screened" -> ((s, d) =>
      Curation.screenedJaccardPairs(T(s, d, "documents"))),
    "dedup_containment_screened" -> ((s, d) =>
      Curation.screenedContainmentPairs(T(s, d, "documents"))),

    // --- content-defined chunk dedup: fnv-triggered boundaries instead
    //     of fixed windows — robust to insertions that shift every
    //     fixed window (paragraphDedup's structural blind spot)
    "dedup_cdc_chunks" -> ((s, d) => Curation.cdcChunkDedup(T(s, d, "documents"))),

    // --- the persistable LSH band index itself (what a production
    //     flow writes once and reads per batch) — oracle-verified so
    //     the INDEX is trustworthy, not just queries over it
    "dedup_lsh_index" -> ((s, d) =>
      Dedup.bandedKeys(T(s, d, "documents"), numHashes = 12, bands = 4,
        shingleLen = 3)),

    // --- incremental batch-vs-corpus near-dup screening (steady-state
    //     ingest: daily delta vs standing index, never all-pairs);
    //     corpus = even ids, batch = odd ids for the gate
    "dedup_incremental" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Dedup.incrementalNearDups(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    }),

    // --- the full index LIFECYCLE (VERDICT r6 #4): screen the odd-id
    //     batch against the even-id corpus index, admit non-dups,
    //     APPEND their band keys, then COMPACT a takedown set
    //     (doc_id%10==0) out — output is the maintained index itself,
    //     which the oracle rebuilds from scratch over the final doc set
    "dedup_index_lifecycle" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val corpus = docs.where(col("doc_id") % 2 === 0)
      val batch = docs.where(col("doc_id") % 2 === 1)
      // the standing index is a WRITTEN artifact read three times in
      // this flow (screen buckets, append base, compact input) — eager
      // localCheckpoint mirrors that read-from-storage shape instead of
      // re-running the corpus minhash pipeline once per consumer
      val index = Dedup.bandedKeys(corpus, numHashes = 12, bands = 4,
        shingleLen = 3).localCheckpoint(true)
      val dups = Dedup.incrementalNearDupsWithIndex(index, corpus, batch)
      val admitted = batch.join(
        dups.select(col("batch_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val appended = Dedup.indexAppend(index, admitted)
      Dedup.indexCompact(appended,
        docs.where(col("doc_id") % 10 === 0).select("doc_id"))
    }),

    // --- size-aware temperature sampling: keep prob derived from
    //     source size (p = min(1, c/sqrt(n))), seeded md5 keep decision
    "text_temperature_mix" -> ((s, d) => Curation.temperatureMix(T(s, d, "documents"))),

    // --- end-to-end admission decision: length/repetition/quality/
    //     near-dup signals composed into keep + sorted reason codes
    "curation_pipeline" -> ((s, d) => Curation.curationPipeline(T(s, d, "documents"))),

    // --- per-source length-quantile trim: cume_dist window per source,
    //     outliers outside (0.05, 0.95] dropped
    "text_length_trim" -> ((s, d) => Curation.lengthTrim(T(s, d, "documents"))),

    // --- corpus snapshot diff: added/removed/changed/unchanged by
    //     content hash between two derived snapshots of the corpus
    "corpus_diff" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val oldSnap = docs.where(col("doc_id") % 5 =!= 4)
      val newSnap = docs.where(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      Curation.corpusDiff(oldSnap, newSnap)
    }),

    // --- benchmark-contamination check: corpus docs sharing >= 2 word
    //     3-grams with a benchmark doc (broadcast bench side, one scan)
    "text_contamination" -> ((s, d) => Curation.contamination(T(s, d, "documents"))),

    // --- PII redaction with audit counts; deterministic synthetic PII
    //     (email + long id derived from doc_id) so the redaction FIRES
    "text_pii_redact" -> ((s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com ref "),
          (col("doc_id") * 1234567 + 10000000).cast("string")).as("text"))
      Curation.piiRedact(docs)
    }),

    // --- sequence packing: contiguous fixed-budget token packs per
    //     source (training context-window assembly)
    "text_pack_sequences" -> ((s, d) => Curation.packSequences(T(s, d, "documents"))),

    // --- Gopher-style repetition filters: duplicated-word fraction +
    //     top-bigram fraction per document (boilerplate/spam flags)
    "text_repetition" -> ((s, d) => Curation.repetitionStats(T(s, d, "documents"))),

    // --- deterministic weighted mixture sampling + seeded shuffle key
    //     (training-mixture assembly: per-source rates, no RNG)
    "text_mix_sample" -> ((s, d) => Curation.mixSample(T(s, d, "documents"),
      rates = Seq("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0))),

    // --- embedding-cosine near-dup (bucketed candidates + exact confirm)
    //     and the user-facing dedup result set (survivors of near-dedup)
    "dedup_embedding_cosine" -> ((s, d) => Similarity.embeddingNearDup(T(s, d, "embeddings"))),
    "dedup_near_keep" -> ((s, d) => Dedup.nearDedupKeep(T(s, d, "documents"))),

    // --- transitive near-dup clusters (connected components over the
    //     LSH pair graph through Dedup.propagateMinLabels, the shared
    //     closure core: union-find seeding, driver finish, star rounds)
    "dedup_clusters" -> ((s, d) => Dedup.nearDupClusters(T(s, d, "documents"))),

    // --- cluster-size histogram: the dedup pass's corpus-health report
    "dedup_cluster_stats" -> ((s, d) =>
      Dedup.clusterSizeHistogram(T(s, d, "documents"))),

    // --- quality-aware survivorship: each near-dup cluster keeps its
    //     HIGHEST-quality member (not the arbitrary min id) — the
    //     policy real curation applies after dedup finds the clusters
    "dedup_keep_best" -> ((s, d) =>
      Curation.keepBestInClusters(T(s, d, "documents"))),

    // --- the WHOLE admission path composed into one gated query:
    //     curation keep ∧ best-copy survivorship → per-source
    //     token-budget prefix admission. Every stage is its own green
    //     gate; this certifies the COMPOSITION a real pretraining-mix
    //     job runs (and that the stages' contracts actually compose)
    "pipeline_pretrain_mix" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val cp = Curation.curationPipeline(docs)
        .where(col("keep") === 1).select("doc_id")
      val kb = Curation.keepBestInClusters(docs)
        .where(col("keep")).select("doc_id")
      graft.ops.Sampling.tokenBudgetSample(
        docs.join(cp, "doc_id").join(kb, "doc_id"),
        budgetTokens = 15000L, seed = "mix1")
    }),

    // --- the FULL admission book as one gate (VERDICT r9 #2): every
    //     standalone admission stage composed end-to-end — benchmark
    //     contamination BLOCKS, curation keep ∧ best-copy survivorship
    //     ∧ perplexity band ADMIT, PII redaction rewrites the
    //     survivors (deterministic injected PII so the stage
    //     demonstrably fires; audit counts ride along), and the
    //     token-budget prefix admits from the CLEAN text. Each stage
    //     is its own green gate; this certifies the COMPLETE
    //     composition a production pretraining-mix job runs.
    "pipeline_pretrain_full" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val cont = Curation.contamination(docs).select("doc_id").distinct()
      val cp = Curation.curationPipeline(docs)
        .where(col("keep") === 1).select("doc_id")
      val kb = Curation.keepBestInClusters(docs)
        .where(col("keep")).select("doc_id")
      val band = Curation.logprobTrim(docs).select("doc_id")
      // `admitted` feeds the PII injection AND the budget join; `red`
      // (the regex-heavy redaction pass) feeds the budget sample AND
      // the final audit join-back — pin each once instead of re-running
      // the 4-signal join / redaction subtree per consumer (r19, the
      // surgicalPretrainBook shape; guide §2.4)
      val admitted = docs.join(cp, "doc_id").join(kb, "doc_id")
        .join(band, "doc_id")
        .join(cont, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val injected = admitted.select(col("doc_id"), col("source"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com ref "),
          (col("doc_id") * 1234567 + 10000000).cast("string")).as("text"))
      val red = Curation.piiRedact(injected).localCheckpoint(true)
      val forBudget = red.select(col("doc_id"), col("clean_text").as("text"))
        .join(admitted.select("doc_id", "source"), "doc_id")
      val out = graft.ops.Sampling.tokenBudgetSample(forBudget,
          budgetTokens = 15000L, seed = "mix1")
        .join(red.select("doc_id", "n_emails", "n_longnums"), "doc_id")
        .localCheckpoint(true)
      Seq(admitted, red).foreach(graft.ops.Dedup.releaseOwnCheckpoint)
      out
    }),

    // --- the SURGICAL admission variant: where pipeline_pretrain_full
    //     BLOCKS any benchmark-overlapping doc, this one admits it and
    //     TRIMS the leaked spans (decontaminateSpans over bench ∪
    //     admitted), budgeting over the clean text — benchmark docs
    //     themselves (the eval set) are never admitted. Composition of
    //     the r10 span machinery into the admission path, one gated
    //     query, nested-CTE oracle replaying every stage
    "pipeline_pretrain_surgical" -> ((s, d) => surgicalPretrainBook(s, d)),

    // --- the MEDIA admission book (VERDICT r10 #3): the media sibling
    //     of the pretrain books — per-asset keep/drop across ALL THREE
    //     binary modalities, each the conjunction of EXACT content
    //     survivorship (min-id keeper per decoded-content fingerprint
    //     group: pixel md5 for images, PCM-sample md5 for audio,
    //     payload md5 for video) and PERCEPTUAL survivorship (the
    //     closure keeper over the modality's banded-Hamming pair
    //     graph). One row per (modality, asset): keep_exact,
    //     keep_perceptual, admit = both. The oracle replays every
    //     stage — fixture decode formulas, fingerprints, bands,
    //     capped buckets, Hamming confirms, recursive closures, and
    //     the min-id keeps — per modality in nested CTE chains.
    "pipeline_media_admission" -> ((s, d) => mediaAdmissionBook(s, d)),

    // --- the media book FROM THE PERSISTED INDEX (VERDICT r11 #5):
    //     identical verdicts composed from the parquet signature
    //     artifacts (built once per JVM by mediaSignatureIndex — the
    //     *_index_lifecycle artifact made real) instead of re-decoding
    //     the media bytes; same oracle as pipeline_media_admission, so
    //     the hash gate IS the book-from-index ≡ book-from-decode proof.
    "pipeline_media_admission_from_index" ->
      ((s, d) => mediaAdmissionBookFromIndex(s, d)),

    // --- the media admission book with the QUARANTINE tier (VERDICT
    //     r11 #1): the same corpus PLUS a deliberately corrupt asset
    //     per modality for every 5th event (truncated stream, CRC-valid
    //     zip-bomb header, flipped checksum, wrong magic, corrupt
    //     keyframe payload inside a valid container) at id 10⁷+event_id.
    //     Each corrupt asset routes to a per-asset quarantine verdict
    //     (admit=false, reason=decode:<kind>) instead of killing its
    //     task; good assets' verdicts stay byte-identical to
    //     pipeline_media_admission's (quarantined assets seed no
    //     fingerprint group and no pair bucket). The video kind-2 poison
    //     corrupts only the PERCEPTUAL corpus (container parses, exact
    //     fingerprint computes) — proving the either-tier-fails →
    //     quarantine rule, not just whole-asset rot.
    "multimodal_quarantine" -> ((s, d) => {
      val (imgBin, audBin, vidPBin, vidEBin) = poisonedMediaCorpora(s, d)
      graft.ops.Multimodal.mediaAdmissionBookSafe(imgBin, audBin, vidPBin, vidEBin)
    }),

    // --- the quarantine book FROM THE PERSISTED SAFE INDEX (VERDICT
    //     r13 #2): the safe variants' per-asset outputs (ok/reason +
    //     signature columns) are persisted once per JVM per corpus —
    //     exactly like mediaSignatureIndex persists the strict frames —
    //     and the book composes verdicts from the parquet artifacts
    //     without re-decoding the poisoned corpus. Same oracle as
    //     multimodal_quarantine, so the hash gate IS the
    //     book-from-index ≡ book-from-decode proof for the quarantine
    //     tier too.
    "multimodal_quarantine_from_index" -> ((s, d) => {
      val ix = quarantineSignatureIndex(s, d)
      graft.ops.Multimodal.composeSafeMediaBook(
        s.read.parquet(s"$ix/img_ahash_safe"),
        s.read.parquet(s"$ix/img_fp_safe"),
        s.read.parquet(s"$ix/aud_fp_perceptual_safe"),
        s.read.parquet(s"$ix/aud_fp_exact_safe"),
        s.read.parquet(s"$ix/vid_phash_safe"),
        s.read.parquet(s"$ix/vid_fp_safe"))
    }),

    // --- the quarantine REPORT (the monitoring view an ingest operator
    //     actually watches): per-(modality, reason) asset counts over
    //     the poisoned corpus. Composed from the PERSISTED safe index
    //     (r15, VERDICT r14 #7): the report reads the same parquet
    //     artifacts the quarantine book composes from — the per-asset
    //     (ok, reason) rows of the fused safe passes, spec-pinned equal
    //     to the standalone decode's — so the monitoring view costs one
    //     columnar scan + one tiny groupBy, never a corpus re-decode.
    //     Oracle unchanged; reason volumes stay hash-gated.
    "multimodal_quarantine_report" -> ((s, d) => {
      val ix = quarantineSignatureIndex(s, d)
      def tier(modality: String, artifact: String) =
        s.read.parquet(s"$ix/$artifact")
          .select(lit(modality).as("modality"), col("reason"))
      tier("image", "img_ahash_safe")
        .unionByName(tier("audio", "aud_fp_perceptual_safe"))
        .unionByName(tier("video", "vid_phash_safe"))
        .groupBy("modality", "reason")
        .agg(count(lit(1)).as("n"))
    }),

    // --- the quarantine tier over the two COMPRESSED codecs the media
    //     book does not exercise (JPEG — the truncated ENTROPY stream
    //     is this family's canonical corruption — and LZW GIF): good
    //     assets keep their exact decoded pixel statistics, poisoned
    //     assets (every 5th event: cut entropy tails, a checksum-free
    //     SOF0 patched to a 2³²-pixel raster, defaced magic, a
    //     from-scratch bomb GIF) become per-asset quarantine rows with
    //     classified reasons; caps fire before any allocation.
    "multimodal_quarantine_codecs" -> ((s, d) => {
      import graft.ops.Multimodal._
      val jpegBin = payloads(eventIds(s, d), syntheticJpeg, "img").unionByName(
        poisonedPayloads(s, d, "img", Seq(
          e => poisonJpegTruncatedEntropy(syntheticJpeg(QBase + e)),
          e => poisonJpegBomb(syntheticJpeg(QBase + e)))))
      val gifBin = payloads(eventIds(s, d), syntheticGif, "img").unionByName(
        poisonedPayloads(s, d, "img", Seq(
          e => poisonTruncated(syntheticGif(QBase + e)),
          e => poisonGifBadMagic(QBase + e),
          _ => poisonGifBomb())))
      jpegStatsSafe(jpegBin, "id", "img").toDF()
        .withColumn("codec", lit("jpeg"))
        .unionByName(gifStatsSafe(gifBin, "id", "img").toDF()
          .withColumn("codec", lit("gif")))
        .select("codec", "id", "ok", "reason", "width", "height",
          "sum_r", "sum_g", "sum_b", "px_min", "px_max")
    }),

    // --- the FULL multimodal pretraining book (VERDICT r11 #3): the
    //     text book and the media book COMPOSE. Real interleaved
    //     pretraining data admits a document iff its text survives the
    //     surgical pipeline AND every asset it references survives the
    //     media book. The doc→asset reference fixture is closed-form
    //     (doc d references 1 + d%3 assets, asset_id =
    //     (31·d + 17·i) mod |events|, modality cycling image/audio/
    //     video), so the oracle replays the whole composition — both
    //     books' nested CTE chains plus the reference arithmetic — in
    //     one query. Shape: the reference table is a generated column
    //     explode (no new source), dropped assets anti-join against it
    //     (pair-stream-sized), verdict is one row per document.
    "pipeline_multimodal_admission" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val textAdm = s.read.parquet(surgicalAdmittedDocsPath(s, d))
        .withColumn("text_admit", lit(true))
      // the media verdicts come from the persisted signature index —
      // the composition gate never re-decodes what the media book's
      // decode pass (or this JVM's first media gate) already extracted
      val media = mediaAdmissionBookFromIndex(s, d)
      val nev = T(s, d, "events")
        .agg((max(col("event_id").cast("long")) + 1L).as("nev"))
      val refs = docs.select(col("doc_id").cast("long").as("doc_id"))
        .crossJoin(nev) // 1-row scalar fan-in, not a data cartesian
        .select(col("doc_id"),
          explode(sequence(lit(0L), col("doc_id") % 3L)).as("i"), col("nev"))
        .select(col("doc_id"), col("i"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("i") % 3L).cast("int") + 1).as("modality"),
          ((col("doc_id") * 31L + col("i") * 17L) % col("nev")).as("asset_id"))
      val dropped = media.where(!col("admit"))
        .select(col("modality"), col("id").as("asset_id"))
      val bad = refs.join(dropped, Seq("modality", "asset_id"), "left_semi")
        .select("doc_id").distinct().withColumn("has_dropped_asset", lit(true))
      docs.select(col("doc_id").cast("long").as("doc_id"))
        .join(refs.groupBy("doc_id").agg(count(lit(1)).as("n_refs")), "doc_id")
        .join(textAdm, Seq("doc_id"), "left")
        .join(bad, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("text_admit"), lit(false)).as("text_admit"),
          col("n_refs"),
          coalesce(col("has_dropped_asset"), lit(false)).as("has_dropped_asset"),
          (coalesce(col("text_admit"), lit(false)) &&
            !coalesce(col("has_dropped_asset"), lit(false))).as("admit"))
    }),

    // --- paragraph-level (chunk) dedup: per-document fraction of
    //     10-word chunks that occur elsewhere in the corpus (the
    //     repeated-span removal pass, vs whole-document near-dup)
    "dedup_paragraph" -> ((s, d) => Curation.paragraphDedup(T(s, d, "documents"))),

    // --- exact substring-span dedup (Lee et al. 2022, stride-1 word
    //     grams → corpus-frequency screen → gaps-and-islands maximal
    //     spans) and its rewrite pass (all covered positions removed,
    //     survivors re-joined; audit counters ride along)
    "dedup_span_exact" -> ((s, d) => Curation.spanDedup(T(s, d, "documents"))),
    "dedup_span_trim" -> ((s, d) => Curation.spanTrim(T(s, d, "documents"))),

    // --- steady-state span screen: the odd-id batch's spans that
    //     duplicate the even-id standing corpus, via the corpus's
    //     distinct gram index (the persistable artifact)
    "dedup_span_incremental" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Curation.incrementalSpanDedup(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    }),

    // --- the span-gram index LIFECYCLE (the span analog of
    //     dedup_index_lifecycle): build (g, df) over the even-id
    //     corpus, screen the odd-id batch (any gram hit = dup,
    //     rejected), APPEND admitted docs' counts, COMPACT the
    //     takedown set (doc_id%10==0, drawn from corpus ∪ admitted —
    //     count subtraction must never see a ghost) — output is the
    //     maintained index itself; the oracle rebuilds it from scratch
    //     over the final doc set (append/compact ≡ rebuild)
    "dedup_span_index_lifecycle" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val corpus = docs.where(col("doc_id") % 2 === 0)
      val batch = docs.where(col("doc_id") % 2 === 1)
      // standing artifact read twice (screen + append base): eager
      // localCheckpoint mirrors the read-from-storage shape
      val index = Curation.spanIndexBuild(corpus).localCheckpoint(true)
      val dupDocs = Curation.stride1Grams(batch, 10)
        .join(index.select("g"), Seq("g"), "left_semi")
        .select("doc_id").distinct()
      val admitted = batch.join(dupDocs, Seq("doc_id"), "left_anti")
      val appended = Curation.spanIndexAppend(index, admitted)
      Curation.spanIndexCompact(appended,
        corpus.unionByName(admitted).where(col("doc_id") % 10 === 0))
    }),

    // --- span-level benchmark decontamination: positions covered by a
    //     5-gram also present in the benchmark slice removed, un-leaked
    //     remainder kept (vs text_contamination's whole-doc flag)
    "text_decontaminate_spans" -> ((s, d) =>
      Curation.decontaminateSpans(T(s, d, "documents"))),

    // --- cross-source duplicate resolution: prefer the copy from the
    //     highest-priority source within each content-key group
    "dedup_cross_source" -> ((s, d) => Curation.crossSourceDedup(T(s, d, "documents"))),

    // --- hashed-feature linear quality classifier (fastText-shaped
    //     scoring pass; fixed deterministic weights, integer-exact sum)
    "text_quality_classifier" -> ((s, d) => Curation.qualityClassifier(T(s, d, "documents"))),

    // --- balanced shard assignment: size-ranked round-robin into 8
    //     training shards across 16 parallel rank groups
    "text_shard_assign" -> ((s, d) => Curation.shardAssign(T(s, d, "documents"))),

    // --- text analysis
    "text_langid" -> ((s, d) => TextAnalysis.langId(T(s, d, "documents"))),
    "text_quality" -> ((s, d) => TextAnalysis.quality(T(s, d, "documents"))),
    "text_tokens" -> ((s, d) => TextAnalysis.tokenStats(T(s, d, "documents"))),
    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(T(s, d, "documents"))),

    // --- TF-IDF top-terms per document (two-shuffle exact design)
    "text_tfidf" -> ((s, d) => TextAnalysis.tfIdf(T(s, d, "documents"))),

    // --- BPE tokenizer-training statistics: corpus-wide adjacent
    //     character-pair frequencies over the deduplicated vocabulary
    "text_bpe_pairs" -> ((s, d) => TextAnalysis.bpePairs(T(s, d, "documents"))),
    // the real iterative merge LEARNER (8 rounds of weighted pair argmax
    // + greedy fold-merge over the vocabulary), and the encode pass that
    // tokenizes the corpus with the learned table — oracle replays the
    // identical algorithm as a generated CTE chain (list_reduce fold)
    "text_bpe_train" -> ((s, d) => TextAnalysis.bpeTrain(T(s, d, "documents"))),
    "text_bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(T(s, d, "documents"))),

    // --- encode under the PERSISTED merge artifact (the production
    //     train-once/encode-many contract): the corpus is encoded with
    //     the merge TABLE bpeTrain emits, through the artifact-driven
    //     broadcast fold — must equal the in-place bpeEncode bit-for-bit
    //     (same oracle), proving the tokenizer artifact is sufficient
    "text_bpe_encode_pretrained" -> ((s, d) => {
      val docs = T(s, d, "documents")
      TextAnalysis.bpeEncodeWith(docs, TextAnalysis.bpeTrain(docs, 8))
    }),

    // --- unigram LM scoring (perplexity proxy for quality filtering);
    //     per-token log-probs rounded then DECIMAL-summed for exactness
    "text_unigram_logprob" -> ((s, d) =>
      TextAnalysis.unigramLogProb(T(s, d, "documents"))),

    // --- perplexity-band filter (CCNet-style): keep each source's
    //     middle logprob quantile band — low tail is noise, high tail
    //     is boilerplate; cume_dist per source like text_length_trim
    "text_logprob_trim" -> ((s, d) =>
      Curation.logprobTrim(T(s, d, "documents"))),

    // --- bigram LM scoring, add-1 smoothed: order-sensitive perplexity
    //     proxy; narrow bigram expansion, vocabulary-bounded aggs
    "text_bigram_logprob" -> ((s, d) =>
      TextAnalysis.bigramLogProb(T(s, d, "documents"))),

    // --- DSIR-style importance-resampling selection (Xie et al. 2023):
    //     hashed unigram+bigram bucket models, target = the src0/src1
    //     "curated seed" slice, deterministic top-k by log importance
    //     weight; the bucket-ratio table is a broadcast map-side join
    "text_dsir_select" -> ((s, d) =>
      TextAnalysis.dsirSelect(T(s, d, "documents"),
        col("source").isin("src0", "src1"))),

    // --- ArrayType column ops over embeddings (Cassandra list<> analog)
    "array_stats" -> ((s, d) => {
      val e = T(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      e.select(col("vec_id"),
        size(col("emb")).cast("bigint").as("dim"),
        fx(element_at(col("emb"), 1), 6).as("first_val"),
        fx(sqrt(aggregate(transform(col("emb"), x => x * x),
          lit(0.0), (a, x) => a + x)), 6).as("l2_norm"),
        fx(aggregate(col("emb"), lit(0.0), (a, x) => a + x) /
          size(col("emb")).cast("double"), 6).as("mean_val"))
    }),

    // --- cube aggregation (alongside rollup)
    "agg_cube" -> ((s, d) =>
      T(s, d, "orders").cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))),

    // --- multimodal: binary payload plumbing + JSON field extraction
    "multimodal_binary" -> ((s, d) => Multimodal.binaryFeatures(T(s, d, "events"))),
    "json_extract" -> ((s, d) => Multimodal.jsonExtract(T(s, d, "events"))),
    // --- REAL image decode (VERDICT r4 #4): per-row deterministic BMP
    //     fixtures (closed-form pixels) are ENCODED, then DECODED by the
    //     pure-JVM Bmp codec per partition; the oracle recomputes the
    //     pixel statistics from the generating formula — any error in
    //     row order, BGR layout, or padding breaks the hash.
    "multimodal_decode" -> ((s, d) => {
      payloads(eventIds(s, d), Multimodal.syntheticBmp, "img")
        .transform(df => Multimodal.imageStats(df, "id", "img").toDF())
    }),

    // --- perceptual average-hash over REAL decoded pixels: integer
    //     brightness-threshold bits (gray·n > Σgray), closed-form
    //     replayable — the image modality's near-dup fingerprint
    "multimodal_ahash" -> ((s, d) => {
      Multimodal.imageAHash(
        payloads(eventIds(s, d), Multimodal.syntheticBmp, "img"), "id", "img").toDF()
    }),

    // --- image near-dup pairs: simhash-style 4×12-bit bands over the
    //     aHash, capped buckets, exact Hamming confirm — dedup extended
    //     to the image modality
    "dedup_image_pairs" -> ((s, d) => {
      val hashes = Multimodal.imageAHash(
        payloads(eventIds(s, d), Multimodal.syntheticBmp, "img"), "id", "img").toDF()
      Multimodal.imageAHashPairs(hashes)
    }),

    // --- pairs → a per-asset keep/drop decision: the image near-dup
    //     pair graph through the shared connected-components core
    //     (Dedup.propagateMinLabels), keep = cluster representative —
    //     the shape a curation pipeline consumes (dedup_clusters for
    //     the media modalities); oracle replays the closure with a
    //     recursive CTE over the pairs oracle
    "dedup_image_clusters" -> ((s, d) => {
      // signature frame checkpointed: it fans out into the pair screen
      // AND the cluster-membership ids join, and unmaterialized each
      // consumer re-runs the full corpus decode (round 11, the media
      // admission book's lesson applied to every multi-consumer media
      // gate). At 100 TB this frame IS the persisted index artifact
      // the *_index_lifecycle ops maintain — decode runs once.
      val hashes = Multimodal.imageAHash(
        payloads(eventIds(s, d), Multimodal.syntheticBmp, "img"), "id", "img").toDF()
        .localCheckpoint(true)
      Multimodal.mediaNearDupClusters(hashes.select("id"),
        Multimodal.imageAHashPairs(hashes))
    }),

    // --- steady-state incremental screen for images: a NEW batch
    //     against the STANDING corpus index — batch cost proportional
    //     to the batch, corpus side pre-bucketed and capped; the media
    //     analog of dedup_incremental. Split is on id-blocks of 20
    //     (dims repeat with period 20, so a parity split would never
    //     straddle a same-dimension pair)
    "dedup_image_incremental" -> ((s, d) => {
      // checkpointed: corpus and batch sides filter the SAME signature
      // frame — decode once (see dedup_image_clusters)
      val hashes = Multimodal.imageAHash(
        payloads(eventIds(s, d), Multimodal.syntheticBmp, "img"), "id", "img").toDF()
        .localCheckpoint(true)
      Multimodal.incrementalImageNearDups(
        hashes.where(expr("id div 20") % 2 === 0),
        hashes.where(expr("id div 20") % 2 === 1))
    }),

    // --- the image screen as a STREAM: new image batches vs the
    //     standing corpus index, stream-static joins only (batch hash
    //     carried through the band join), stateful dropDuplicates; no
    //     candCap (windows are illegal on streams) — stream == batch
    //     minus the cap, same oracle CTE chain uncapped
    "streaming_image_dedup" -> ((s, d) =>
      StreamingIngest.imageDedupStream(s, d)),

    // --- the quarantine tier at the STREAM boundary (round 12): a
    //     corrupt asset in a stream wedges the micro-batch retry loop
    //     forever — strictly worse than the batch failure the batch
    //     quarantine tier fixes. Incoming assets (1 poisoned per 5th
    //     source row) safe-decode inside foreachBatch; malformed →
    //     per-asset quarantine rows, good → screened vs the standing
    //     corpus index. Per-asset verdicts are batch-slicing-invariant
    //     (one asset, one micro-batch, static corpus), so the oracle
    //     replays the batch computation.
    "streaming_media_quarantine" -> ((s, d) =>
      StreamingIngest.mediaQuarantineStream(s, d)),

    // --- the VIDEO twin: the decode-heaviest stream (container parse +
    //     per-keyframe image decode per asset) with container-level AND
    //     payload-level poison — the corrupt-keyframe kind parses fine
    //     and quarantines only at the image decode, the video-specific
    //     hazard an outer container check cannot catch.
    "streaming_video_quarantine" -> ((s, d) =>
      StreamingIngest.videoQuarantineStream(s, d)),

    // --- REAL COMPRESSED image decode (VERDICT r5 #5): per-row PNG
    //     fixtures (zlib IDAT, row filters rotating through all five
    //     PNG filter types) decoded by the pure-JVM Png codec per
    //     partition; the oracle recomputes the pixel statistics from
    //     the generating formula — an error in inflate handling,
    //     filter reconstruction, or channel order breaks the hash.
    "multimodal_png" -> ((s, d) => {
      payloads(eventIds(s, d), Multimodal.syntheticPng, "img")
        .transform(df => Multimodal.pngStats(df, "id", "img").toDF())
    }),

    // --- REAL LOSSY decode (VERDICT r6 #5): baseline-JPEG fixtures
    //     (Huffman entropy stream, unit quant tables, per-block constant
    //     YCbCr so the transform pipeline is exact) through the pure-JVM
    //     Jpeg codec; the oracle composes the block formula with the
    //     fixed-point YCbCr→RGB integers.
    "multimodal_jpeg" -> ((s, d) => {
      payloads(eventIds(s, d), Multimodal.syntheticJpeg, "img")
        .transform(df => Multimodal.jpegStats(df, "id", "img").toDF())
    }),

    // --- REAL container parse: ISO-BMFF (MP4) fixtures through the
    //     pure-JVM Mp4 codec — box-tree walk, stts/stsz/stsc/stco/stss
    //     sample tables, mdat payload extraction, keyframe sampling;
    //     the oracle recomputes sample layout + byte sums in closed form.
    "multimodal_mp4" -> ((s, d) => {
      payloads(eventIds(s, d), Multimodal.syntheticMp4, "vid")
        .transform(df => Multimodal.mp4Stats(df, "id", "vid").toDF())
    }),

    // --- container-invariant video fingerprint: md5 of the per-frame
    //     payload byte-sum sequence from the REAL box-tree parse —
    //     re-muxed copies (metadata/timescale changes, same frames)
    //     fingerprint identically; the video modality's near-dup key
    "multimodal_video_fingerprint" -> ((s, d) => {
      Multimodal.videoFingerprint(
        payloads(eventIds(s, d), Multimodal.syntheticMp4, "vid"), "id", "vid").toDF()
    }),

    // --- re-mux duplicate pairs: exact-equality buckets on the video
    //     fingerprint through the shared capped-bucket machinery
    "dedup_video_pairs" -> ((s, d) => {
      val fps = Multimodal.videoFingerprint(
        payloads(eventIds(s, d), Multimodal.syntheticMp4, "vid"), "id", "vid").toDF()
      Multimodal.videoNearDupPairs(fps)
    }),

    // --- and the keep/drop decision via the shared closure — every
    //     modality runs pairs → clusters → keep. The closure consumes
    //     STAR edges (min → member per equality bucket), not the full
    //     in-bucket pair expansion: identical components at O(cap)
    //     instead of O(cap²) edges per bucket (round 11 — the 10×
    //     fixture's 18M-pair graph OOMed the sweep; the 0.57M-edge
    //     star closure is a footnote). Oracle unchanged: it replays
    //     the all-pairs closure, which yields the same labels.
    "dedup_video_clusters" -> ((s, d) => {
      val fps = Multimodal.videoFingerprint(
        payloads(eventIds(s, d), Multimodal.syntheticMp4, "vid"), "id", "vid").toDF()
        .localCheckpoint(true) // two consumers — decode once (see dedup_image_clusters)
      Multimodal.mediaNearDupClusters(fps.select("id"),
        Multimodal.videoNearDupStarEdges(fps))
    }),

    // --- steady-state incremental screen for video on the EXACT
    //     container fingerprint: new clips (odd 256-blocks) against the
    //     standing corpus fp index through the shared capped-bucket
    //     core (256 divides the fixtures' dominant collision period
    //     8960 with an odd quotient, so colliding pairs straddle the
    //     split) — every modality now has its incremental screen
    "dedup_video_incremental" -> ((s, d) => {
      val fps = Multimodal.videoFingerprint(
        payloads(eventIds(s, d), Multimodal.syntheticMp4, "vid"), "id", "vid").toDF()
        .localCheckpoint(true) // both split sides — decode once (see dedup_image_clusters)
      Multimodal.incrementalVideoNearDups(
        fps.where(expr("id div 256") % 2 === 0),
        fps.where(expr("id div 256") % 2 === 1))
    }),

    // --- TRANSCODE-robust perceptual video signature (VERDICT r9 #1):
    //     real stss keyframe walk → REAL image decode of each keyframe
    //     (codec sniffed — the fixture transcodes between BMP and PNG)
    //     → the shared aHash bits per frame → one BIGINT clip signature
    "multimodal_video_phash" -> ((s, d) => {
      Multimodal.videoPerceptualHash(
        payloads(eventIds(s, d), Multimodal.syntheticVideoMp4, "vid"), "id", "vid").toDF()
    }),

    // --- perceptual video near-dup pairs: the clip signature through
    //     the ONE shared banded-Hamming core (bands = per-keyframe
    //     16-bit folded hashes) — catches transcodes/brightness-shifted
    //     re-encodes the exact fingerprint is blind to
    "dedup_video_perceptual" -> ((s, d) => {
      val sigs = Multimodal.videoPerceptualHash(
        payloads(eventIds(s, d), Multimodal.syntheticVideoMp4, "vid"), "id", "vid").toDF()
      Multimodal.videoPerceptualPairs(sigs)
    }),

    // --- and the perceptual pair graph through the shared closure to
    //     keep/drop — every modality now has a PERCEPTUAL pairs →
    //     clusters → keep path, not just image/audio
    "dedup_video_perceptual_clusters" -> ((s, d) => {
      val sigs = Multimodal.videoPerceptualHash(
        payloads(eventIds(s, d), Multimodal.syntheticVideoMp4, "vid"), "id", "vid").toDF()
        .localCheckpoint(true) // two consumers — decode once (see dedup_image_clusters)
      Multimodal.mediaNearDupClusters(sigs.select("id"),
        Multimodal.videoPerceptualPairs(sigs))
    }),

    // --- steady-state incremental screen on the PERCEPTUAL clip
    //     signature (the transcode-robust key, vs the exact-fp screen
    //     above): (id div 2) parity puts each content's {v0,v1} in the
    //     corpus and {v2,v3} in the batch — every transcode family
    //     straddles the split
    "dedup_video_perceptual_incremental" -> ((s, d) => {
      val sigs = Multimodal.videoPerceptualHash(
        payloads(eventIds(s, d), Multimodal.syntheticVideoMp4, "vid"), "id", "vid").toDF()
        .localCheckpoint(true) // both split sides — decode once (see dedup_image_clusters)
      Multimodal.incrementalVideoPerceptualNearDups(
        sigs.where(expr("id div 2") % 2 === 0),
        sigs.where(expr("id div 2") % 2 === 1))
    }),

    // --- the perceptual screen as a STREAM: new clips parsed, decoded
    //     and signed inside the micro-batch, screened against the
    //     standing signature index via stream-static joins only — the
    //     video sibling of streaming_image_dedup, same uncapped oracle
    "streaming_video_dedup" -> ((s, d) =>
      StreamingIngest.videoDedupStream(s, d)),

    // --- the span screen as a STREAM: gram explode in the micro-batch,
    //     stream-static semi-join vs the standing corpus gram index,
    //     raw (doc_id, pos) hits emitted — island consolidation stays
    //     the batch pass's job (the online/offline split production runs)
    "streaming_span_screen" -> ((s, d) =>
      StreamingIngest.spanScreenStream(s, d)),

    // --- the streaming screen MAINTAINING the artifact it reads
    //     (VERDICT r10 #5): admitted docs' gram counts merged into the
    //     standing (g, df) index from foreachBatch — idempotent
    //     per-batch increment dirs, additive compaction on read; the
    //     oracle rebuilds the index from scratch over the final doc
    //     set (stream-appended ≡ rebuild)
    "streaming_span_index" -> ((s, d) =>
      StreamingIngest.spanIndexMaintainStream(s, d)),

    // --- TIME-ALIGNED perceptual signature: slots at fractions of the
    //     stts timeline instead of stss keyframe order — invariant to
    //     KEYFRAME RE-PLACEMENT (the fixtures vary keyStride 1..4,
    //     which provably breaks the stride-aligned sampler; spec'd)
    "multimodal_video_phash_aligned" -> ((s, d) => {
      Multimodal.videoPerceptualHashTimeAligned(
        payloads(eventIds(s, d), Multimodal.syntheticVideoMp4T, "vid"), "id", "vid").toDF()
    }),

    // --- REAL LZW decode: GIF fixtures (variable-width code stream,
    //     256-entry palette) through the pure-JVM Gif codec — the
    //     second compressed format, on a different algorithm family
    //     than PNG's DEFLATE; oracle composes the index and palette
    //     formulas in closed form.
    "multimodal_gif" -> ((s, d) => {
      payloads(eventIds(s, d), Multimodal.syntheticGif, "img")
        .transform(df => Multimodal.gifStats(df, "id", "img").toDF())
    }),

    // --- frame sampling over a REAL multi-frame container: animated
    //     GIF fixtures, every 2nd frame kept (video keyframe shape)
    "multimodal_gif_frames" -> ((s, d) => {
      payloads(eventIds(s, d), Multimodal.syntheticGifAnim, "img")
        .transform(df => Multimodal.gifFrameSample(df, "id", "img").toDF())
    }),

    // --- REAL audio decode: same move for WAV (RIFF chunk walk, PCM16,
    //     interleaved channels) — per-clip sample statistics the oracle
    //     recomputes from the fixture formula.
    "multimodal_audio" -> ((s, d) => {
      payloads(eventIds(s, d), Multimodal.syntheticWav, "clip")
        .transform(df => Multimodal.audioStats(df, "id", "clip").toDF())
    }),

    // --- decode → framed features: per-window exact integer energy
    //     (16-frame windows, all channels) — the VAD/loudness shape
    "multimodal_audio_energy" -> ((s, d) => {
      payloads(eventIds(s, d), Multimodal.syntheticWav, "clip")
        .transform(df => Multimodal.audioEnergyWindows(df, "id", "clip").toDF())
    }),

    // --- volume-invariant audio fingerprint: sign-of-delta window
    //     energies over REAL decoded samples — integer-only, the audio
    //     analog of the image aHash
    "multimodal_audio_fingerprint" -> ((s, d) => {
      Multimodal.audioFingerprint(
        payloads(eventIds(s, d), Multimodal.syntheticWav, "clip"), "id", "clip").toDF()
    }),

    // --- audio near-dup pairs: the fingerprint through the SAME
    //     banded-Hamming machinery as dedup_image_pairs (4×4-bit bands,
    //     capped buckets, exact Hamming confirm) — every modality now
    //     has a gated PAIRS operator, not just a signature
    "dedup_audio_pairs" -> ((s, d) => {
      val fps = Multimodal.audioFingerprint(
        payloads(eventIds(s, d), Multimodal.syntheticWav, "clip"), "id", "clip").toDF()
      Multimodal.audioFingerprintPairs(fps)
    }),

    // --- steady-state incremental screen for audio: new clips (odd
    //     66-blocks) against the standing fingerprint index (even
    //     blocks — 66 = lcm(2, 33) keeps (channels, n_windows) groups
    //     straddling the split); the shared incrementalScreen core
    "dedup_audio_incremental" -> ((s, d) => {
      // checkpointed: both split sides — decode once (see dedup_image_clusters)
      val fps = Multimodal.audioFingerprint(
        payloads(eventIds(s, d), Multimodal.syntheticWav, "clip"), "id", "clip").toDF()
        .localCheckpoint(true)
      Multimodal.incrementalAudioNearDups(
        fps.where(expr("id div 66") % 2 === 0),
        fps.where(expr("id div 66") % 2 === 1))
    }),

    // --- and the audio pair graph through the shared closure to a
    //     keep/drop decision, like dedup_image_clusters
    "dedup_audio_clusters" -> ((s, d) => {
      val fps = Multimodal.audioFingerprint(
        payloads(eventIds(s, d), Multimodal.syntheticWav, "clip"), "id", "clip").toDF()
        .localCheckpoint(true) // two consumers — decode once (see dedup_image_clusters)
      Multimodal.mediaNearDupClusters(fps.select("id"),
        Multimodal.audioFingerprintPairs(fps))
    }),

    // --- multimodal resize stage: fit byte-derived pseudo dims inside
    //     32px, integer-exact → oracle-gated (payload → dims → resize)
    "multimodal_resize" -> ((s, d) =>
      Multimodal.resizePlan(T(s, d, "events"))),

    // --- REAL pixel resample (r14): decode the BMP fixtures, fit
    //     inside 4px (every fixture actually downsamples), nearest-
    //     neighbor sample, emit new dims + channel sums + the
    //     thumbnail's pixelMd5 content fingerprint; the oracle replays
    //     dims, the sx/sy index map, the fixture pixel formulas, and
    //     the md5 string from closed form
    "multimodal_resample" -> ((s, d) => {
      val imgs = payloads(eventIds(s, d), Multimodal.syntheticBmp, "img")
      Multimodal.imageResample(imgs, "id", "img").toDF()
    }),

    // --- real nearest-neighbor audio resample (r15, the audio sibling
    //     of multimodal_resample): rate-normalize every clip to 16 kHz —
    //     integer frame map f·nf0 div nf1, exact resampled sums, content
    //     identity through the one sampleMd5 definition; oracle replays
    //     the closed-form samples through the same index map
    "multimodal_audio_resample" -> ((s, d) => {
      val clips = payloads(eventIds(s, d), Multimodal.syntheticWav, "clip")
      Multimodal.audioResample(clips, "id", "clip").toDF()
    }),

    // --- streaming: bounded Structured Streaming run == batch oracle
    "streaming_window_counts" -> ((s, d) => StreamingIngest.windowCounts(s, d)),

    // --- streaming, product surface: append mode + watermark-closed
    //     windows to a DURABLE parquet sink (bounded state — complete
    //     mode above is gate-harness only); emits exactly the closed
    //     windows, which the oracle recomputes in batch
    "streaming_window_append" -> ((s, d) => StreamingIngest.windowCountsAppend(s, d)),

    // --- streaming session windows (30-min gap): merged sessions per
    //     user == a batch gap-and-island sessionization (VERDICT r3 #9)
    "streaming_session_counts" -> ((s, d) => StreamingIngest.sessionCounts(s, d)),

    // --- streaming with explicit state (mapGroupsWithState): one bounded
    //     micro-batch → per-user state update == batch GROUP BY
    "streaming_stateful_counts" -> ((s, d) => StreamingIngest.statefulUserCounts(s, d)),

    // --- streaming HLL: the cardinality sketch maintained AS stream
    //     state (bounded at shards×4096 rows forever); oracle replays
    //     the batch register build → stream == batch proven by hash
    "streaming_hll_registers" -> ((s, d) => StreamingIngest.hllRegisters(s, d)),

    // --- streaming dedup: dropDuplicates state bounded by the watermark;
    //     emitted key set == batch DISTINCT
    "streaming_dedup" -> ((s, d) => StreamingIngest.streamingDedup(s, d)),

    // --- stream-static incremental dedup: incoming docs screened
    //     against the standing corpus band index per micro-batch;
    //     same oracle as the batch dedup_incremental (stream == batch)
    "streaming_incremental_dedup" ->
      ((s, d) => StreamingIngest.incrementalDedupStream(s, d)),

    // --- streaming INTO a live database: closed windows MERGE-upserted
    //     into Derby per micro-batch (foreachBatch + the JDBC sink);
    //     exactly-once = checkpoint replay × idempotent MERGE
    "streaming_jdbc_sink" -> ((s, d) => {
      val work = graft.util.Fs.workDir("derby_stream", d)
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:$work/db;shutdown=true"); () }
      catch { case _: java.sql.SQLException => () }
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      val url = s"jdbc:derby:$work/db;create=true"
      StreamingIngest.windowCountsToJdbc(s, d, url, "window_counts")
      graft.engine.JdbcTransfer.readAll(s, url, "window_counts")
    }),

    // --- stream-stream interval join (clicks ⋈ purchases within 30 min,
    //     watermark-bounded state both sides) == batch interval join
    "streaming_stream_join" -> ((s, d) => StreamingIngest.streamStreamJoin(s, d)),

    // --- multimodal frame sampling, REAL (r15): MP4 fixtures through
    //     the container codec — one typed row per stss SYNC sample with
    //     its stts decode timestamp, stsz length, and the exact mdat
    //     payload byte sum; the oracle replays the sample-table walk
    //     (keyframes f%2=0 under the fixture's keyStride) in closed form
    "multimodal_frames" -> ((s, d) => {
      Multimodal.sampleKeyframes(
        payloads(eventIds(s, d), Multimodal.syntheticMp4, "vid"), "id", "vid")
        .toDF().select(col("id"), col("frameIdx").as("frame_idx"),
          col("dts"), col("frameLen").as("frame_len"),
          col("byteSum").as("byte_sum"))
    }),

    // --- skew-safe salted aggregation — result equals the plain groupBy
    "agg_salted_count" -> ((s, d) =>
      graft.ops.Salting.saltedCount(T(s, d, "lineitem"), Seq("l_returnflag"))),

    // --- deterministic hash-priority sampling (ops/Sampling.scala):
    //     min-k order statistics of md5 priorities — a mergeable,
    //     RNG-free uniform sample; plan is ONE TakeOrderedAndProject
    "sample_priority_topk" -> ((s, d) =>
      graft.ops.Sampling.prioritySample(T(s, d, "documents"), k = 100)),

    // --- exact per-source quotas by the same priority — one window
    //     per stratum, full order statistic in the gate hash
    "sample_stratified" -> ((s, d) =>
      graft.ops.Sampling.stratifiedSample(T(s, d, "documents"), quota = 50)),

    // --- per-source TOKEN-budget admission: smallest-priority docs
    //     while the running token sum stays inside the budget — the
    //     quota training mixtures actually plan in (doc counts lie
    //     when doc lengths differ); window running-sum, one shuffle
    "sample_token_budget" -> ((s, d) =>
      graft.ops.Sampling.tokenBudgetSample(T(s, d, "documents"))),

    // --- the full deterministic training-mix op: total token budget
    //     split across sources by temperature-smoothed shares
    //     (w = floor(sqrt(Σtokens)), all-integer arithmetic), then
    //     priority-prefix admission per source
    "sample_temperature_budget" -> ((s, d) =>
      graft.ops.Sampling.temperatureBudgetSample(T(s, d, "documents"))),

    // --- deterministic train/val/test split: md5 basis points vs
    //     cumulative cut-offs — growth-stable (new docs never move an
    //     existing doc across splits), one narrow pass
    "sample_split_assign" -> ((s, d) =>
      graft.ops.Sampling.splitAssign(T(s, d, "documents"))),

    // --- the sample as STREAM state: MinKSample aggregator in
    //     complete mode, buffer bounded at k rows; oracle = the batch
    //     sample SQL (stream == batch)
    "streaming_sample_topk" -> ((s, d) =>
      StreamingIngest.prioritySample(s, d, k = 100)),

    // --- KMV distinct-count estimate from the same min-k machinery:
    //     k-th smallest distinct md5 value → integer DECIMAL estimate
    //     of distinct texts (the dedup cardinality question)
    "agg_kmv_distinct" -> ((s, d) =>
      graft.ops.Sampling.kmvDistinct(T(s, d, "documents"), md5(col("text")))),

    // --- sketch-only set algebra: |A|, |B|, |A∪B| (register max-merge)
    //     and |A∩B| (inclusion-exclusion) over two overlapping key
    //     sets, all through the integer est_centi path; both register
    //     sets build from ONE corpus scan (membership is a row
    //     predicate, not a separate read)
    "agg_hll_set_algebra" -> ((s, d) => {
      val li = T(s, d, "lineitem")
      val v = concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))
      graft.ops.Sketch.hllSetAlgebra(li, v,
        inA = col("l_linenumber") <= 4, inB = col("l_linenumber") >= 2)
    }),

    // --- HLL cardinality sketch (approx_count_distinct). The estimate
    //     itself is engine-specific, so the gate hashes the ann_recall
    //     shape instead (VERDICT r13 #7): the exact distinct count plus
    //     an integer error-bound verdict (|approx-exact|·100 ≤ exact·5,
    //     i.e. within 5% — all-integer arithmetic per the portable
    //     rounding contract). The oracle replays the exact count and
    //     asserts the bound holds; a drifting estimator hash-mismatches.
    //     The fully-replayed twin is agg_hll_distinct below (own
    //     md5-register HLL).
    "agg_approx_distinct" -> ((s, d) =>
      T(s, d, "lineitem")
        .agg(
          countDistinct(col("l_partkey")).cast("long").as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .select(col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) * 100 <=
            col("exact_parts") * 5).cast("long").as("within_5pct"))),

    // --- deterministic HLL: the register table is the persistable
    //     per-shard sketch artifact (merged by max at serving time) —
    //     gated like the LSH band index so the STORED object is
    //     oracle-verified (ops/Sketch.scala)
    "agg_hll_registers" -> ((s, d) =>
      graft.ops.Sketch.hllRegisters(T(s, d, "lineitem"),
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")),
        col("l_returnflag"))),

    // --- per-shard + merged-ALL cardinality estimates from those
    //     registers; integer-exact register sums keep every number
    //     bit-replayable in DuckDB (no float-sum order dependence)
    "agg_hll_distinct" -> ((s, d) =>
      graft.ops.Sketch.hllDistinct(T(s, d, "lineitem"),
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")),
        col("l_returnflag"))),

    // --- Count-Min heavy hitters: top-50 exact-count tokens with their
    //     CMS point estimates — proves the 4×1024 additive sketch on
    //     real text, overestimate bound visible in the gate output
    "text_cms_heavy_hitters" -> ((s, d) =>
      graft.ops.Sketch.cmsTopK(T(s, d, "documents"))),

    // --- mergeable histogram quantiles: per-shard fixed-width bin
    //     counts (+ merged ALL) walked to interpolated P50/P90/P99 —
    //     the deterministic percentile sketch (no log/libm anywhere,
    //     so the estimates replay bit-for-bit)
    "agg_hist_quantiles" -> ((s, d) => {
      val h = graft.ops.Sketch.histogram(T(s, d, "lineitem"),
        col("l_extendedprice"), col("l_returnflag"))
      graft.ops.Sketch.histQuantiles(
        h.unionByName(graft.ops.Sketch.histMerged(h)))
    }),

    // --- streaming sketch twins (VERDICT r7 #7): CMS cells (+) and
    //     Bloom words (OR) maintained as complete-mode stream state,
    //     like streaming_hll_registers — state bounded at the sketch
    //     table size; oracle = batch replay, so stream == batch by hash
    "streaming_cms_cells" -> ((s, d) => StreamingIngest.cmsCells(s, d)),
    "streaming_bloom_words" -> ((s, d) => StreamingIngest.bloomWords(s, d)),
    // --- DSIR scoring against the standing bucket-ratio artifact
    //     (model from the even-id corpus, stream = odd-id docs):
    //     map-only fold through the broadcast-literal model, no state
    "streaming_dsir_score" -> ((s, d) => StreamingIngest.dsirScoreStream(s, d)),

    // --- Bloom membership filter: per-source bit tables over the even
    //     docs' content hashes + the OR-merged ALL rows — the third
    //     mergeable sketch, the artifact itself gated
    "dedup_bloom_filter" -> ((s, d) => {
      val corpus = T(s, d, "documents").where(col("doc_id") % 2 === 0)
      val bl = graft.ops.Sketch.bloomBuild(corpus, md5(col("text")),
        col("source"))
      bl.unionByName(graft.ops.Sketch.bloomMerge(bl))
    }),

    // --- screen the odd batch against the merged filter: "was this
    //     content ever admitted?" without touching the corpus — FPs are
    //     a deterministic function of the hash choice, so even they
    //     hash-match the replay
    "dedup_bloom_screen" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val bloom = graft.ops.Sketch.bloomMerge(graft.ops.Sketch.bloomBuild(
        docs.where(col("doc_id") % 2 === 0), md5(col("text")), col("source")))
      graft.ops.Sketch.bloomScreen(bloom,
        docs.where(col("doc_id") % 2 === 1), col("doc_id"), md5(col("text")))
    }),

    // --- K4: per-cell TTL shadow columns — synthesize TTLs on events,
    //     materialize expiry at a cutoff (the TTL-less-destination
    //     semantics; Cassandra sinks map the shadows to USING TTL).
    "k4_ttl_preserve" -> ((s, d) => {
      val withTtl = T(s, d, "events").select(col("event_id"), col("value"))
        .withColumn("ttl_value",
          expr("CASE WHEN event_id % 3 = 0 THEN event_id % 100 ELSE NULL END").cast("bigint"))
      graft.sinks.TtlColumns.expire(withTtl, elapsedSeconds = 50)
    }),

    // --- §2.8: registered scalar UDF callable from transform expressions
    //     (after explicit opt-in to the P6 allowlist)
    "udf_transform" -> ((s, d) => {
      // unconditional: registerString is session-aware idempotent (a
      // global allowedExtras guard left a SECOND session in the same
      // JVM without the function registered)
      graft.functions.UdfRegistry.registerString(s, "graft_slug",
        v => if (v == null) null else v.toLowerCase.replace("#", "-"))
      graft.functions.UdfRegistry.allowInTransforms("graft_slug")
      T(s, d, "customer").select(col("c_custkey"),
        expr("graft_slug(c_name)").as("c_slug"))
    }),

    // --- S1/S2/S5-S8/K1/K5 LIVE: the reference's whole reason to exist,
    //     against a real database (embedded Derby): seed a source table
    //     through the MERGE sink, then run the full JDBC transfer —
    //     introspected PK, DDL mirror, range-partitioned read, validated
    //     transforms, idempotent MERGE upsert (run TWICE — second pass
    //     must be a no-op), read back over JDBC.
    "transfer_jdbc_roundtrip" -> ((s, d) => {
      import graft.sinks.JdbcUpsert
      import graft.sources.JdbcCatalog
      val work = graft.util.Fs.workDir("derby", d)
      // Derby caches booted databases by path: shut the old one down
      // before wiping, or a rerun in the same JVM sees torn state.
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:$work/db;shutdown=true"); () }
      catch { case _: java.sql.SQLException => () } // shutdown SIGNALS via 08006
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      System.setProperty("derby.system.home", work)
      val url = s"jdbc:derby:$work/db;create=true"
      val mig = MigrationSpec(batchSize = 1000, rateLimit = 1000000000)
      JdbcCatalog.execute(url, "CREATE TABLE customer_src (" +
        "c_custkey BIGINT NOT NULL PRIMARY KEY, c_name VARCHAR(64), c_acctbal DOUBLE)")
      val src = T(s, d, "customer").where(col("c_custkey") <= 2000)
        .select("c_custkey", "c_name", "c_acctbal")
      JdbcUpsert.write(src.coalesce(1), JdbcUpsert.Derby, "customer_src",
        Seq("c_custkey")) { () => new JdbcUpsert.ConnectionExecutor(url) }
      val t = TableMapping("customer_src", targetName = Some("customer_dst"),
        columnTransformations = Seq(
          ColumnTransformation("c_name", "UPPER(c_name)"),
          ColumnTransformation("c_acctbal", "c_acctbal + 100")))
      graft.engine.JdbcTransfer.transfer(s, url, t, mig)
      graft.engine.JdbcTransfer.transfer(s, url, t, mig) // idempotence
      graft.engine.JdbcTransfer.readBack(s, url, "customer_dst", mig)
    }),

    // --- R4/R8 LIVE: the reference's headline resume feature (断点续传)
    //     on the live JDBC path. Chunked transfer with per-chunk
    //     checkpoints is KILLED after 2 chunk checks (deterministic
    //     simulated crash), then resumed — the resume continues the
    //     PERSISTED chunk plan from the checkpointed prefix, and the
    //     keyed MERGE absorbs any replayed tail. Result read back live.
    "transfer_jdbc_kill_resume" -> ((s, d) => {
      import graft.sinks.JdbcUpsert
      import graft.sources.JdbcCatalog
      val work = graft.util.Fs.workDir("derbykr", d)
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:$work/db;shutdown=true"); () }
      catch { case _: java.sql.SQLException => () }
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      val url = s"jdbc:derby:$work/db;create=true"
      // small chunks (batch 500 over ~2000 rows → 5-chunk plan) so the
      // kill lands mid-plan; checkpoints live with the run
      val mig = MigrationSpec(batchSize = 500, rateLimit = 1000000000,
        checkpointRowThreshold = 500, checkpointDir = s"$work/cp")
      JdbcCatalog.execute(url, "CREATE TABLE orders_src (" +
        "o_orderkey BIGINT NOT NULL PRIMARY KEY, o_custkey BIGINT, o_totalprice DOUBLE)")
      val src = T(s, d, "orders").where(col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      JdbcUpsert.write(src.coalesce(1), JdbcUpsert.Derby, "orders_src",
        Seq("o_orderkey")) { () => new JdbcUpsert.ConnectionExecutor(url) }
      val t = TableMapping("orders_src", targetName = Some("orders_dst"),
        columnTransformations = Seq(
          ColumnTransformation("o_totalprice", "o_totalprice * 2")))
      new graft.engine.JdbcTransferJob(s, url, t, mig,
        control = graft.engine.TransferControl.cancelAfterChecks(2)).run()
      new graft.engine.JdbcTransferJob(s, url, t, mig).run() // resume
      graft.engine.JdbcTransfer.readBack(s, url, "orders_dst", mig)
    }),

    // --- cross-DATABASE live transfer: reads and the chunk plan run
    //     against the source store, the DDL mirror and every MERGE run
    //     against a SEPARATE destination store (the reference's normal
    //     topology) — result read back from the destination.
    "transfer_jdbc_crossdb" -> ((s, d) => {
      import graft.sinks.JdbcUpsert
      import graft.sources.JdbcCatalog
      val work = graft.util.Fs.workDir("derbyxd", d)
      Seq("src", "dst").foreach { side =>
        try { java.sql.DriverManager.getConnection(s"jdbc:derby:$work/$side;shutdown=true"); () }
        catch { case _: java.sql.SQLException => () }
      }
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      val srcUrl = s"jdbc:derby:$work/src;create=true"
      val dstUrl = s"jdbc:derby:$work/dst;create=true"
      val mig = MigrationSpec(batchSize = 500, rateLimit = 1000000000,
        checkpointRowThreshold = 500, checkpointDir = s"$work/cp")
      JdbcCatalog.execute(srcUrl, "CREATE TABLE part_src (" +
        "p_partkey BIGINT NOT NULL PRIMARY KEY, p_name VARCHAR(64), p_retailprice DOUBLE)")
      val src = T(s, d, "part").where(col("p_partkey") <= 1500)
        .select("p_partkey", "p_name", "p_retailprice")
      JdbcUpsert.write(src.coalesce(1), JdbcUpsert.Derby, "part_src",
        Seq("p_partkey")) { () => new JdbcUpsert.ConnectionExecutor(srcUrl) }
      val t = TableMapping("part_src", targetName = Some("part_dst"),
        columnTransformations = Seq(
          ColumnTransformation("p_retailprice", "p_retailprice * 2")))
      new graft.engine.JdbcTransferJob(s, srcUrl, t, mig,
        destinationUrl = dstUrl).run()
      graft.engine.JdbcTransfer.readAll(s, dstUrl, "part_dst")
    }),

    // --- INCREMENTAL live sync: full transfer of the key prefix, the
    //     source then gains an appended tail, and a re-run with
    //     incremental=true extends the COMPLETE checkpoint — planning
    //     only the delta above the last synced key (bind-parameter COUNT
    //     + keyset walk) and merging exactly those rows. Result read
    //     back = the whole table, so the oracle is split-point-free.
    "transfer_jdbc_incremental" -> ((s, d) => {
      import graft.sinks.JdbcUpsert
      import graft.sources.JdbcCatalog
      val work = graft.util.Fs.workDir("derbyinc", d)
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:$work/db;shutdown=true"); () }
      catch { case _: java.sql.SQLException => () }
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      val url = s"jdbc:derby:$work/db;create=true"
      val mig = MigrationSpec(batchSize = 500, rateLimit = 1000000000,
        checkpointRowThreshold = 500, checkpointDir = s"$work/cp")
      JdbcCatalog.execute(url, "CREATE TABLE part_inc (" +
        "p_partkey BIGINT NOT NULL PRIMARY KEY, p_name VARCHAR(64), p_retailprice DOUBLE)")
      val all = T(s, d, "part").select("p_partkey", "p_name", "p_retailprice")
      def seed(rows: org.apache.spark.sql.DataFrame): Unit =
        JdbcUpsert.write(rows.coalesce(1), JdbcUpsert.Derby, "part_inc",
          Seq("p_partkey")) { () => new JdbcUpsert.ConnectionExecutor(url) }
      seed(all.where(col("p_partkey") < 1200))
      val t = TableMapping("part_inc", targetName = Some("part_inc_dst"),
        columnTransformations = Seq(
          ColumnTransformation("p_retailprice", "p_retailprice * 3")),
        incremental = true)
      new graft.engine.JdbcTransferJob(s, url, t, mig).run() // full load
      seed(all.where(col("p_partkey") >= 1200)) // source appends a tail
      new graft.engine.JdbcTransferJob(s, url, t, mig).run() // delta only
      graft.engine.JdbcTransfer.readBack(s, url, "part_inc_dst", mig)
    }),

    // --- VERDICT r3 #2: non-numeric PK on the live path. A VARCHAR key
    //     gets RANK-PROBE chunk bounds (the key at row rank i·total/n via
    //     the PK index — no getLong, no hash pushdown needed), then the
    //     same kill+resume cycle as the numeric gate.
    "transfer_jdbc_varchar_pk" -> ((s, d) => {
      import graft.sinks.JdbcUpsert
      import graft.sources.JdbcCatalog
      val work = graft.util.Fs.workDir("derbyvc", d)
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:$work/db;shutdown=true"); () }
      catch { case _: java.sql.SQLException => () }
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      val url = s"jdbc:derby:$work/db;create=true"
      val mig = MigrationSpec(batchSize = 300, rateLimit = 1000000000,
        checkpointRowThreshold = 300, checkpointDir = s"$work/cp")
      JdbcCatalog.execute(url, "CREATE TABLE doc_src (" +
        "doc_key VARCHAR(20) NOT NULL PRIMARY KEY, c_name VARCHAR(64), c_acctbal DOUBLE)")
      val src = T(s, d, "customer").where(col("c_custkey") <= 1200)
        .select(concat(lit("K"), lpad(col("c_custkey").cast("string"), 8, "0")).as("doc_key"),
          col("c_name"), col("c_acctbal"))
      JdbcUpsert.write(src.coalesce(1), JdbcUpsert.Derby, "doc_src",
        Seq("doc_key")) { () => new JdbcUpsert.ConnectionExecutor(url) }
      val t = TableMapping("doc_src", targetName = Some("doc_dst"),
        columnTransformations = Seq(
          ColumnTransformation("c_name", "UPPER(c_name)")))
      new graft.engine.JdbcTransferJob(s, url, t, mig,
        control = graft.engine.TransferControl.cancelAfterChecks(1)).run()
      new graft.engine.JdbcTransferJob(s, url, t, mig).run() // resume
      graft.engine.JdbcTransfer.readAll(s, url, "doc_dst")
    }),

    // --- VERDICT r4 #1: COMPOSITE primary key on the live path, with a
    //     LOW-CARDINALITY leading column (5 distinct regions over 2000
    //     rows) — planning on pk.head alone would collapse to ≤5 giant
    //     chunks. The plan keyset-walks the FULL (region, id) tuple, so
    //     bounds are row values and chunks stay row-balanced; the same
    //     kill+resume cycle as the other live gates continues the
    //     persisted tuple plan.
    "transfer_jdbc_composite_pk" -> ((s, d) => {
      import graft.sinks.JdbcUpsert
      import graft.sources.JdbcCatalog
      val work = graft.util.Fs.workDir("derbycpk", d)
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:$work/db;shutdown=true"); () }
      catch { case _: java.sql.SQLException => () }
      graft.util.Fs.deleteRecursive(new java.io.File(work))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      val url = s"jdbc:derby:$work/db;create=true"
      val mig = MigrationSpec(batchSize = 400, rateLimit = 1000000000,
        checkpointRowThreshold = 400, checkpointDir = s"$work/cp")
      JdbcCatalog.execute(url, "CREATE TABLE comp_src (" +
        "region VARCHAR(4) NOT NULL, id BIGINT NOT NULL, " +
        "c_name VARCHAR(64), c_acctbal DOUBLE, PRIMARY KEY (region, id))")
      val src = T(s, d, "customer").where(col("c_custkey") <= 2000)
        .select(concat(lit("R"), (col("c_custkey") % 5).cast("string")).as("region"),
          col("c_custkey").as("id"), col("c_name"), col("c_acctbal"))
      JdbcUpsert.write(src.coalesce(1), JdbcUpsert.Derby, "comp_src",
        Seq("region", "id")) { () => new JdbcUpsert.ConnectionExecutor(url) }
      val t = TableMapping("comp_src", targetName = Some("comp_dst"),
        columnTransformations = Seq(
          ColumnTransformation("c_name", "UPPER(c_name)")))
      new graft.engine.JdbcTransferJob(s, url, t, mig,
        control = graft.engine.TransferControl.cancelAfterChecks(2)).run()
      new graft.engine.JdbcTransferJob(s, url, t, mig).run() // resume
      graft.engine.JdbcTransfer.readAll(s, url, "comp_dst")
    }),

    // --- S5: catalog introspection (parquet footer as the catalog),
    //     HASH-MATCHED against DuckDB's own DESCRIBE of the same table
    //     (VERDICT r9 #5): canonicalized (name, dtype) rows — the
    //     contract a DDL-emitting consumer reads. `events` is the
    //     richest surface (bigint/timestamp/varchar/double, plus the
    //     nanos→timestamp storage adaptation the catalog must report
    //     as its QUERY type, not its footer type).
    "catalog_columns" -> ((s, d) =>
      graft.sources.Catalog.columnsPortable(s, d, "events")),

    // --- K1-K4 analog: last-writer-wins keyed upsert. A synthesized
    //     update batch (+100 acctbal for custkey % 10 = 0) merged over the
    //     base table; updates win per key (reference mysql.go:430-441).
    "upsert_last_writer" -> ((s, d) => {
      val base = T(s, d, "customer")
      val updates = base.where(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100)
      Upsert.resolve(base, updates, Seq("c_custkey"))
        .select("c_custkey", "c_name", "c_acctbal")
    })
  ) ++ MediaKeys.all.flatMap(_.queries) // the invariant-key media families

  /** The surgical-decontamination pretrain book (round 10) — factored
    * so [[queries]]' `pipeline_pretrain_surgical` and the multimodal
    * composition gate share one definition. */
  private def surgicalPretrainBook(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val cp = Curation.curationPipeline(docs)
      .where(col("keep") === 1).select("doc_id")
    val kb = Curation.keepBestInClusters(docs)
      .where(col("keep")).select("doc_id")
    val band = Curation.logprobTrim(docs).select("doc_id")
    // `admitted` (the 3-signal join) feeds the decontamination input
    // AND the budget join; `red` (the span-decontamination pass — a
    // gram explode + islands + trim subtree) feeds the budget sample
    // AND the final stats join-back. Un-materialized, each consumer
    // re-ran the whole upstream subtree inside the one action (r19,
    // guide §2.4 duplicated-subtree audit: the book submitted 88 jobs).
    // Both frames are corpus-row-sized; pin each once, release after
    // the book materializes.
    val admitted = docs.join(cp, "doc_id").join(kb, "doc_id")
      .join(band, "doc_id")
      .where(col("doc_id") >= 20)
      .localCheckpoint(true)
    val deconIn = docs.where(col("doc_id") < 20)
      .unionByName(admitted.select(docs.columns.map(col): _*))
    val red = Curation.decontaminateSpans(deconIn).localCheckpoint(true)
    val forBudget = red.select(col("doc_id"), col("clean_text").as("text"))
      .join(admitted.select("doc_id", "source"), "doc_id")
    val out = graft.ops.Sampling.tokenBudgetSample(forBudget,
        budgetTokens = 15000L, seed = "mix1")
      .join(red.select("doc_id", "n_kept_words", "n_removed_words"), "doc_id")
      .localCheckpoint(true)
    Seq(admitted, red).foreach(graft.ops.Dedup.releaseOwnCheckpoint)
    out
  }

  /** The media admission book (round 11) — factored so
    * `pipeline_media_admission` and the multimodal composition gate
    * share one definition.
    *
    * Each modality's perceptual-signature frame fans out into TWO
    * consumers (the pair screen and the cluster membership join);
    * unmaterialized, each consumer re-runs the full corpus decode.
    * localCheckpoint(true) pins the signatures — a few longs per
    * asset — so decode runs ONCE per modality. This is the local
    * analog of the production shape: at 100 TB the signature frame
    * IS the persisted index artifact (the *_index_lifecycle ops),
    * written once by the decode pass and read by every consumer.
    * ONE contraction runs over the union of the three disjoint
    * modality pair graphs (rounds = max over modalities, not the
    * sum — measured 52 s → see BENCH_NOTES); results are exactly the
    * per-modality closures (spec-pinned), so the oracle's
    * per-modality recursive CTEs replay unchanged. The verdict frame
    * (tiny: one row per asset) is eagerly pinned and the four
    * signature checkpoints released — in the multi-gate bench JVM
    * unreleased blocks squat on executor storage until RDD GC
    * (ADVICE r11 #2; same shape as Dedup.lshRecall). */
  private def mediaAdmissionBook(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // image and audio decode ONCE via the fused passes (r14): the
    // pinned fused frame serves BOTH tiers (the exact tier's
    // groupBy+join-back previously re-ran its unpinned decode twice —
    // up to three corpus parses per modality, now one). Projections
    // are byte-identical to the separate passes (shared per-asset
    // bodies, spec-pinned), so the oracle replays unchanged.
    // the three signature materializations are independent decode
    // passes over disjoint corpora — run them as CONCURRENT jobs
    // (guide §2.6) so each pass's straggler tail is back-filled by the
    // next instead of leaving cores idle between three serial actions
    val Seq(imgSig, audSig, vidSigs) = graft.util.Par.map(Seq(
      () => Multimodal.imageSignatures(
        payloads(eventIds(s, d), Multimodal.syntheticBmp, "img"), "id", "img").toDF()
        .localCheckpoint(true),
      () => Multimodal.audioSignatures(
        payloads(eventIds(s, d), Multimodal.syntheticWav, "clip"), "id", "clip").toDF()
        .localCheckpoint(true),
      () => Multimodal.videoPerceptualHash(
        payloads(eventIds(s, d), Multimodal.syntheticVideoMp4, "vid"), "id", "vid").toDF()
        .localCheckpoint(true)))
    val out = composeMediaBook(
      imgSig.select("id", "width", "height", "ahash"),
      audSig.select(col("id"), col("channels"), col("n_windows"),
        col("wfp").as("fp")),
      vidSigs,
      imgSig.select("id", "width", "height", "fp"),
      audSig.select(col("id"), col("channels"), col("n_samples"),
        col("sfp").as("fp")),
      Multimodal.videoFingerprint(
        payloads(eventIds(s, d), Multimodal.syntheticMp4, "vid"), "id", "vid").toDF())
    Seq(imgSig, audSig, vidSigs)
      .foreach(graft.ops.Dedup.releaseOwnCheckpoint)
    out
  }

  /** The media book's composition, decode-free: perceptual signature
    * frames → ONE union-graph contraction; exact fingerprint frames →
    * groupBy-min keepers; verdict = conjunction. Factored (round 12) so
    * the decode-fed book and the index-fed book share one definition. */
  private def composeMediaBook(imgHashes: DataFrame, audFps: DataFrame,
                               vidSigs: DataFrame, imgFp: DataFrame,
                               audFp: DataFrame, vidFp: DataFrame): DataFrame = {
    val perceptual = Multimodal.mediaNearDupClustersMulti(Seq(
      ("image", imgHashes.select("id"), Multimodal.imageAHashPairs(imgHashes)),
      ("audio", audFps.select("id"), Multimodal.audioFingerprintPairs(audFps)),
      ("video", vidSigs.select("id"), Multimodal.videoPerceptualPairs(vidSigs))))
      .localCheckpoint(true)
    def perc(m: String) = perceptual.where(col("modality") === m)
    val out = Multimodal.mediaAdmissionVerdicts(imgFp, "fp", perc("image"), "image")
      .unionByName(
        Multimodal.mediaAdmissionVerdicts(audFp, "fp", perc("audio"), "audio"))
      .unionByName(
        Multimodal.mediaAdmissionVerdicts(vidFp, "fp", perc("video"), "video"))
      .localCheckpoint(true)
    graft.ops.Dedup.releaseOwnCheckpoint(perceptual)
    out
  }

  /** Build-once-per-JVM PERSISTED media signature artifacts (VERDICT
    * r11 #5): each modality's corpus is decoded exactly once per
    * (sf dir) and its six signature frames written as parquet — the
    * `*_index_lifecycle` artifact made real. Every media gate in the
    * same JVM (the Verify/Bench runs execute all gates sequentially)
    * reads the columnar artifacts instead of re-decoding; the
    * decode-fed `pipeline_media_admission` stays as the equivalence's
    * other side, and `pipeline_media_admission_from_index` gates
    * book-from-index ≡ book-from-decode (same oracle, same hash). */
  private val mediaIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The surgical text book's ADMITTED doc ids as a persisted artifact
    * (the text sibling of [[mediaSignatureIndex]], built once per JVM
    * per corpus): the composition gate reads the verdict column it
    * needs instead of re-running the whole curation pipeline the
    * `pipeline_pretrain_surgical` gate already pays for. Same scratch
    * discipline. */
  private val textAdmitCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def surgicalAdmittedDocsPath(s: SparkSession, d: String): String = {
    // the map key is the content key (size+mtime): an in-JVM fixture
    // regeneration rebuilds the artifact; the dir is keyed on `d` alone,
    // so a regeneration rebuilds in place instead of leaving a new dir
    val doc = new java.io.File(s"$d/documents.parquet")
    val key = s"$d:${doc.length}:${doc.lastModified}"
    textAdmitCache.computeIfAbsent(key, _ => {
      val out = graft.util.Fs.workDir("text_admit", d)
      graft.util.Fs.deleteRecursive(new java.io.File(out))
      val book = surgicalPretrainBook(s, d) // checkpoint-backed (r19)
      book.select("doc_id").distinct()
        .write.mode("overwrite").parquet(out)
      graft.ops.Dedup.releaseOwnCheckpoint(book)
      out
    })
  }

  private[graft] def mediaSignatureIndex(s: SparkSession, d: String): String = {
    // one deterministic scratch dir per fixture dir (not a fresh
    // tempdir per JVM, nor one per fixture version): /tmp holds one
    // artifact per fixture however often it is regenerated. The MAP key
    // is the content key (events size+mtime), so an in-place fixture
    // regeneration rebuilds the artifact within a JVM. Wiped and rebuilt
    // on first touch per JVM — the artifact is cheap to rebuild and a
    // half-written dir from a killed JVM must never be trusted.
    val ev = new java.io.File(s"$d/events.parquet")
    val key = s"$d:${ev.length}:${ev.lastModified}"
    mediaIndexCache.computeIfAbsent(key, _ => {
      val out = graft.util.Fs.workDir("media_index", d)
      graft.util.Fs.deleteRecursive(new java.io.File(out))
      // fused decode (r14): bytes parse ONCE per modality; the pinned
      // fused frame writes both tier artifacts (identical rows to the
      // separate passes — shared per-asset bodies, spec-pinned), so
      // the six-dir artifact layout and every reader stay unchanged
      // the four modality pipelines (decode → artifact writes) are
      // independent — run them as CONCURRENT driver jobs (guide §2.6)
      // so the six artifact writes overlap the decode tails instead of
      // serializing eight actions
      graft.util.Par.run(Seq(
        () => {
          val imgSig = Multimodal.imageSignatures(
            payloads(eventIds(s, d), Multimodal.syntheticBmp, "img"), "id", "img").toDF()
            .localCheckpoint(true)
          imgSig.select("id", "width", "height", "ahash")
            .write.mode("overwrite").parquet(s"$out/img_ahash")
          imgSig.select("id", "width", "height", "fp")
            .write.mode("overwrite").parquet(s"$out/img_fp")
          graft.ops.Dedup.releaseOwnCheckpoint(imgSig)
        },
        () => {
          val audSig = Multimodal.audioSignatures(
            payloads(eventIds(s, d), Multimodal.syntheticWav, "clip"), "id", "clip").toDF()
            .localCheckpoint(true)
          audSig.select(col("id"), col("channels"), col("n_windows"),
              col("wfp").as("fp"))
            .write.mode("overwrite").parquet(s"$out/aud_fp_perceptual")
          audSig.select(col("id"), col("channels"), col("n_samples"),
              col("sfp").as("fp"))
            .write.mode("overwrite").parquet(s"$out/aud_fp_exact")
          graft.ops.Dedup.releaseOwnCheckpoint(audSig)
        },
        () => Multimodal.videoPerceptualHash(
            payloads(eventIds(s, d), Multimodal.syntheticVideoMp4, "vid"), "id", "vid").toDF()
          .write.mode("overwrite").parquet(s"$out/vid_phash"),
        () => Multimodal.videoFingerprint(
            payloads(eventIds(s, d), Multimodal.syntheticMp4, "vid"), "id", "vid").toDF()
          .write.mode("overwrite").parquet(s"$out/vid_fp")))
      out
    })
  }

  /** The corrupt half of a poisoned-ingest fixture: each event's
    * [[graft.ops.Multimodal.poisoned]] asset over the modality's
    * corruption `kinds`; columns `id` and `c`. */
  private def poisonedPayloads(s: SparkSession, d: String, c: String,
                               kinds: Seq[Long => Array[Byte]]): DataFrame = {
    import s.implicits._
    eventIds(s, d)
      .mapPartitions(_.flatMap(e => Multimodal.poisoned(e, kinds)))
      .toDF("id", c)
  }

  /** The shared poisoned-ingest fixture: the clean synthetic corpus per
    * modality PLUS a deliberately corrupt asset per modality for every
    * 5th event at id 10⁷+event_id (truncated stream, CRC-valid zip-bomb
    * header, flipped checksum, wrong magic, corrupt keyframe payload
    * inside a valid container). Used by the multimodal_quarantine gate
    * (decode path) and by [[quarantineSignatureIndex]] (persisted safe
    * frames) — one definition, one oracle. */
  private def poisonedMediaCorpora(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.ops.Multimodal._
    val imgBin = payloads(eventIds(s, d), syntheticBmp, "img").unionByName(
      poisonedPayloads(s, d, "img", ImagePoisons))
    val audBin = payloads(eventIds(s, d), syntheticWav, "clip").unionByName(
      poisonedPayloads(s, d, "clip", Seq(
        e => poisonTruncated(syntheticWav(QBase + e)),
        e => poisonWavBadMagic(QBase + e))))
    val vidPBin = payloads(eventIds(s, d), syntheticVideoMp4, "vid").unionByName(
      poisonedPayloads(s, d, "vid", VideoPoisons))
    val vidEBin = payloads(eventIds(s, d), syntheticMp4, "vid").unionByName(
      poisonedPayloads(s, d, "vid", Seq(
        e => poisonTruncated(syntheticMp4(QBase + e), 16),
        e => poisonMp4Bomb(syntheticMp4(QBase + e)),
        e => syntheticMp4(QBase + e)))) // exact tier stays good
    (imgBin, audBin, vidPBin, vidEBin)
  }

  private val quarantineIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once-per-JVM persisted SAFE signature artifacts over the
    * poisoned corpus (VERDICT r13 #2) — the quarantine sibling of
    * [[mediaSignatureIndex]]: six parquet frames carrying per-asset
    * `(ok, reason, …signature columns)`, so the quarantine book (and any
    * later consumer of quarantine verdicts) reads columnar artifacts
    * instead of re-decoding. Same scratch discipline. */
  private[graft] def quarantineSignatureIndex(s: SparkSession, d: String): String = {
    val ev = new java.io.File(s"$d/events.parquet")
    val key = s"$d:${ev.length}:${ev.lastModified}"
    quarantineIndexCache.computeIfAbsent(key, _ => {
      val out = graft.util.Fs.workDir("quarantine_index", d)
      graft.util.Fs.deleteRecursive(new java.io.File(out))
      val (imgBin, audBin, vidPBin, vidEBin) = poisonedMediaCorpora(s, d)
      import graft.ops.Multimodal
      // fused safe decode (r14): one parse of the poisoned corpus per
      // modality writes both tier artifacts — rows identical to the
      // separate safe passes (shared bodies; on a shared corpus both
      // tiers fail the same first guard, so the one fused reason IS
      // each tier's reason — spec-pinned on the poisoned fixture)
      // independent modality pipelines run as concurrent driver jobs
      // (guide §2.6) — same shape as mediaSignatureIndex
      graft.util.Par.run(Seq(
        () => {
          val imgSig = Multimodal.imageSignaturesSafe(imgBin, "id", "img")
            .toDF().localCheckpoint(true)
          imgSig.select("id", "ok", "reason", "width", "height", "ahash")
            .write.mode("overwrite").parquet(s"$out/img_ahash_safe")
          imgSig.select("id", "ok", "reason", "width", "height", "fp")
            .write.mode("overwrite").parquet(s"$out/img_fp_safe")
          graft.ops.Dedup.releaseOwnCheckpoint(imgSig)
        },
        () => {
          val audSig = Multimodal.audioSignaturesSafe(audBin, "id", "clip")
            .toDF().localCheckpoint(true)
          audSig.select(col("id"), col("ok"), col("reason"), col("channels"),
              col("n_windows"), col("wfp").as("fp"))
            .write.mode("overwrite").parquet(s"$out/aud_fp_perceptual_safe")
          audSig.select(col("id"), col("ok"), col("reason"), col("channels"),
              col("n_samples"), col("sfp").as("fp"))
            .write.mode("overwrite").parquet(s"$out/aud_fp_exact_safe")
          graft.ops.Dedup.releaseOwnCheckpoint(audSig)
        },
        () => Multimodal.videoPerceptualHashSafe(vidPBin, "id", "vid").toDF()
          .write.mode("overwrite").parquet(s"$out/vid_phash_safe"),
        () => Multimodal.videoFingerprintSafe(vidEBin, "id", "vid").toDF()
          .write.mode("overwrite").parquet(s"$out/vid_fp_safe")))
      out
    })
  }

  private def mediaAdmissionBookFromIndex(s: SparkSession, d: String): DataFrame = {
    val ix = mediaSignatureIndex(s, d)
    // parquet artifacts are cheap to re-scan — no checkpointing needed
    // on the multi-consumer frames; the plan reads columnar signatures,
    // never the media bytes
    composeMediaBook(
      s.read.parquet(s"$ix/img_ahash"),
      s.read.parquet(s"$ix/aud_fp_perceptual"),
      s.read.parquet(s"$ix/vid_phash"),
      s.read.parquet(s"$ix/img_fp"),
      s.read.parquet(s"$ix/aud_fp_exact"),
      s.read.parquet(s"$ix/vid_fp"))
  }

  /** DuckDB-equivalent SQL per query key, from the Spark-free `oracle`
    * module (see [[graft.oracle.OracleSql]]). */
  def oracleSql: Map[String, String] = graft.oracle.OracleSql.all
}
