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
  * correctness gate).
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
    * `pipeline_pretrain_surgical` gate already pays for. Same
    * content-keyed scratch discipline. */
  private val textAdmitCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def surgicalAdmittedDocsPath(s: SparkSession, d: String): String = {
    // the cache key IS the content key (ADVICE r12): keying on the dir
    // string alone would pin the first build for the JVM's lifetime even
    // if the fixtures are regenerated in place mid-session — size+mtime
    // in the key makes an in-JVM regeneration rebuild the artifact
    val doc = new java.io.File(s"$d/documents.parquet")
    val key = s"$d:${doc.length}:${doc.lastModified}"
    textAdmitCache.computeIfAbsent(key, _ => {
      val out = graft.util.Fs.workDir("text_admit", key)
      graft.util.Fs.deleteRecursive(new java.io.File(out))
      val book = surgicalPretrainBook(s, d) // checkpoint-backed (r19)
      book.select("doc_id").distinct()
        .write.mode("overwrite").parquet(out)
      graft.ops.Dedup.releaseOwnCheckpoint(book)
      out
    })
  }

  private[graft] def mediaSignatureIndex(s: SparkSession, d: String): String = {
    // deterministic, content-keyed scratch (not a fresh tempdir per
    // JVM): bounded /tmp usage across rounds, and the events
    // size+mtime key invalidates when the driver regenerates the
    // fixtures in place (the BenchScale fingerprint lesson). The MAP
    // key is the same content key (ADVICE r12): keying on the dir
    // string would pin the first build for the JVM's lifetime across
    // an in-place fixture regeneration. Wiped and rebuilt on first
    // touch per JVM — the artifact is cheap to rebuild and a
    // half-written dir from a killed JVM must never be trusted.
    val ev = new java.io.File(s"$d/events.parquet")
    val key = s"$d:${ev.length}:${ev.lastModified}"
    mediaIndexCache.computeIfAbsent(key, _ => {
      val out = graft.util.Fs.workDir("media_index", key)
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
    * instead of re-decoding. Same content-keyed scratch discipline. */
  private[graft] def quarantineSignatureIndex(s: SparkSession, d: String): String = {
    val ev = new java.io.File(s"$d/events.parquet")
    val key = s"$d:${ev.length}:${ev.lastModified}"
    quarantineIndexCache.computeIfAbsent(key, _ => {
      val out = graft.util.Fs.workDir("quarantine_index", key)
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

  /** DuckDB-equivalent SQL per query key; aliases match the Spark side
    * exactly (the driver sorts columns by name before hashing). */
  def oracleSql: Map[String, String] = Map(
    "s1_keyset_scan" ->
      """SELECT * FROM lineitem WHERE l_orderkey > 300
        |ORDER BY l_orderkey, l_linenumber LIMIT 1000""".stripMargin,
    "s3_cursor_scan" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM events WHERE event_id > 500""".stripMargin,
    "p1_projection" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
    "p2_transform_upper" ->
      "SELECT c_custkey, UPPER(c_name) AS c_name_upper FROM customer",
    "p2_transform_arith" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice * 100 AS price_cents FROM lineitem",
    "p2_transform_dateformat" ->
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od FROM orders",
    "p2_transform_concat" ->
      "SELECT o_orderkey, CONCAT('Status: ', o_orderstatus) AS status_label FROM orders",
    "p2_mysql_dateformat" ->
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M') AS od_mysql FROM orders",
    "p2_transform_fnv" ->
      (s"SELECT doc_id, ${graft.functions.Fnv.duckdbSql("text", graft.functions.Fnv.Basis1)}" +
        " AS text_fnv FROM documents"),
    "p3_keyset_count" ->
      "SELECT count(*) AS cnt FROM orders WHERE o_orderkey > 500",
    "p4_token_predicate" ->
      "SELECT count(*) AS cnt FROM orders WHERE (o_orderkey * 2654435761) % 1000000007 >= 500000000",
    "p5_completed_count" ->
      "SELECT count(*) AS cnt FROM customer WHERE c_custkey <= 75",
    "a1_count" ->
      "SELECT count(*) AS cnt FROM lineitem",
    "a2_filtered_count" ->
      "SELECT count(*) AS cnt FROM events WHERE event_id <= 500",
    "a3_max_pk" ->
      "SELECT max(l_orderkey) AS max_key FROM lineitem",
    "o1_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey DESC, l_linenumber DESC LIMIT 100""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "join_broadcast_dim" ->
      """SELECT n_name, count(*) AS cnt FROM customer JOIN nation
        |ON c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
    "join_semi" ->
      """SELECT o_orderkey FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,
    "window_rank_dedup" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "window_running_sum" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events""".stripMargin,
    "agg_percentiles" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_quantity, 0.5) * 1e6 + 0.5) / 1e6 AS median_qty,
        |  floor(quantile_cont(l_quantity, 0.95) * 1e6 + 0.5) / 1e6 AS p95_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "window_lead_lag" ->
      """SELECT event_id, user_id,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |  lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
        |FROM events""".stripMargin,
    "join_range_bucket" ->
      """SELECT event_id, bucket_id::BIGINT AS bucket_id FROM events
        |JOIN (VALUES (0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 75.0),
        |             (3, 75.0, 1000000000.0)) AS b(bucket_id, lo, hi)
        |ON value >= lo AND value < hi""".stripMargin,
    "join_asof_event" ->
      """SELECT event_id, user_id, last_purchase FROM (
        |  SELECT event_id, user_id, event_type,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
        |  FROM events) WHERE event_type = 'click'""".stripMargin,
    "fuzzy_match_levenshtein" ->
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
        |  levenshtein(a.n_name, b.n_name)::BIGINT AS dist
        |FROM nation a JOIN nation b ON a.n_name < b.n_name
        |WHERE levenshtein(a.n_name, b.n_name) <= 5""".stripMargin,
    "setop_except" ->
      """SELECT c_custkey AS key FROM customer EXCEPT
        |SELECT o_custkey AS key FROM orders WHERE o_totalprice > 400000""".stripMargin,
    "setop_union" ->
      "SELECT r_regionkey AS key FROM region UNION SELECT n_regionkey AS key FROM nation",
    "agg_distinct" ->
      "SELECT DISTINCT o_orderpriority FROM orders",
    "agg_count_distinct" ->
      "SELECT count(DISTINCT l_partkey) AS cnt FROM lineitem",
    "agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "upsert_last_writer" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
        |FROM customer""".stripMargin,
    "transfer_config_multi" ->
      """SELECT o_orderkey, CONCAT('Status: ', o_orderstatus) AS o_orderstatus,
        |  o_totalprice * 100 AS o_totalprice FROM orders""".stripMargin,
    "transfer_partitioned" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice * 100 AS o_totalprice
        |FROM orders""".stripMargin,
    "transfer_resume" ->
      """SELECT c_custkey, UPPER(c_name) AS c_name, c_acctbal + 100 AS c_acctbal
        |FROM customer""".stripMargin,
    "transfer_jdbc_roundtrip" ->
      """SELECT c_custkey, UPPER(c_name) AS c_name, c_acctbal + 100 AS c_acctbal
        |FROM customer WHERE c_custkey <= 2000""".stripMargin,
    "transfer_jdbc_kill_resume" ->
      """SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin,
    "transfer_jdbc_crossdb" ->
      """SELECT p_partkey, p_name, p_retailprice * 2 AS p_retailprice
        |FROM part WHERE p_partkey <= 1500""".stripMargin,
    // split-point-free: the dest after full-load + appended-tail delta
    // must equal the WHOLE transformed table
    "transfer_jdbc_incremental" ->
      """SELECT p_partkey, p_name, p_retailprice * 3 AS p_retailprice
        |FROM part""".stripMargin,
    "transfer_jdbc_varchar_pk" ->
      """SELECT 'K' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS doc_key,
        |  UPPER(c_name) AS c_name, c_acctbal
        |FROM customer WHERE c_custkey <= 1200""".stripMargin,
    "transfer_jdbc_composite_pk" ->
      """SELECT 'R' || CAST(c_custkey % 5 AS VARCHAR) AS region,
        |  c_custkey AS id, UPPER(c_name) AS c_name, c_acctbal
        |FROM customer WHERE c_custkey <= 2000""".stripMargin,
    "transfer_nested_roundtrip" ->
      """SELECT event_id, event_type AS etype, user_id AS uid,
        |  value * 2 AS v2, value AS tag_v FROM events""".stripMargin,
    "json_infer_extract" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN NULL
        |       ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k_val,
        |  CASE WHEN event_id % 3 = 0 THEN event_id ELSE NULL END AS a_val
        |FROM events""".stripMargin,

    // --- LLM-pipeline extensions: oracles replicate the SAME deterministic
    //     pipelines in DuckDB SQL (md5-based hashing, portable list ops).
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_minhash_lsh" -> minhashOracleSql,
    "dedup_lsh_recall" -> lshRecallOracleSql,
    "dedup_incremental" -> incrementalOracleSql,
    "dedup_index_lifecycle" -> indexLifecycleOracleSql,
    "streaming_incremental_dedup" -> incrementalOracleSql,
    "dedup_lsh_index" ->
      s"""WITH $minhashCtePrefix
         |SELECT doc_id, bk FROM bands""".stripMargin,
    "agg_hll_registers" -> hllRegistersOracleSql,
    "agg_hll_distinct" -> hllDistinctOracleSql,
    // error-bound gate (not a value gate): the oracle computes the exact
    // distinct count and asserts the 5% bound verdict is true — the
    // Spark side's approx estimate must land inside it to hash-match
    "agg_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey)::BIGINT AS exact_parts,
        |1::BIGINT AS within_5pct FROM lineitem""".stripMargin,
    "agg_hll_set_algebra" -> hllSetAlgebraOracleSql,
    "sample_priority_topk" ->
      """SELECT doc_id, source,
        |  ('0x' || substr(md5('sample1' || doc_id), 1, 15))::BIGINT AS priority
        |FROM documents ORDER BY priority, doc_id LIMIT 100""".stripMargin,
    "sample_stratified" ->
      """WITH p AS (SELECT doc_id, source,
        |    ('0x' || substr(md5('strat1' || doc_id), 1, 15))::BIGINT AS priority
        |  FROM documents),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY source ORDER BY priority, doc_id) AS pick FROM p)
        |SELECT doc_id, source, priority, pick FROM r WHERE pick <= 50""".stripMargin,
    "sample_token_budget" ->
      """WITH p AS (SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    ('0x' || substr(md5('tokbudget1' || doc_id), 1, 15))::BIGINT AS priority
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens, priority,
        |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY priority, doc_id
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
        |  FROM p)
        |SELECT doc_id, source, n_tokens, priority, cum_tokens
        |FROM c WHERE cum_tokens <= 20000""".stripMargin,
    "sample_temperature_budget" ->
      """WITH p AS (SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    ('0x' || substr(md5('tempbudget1' || doc_id), 1, 15))::BIGINT AS priority
        |  FROM documents),
        |wsrc AS (SELECT source, floor(sqrt(sum(n_tokens)))::BIGINT AS w
        |  FROM p GROUP BY source),
        |tot AS (SELECT sum(w)::BIGINT AS w_total FROM wsrc),
        |b AS (SELECT source, ((60000 * w) // w_total)::BIGINT AS budget_src
        |  FROM wsrc, tot),
        |c AS (SELECT doc_id, source, n_tokens, priority,
        |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY priority, doc_id
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
        |  FROM p)
        |SELECT c.doc_id, c.source, c.n_tokens, c.priority, c.cum_tokens,
        |  b.budget_src
        |FROM c JOIN b USING (source) WHERE cum_tokens <= budget_src""".stripMargin,
    "sample_split_assign" ->
      """SELECT doc_id, source,
        |  ('0x' || substr(md5('split1' || doc_id), 1, 8))::BIGINT % 10000
        |    AS split_bp,
        |  CASE WHEN ('0x' || substr(md5('split1' || doc_id), 1, 8))::BIGINT % 10000 < 8000
        |         THEN 'train'
        |       WHEN ('0x' || substr(md5('split1' || doc_id), 1, 8))::BIGINT % 10000 < 9000
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    // stream == batch: the streaming MinKSample twin replays the batch
    // sample SQL
    "streaming_sample_topk" ->
      """SELECT doc_id, source,
        |  ('0x' || substr(md5('sample1' || doc_id), 1, 15))::BIGINT AS priority
        |FROM documents ORDER BY priority, doc_id LIMIT 100""".stripMargin,
    "agg_kmv_distinct" ->
      """WITH p AS (SELECT DISTINCT
        |    ('0x' || substr(md5('kmv1' || md5(text)), 1, 15))::BIGINT AS priority
        |  FROM documents),
        |mk AS (SELECT priority FROM p ORDER BY priority LIMIT 256)
        |SELECT count(*) AS k_used, max(priority) AS p_k,
        |  (((count(*) - 1)::HUGEINT << 60) // max(priority)::HUGEINT)::BIGINT
        |    AS est
        |FROM mk""".stripMargin,
    "text_cms_heavy_hitters" -> cmsHeavyHittersOracleSql,
    "dedup_bloom_filter" -> bloomFilterOracleSql,
    "dedup_bloom_screen" -> bloomScreenOracleSql,
    // integer per-cent quantiles, micro-unit integer estimates — the
    // whole interpolation replays in HUGEINT (no round(double, n) for
    // the engines to disagree on; see Sketch.histQuantiles)
    "agg_hist_quantiles" ->
      """WITH h AS (SELECT l_returnflag AS shard,
        |    floor(l_extendedprice / 64.0)::BIGINT AS bin, count(*) AS cnt
        |  FROM lineitem GROUP BY shard, bin),
        |allh AS (SELECT shard, bin, cnt FROM h
        |  UNION ALL
        |  SELECT 'ALL' AS shard, bin, sum(cnt) AS cnt FROM h GROUP BY bin),
        |c AS (SELECT shard, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY shard ORDER BY bin) AS cum,
        |    sum(cnt) OVER (PARTITION BY shard) AS n
        |  FROM allh),
        |qv AS (SELECT unnest([50, 90, 99]) AS q_pct),
        |p AS (SELECT shard, q_pct, min(bin) AS bin
        |  FROM c, qv WHERE cum * 100 >= q_pct * n GROUP BY shard, q_pct)
        |SELECT p.shard, p.q_pct, c.n::BIGINT AS n,
        |  (((p.bin * 64 * c.cnt * 100
        |     + 64 * (p.q_pct * c.n - 100 * (c.cum - c.cnt)))::HUGEINT
        |    * 1000000) // (100 * c.cnt)::HUGEINT)::BIGINT AS est_micro
        |FROM p JOIN c ON c.shard = p.shard AND c.bin = p.bin""".stripMargin,
    "streaming_hll_registers" ->
      """WITH v AS (SELECT event_type AS shard, md5(user_id::VARCHAR) AS h
        |  FROM events),
        |br AS (SELECT shard,
        |  ('0x' || substr(h, 1, 3))::BIGINT AS bucket,
        |  CASE WHEN ('0x' || substr(h, 4, 15))::BIGINT = 0 THEN 61
        |       ELSE 61 - length(bin(('0x' || substr(h, 4, 15))::BIGINT)) END AS rank
        |  FROM v)
        |SELECT shard, bucket, max(rank) AS max_rank
        |FROM br GROUP BY shard, bucket""".stripMargin,
    // streaming sketch twins: oracle = the batch build (stream == batch)
    "streaming_cms_cells" ->
      """WITH toks AS (
        |  SELECT tok FROM documents,
        |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(tok)
        |  WHERE tok != '')
        |SELECT j, ('0x' || substr(md5(j::VARCHAR || ':' || tok), 1, 8))::BIGINT
        |         % 1024 AS cell, count(*) AS cnt
        |FROM toks, range(4) AS r(j) GROUP BY j, cell""".stripMargin,
    "streaming_bloom_words" ->
      """WITH bpos AS (SELECT source AS shard,
        |  ('0x' || substr(md5(r.j::VARCHAR || ':' || md5(text)), 1, 8))::BIGINT
        |    % 65536 AS pos
        |  FROM documents, range(4) AS r(j))
        |SELECT shard, pos // 63 AS word,
        |  bit_or(1::BIGINT << (pos % 63)::INT) AS bits
        |FROM bpos GROUP BY shard, word""".stripMargin,
    // DSIR streaming twin: model fitted on the even-id corpus (dense
    // 256-bucket log-ratio table), odd-id docs scored against it —
    // stream ≡ batch formula (the map-only fold is spec-pinned equal
    // to the DECIMAL join-sum)
    "streaming_dsir_score" -> {
      val fnvG = graft.functions.Fnv.duckdbSql("g", graft.functions.Fnv.Basis1)
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |ctok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM corpus),
         |cgrams AS (
         |  SELECT doc_id, u.g AS g FROM ctok, unnest(arr) AS u(g)
         |  UNION ALL
         |  SELECT doc_id, u.g AS g FROM ctok,
         |    unnest(list_transform(range(1, len(arr)),
         |      i -> arr[i] || ' ' || arr[i+1])) AS u(g)),
         |cfeat AS (SELECT doc_id, ($fnvG) % 256 AS b FROM cgrams),
         |cq AS (SELECT b, count(*) AS cq FROM cfeat GROUP BY b),
         |cp AS (SELECT b, count(*) AS cp FROM cfeat JOIN corpus USING (doc_id)
         |       WHERE source IN ('src0','src1') GROUP BY b),
         |tot AS (SELECT
         |  (SELECT count(*) FROM cfeat JOIN corpus USING (doc_id)
         |   WHERE source IN ('src0','src1')) AS tp,
         |  (SELECT count(*) FROM cfeat) AS tq),
         |lr AS (SELECT r.b,
         |    CAST(floor(ln((COALESCE(cp, 0) + 1)::DOUBLE * (tq + 256)::DOUBLE /
         |      ((COALESCE(cq, 0) + 1)::DOUBLE * (tp + 256)::DOUBLE)) * 1e6 + 0.5)
         |      / 1e6 AS DECIMAL(18,6)) AS lr
         |  FROM range(0, 256) AS r(b)
         |  LEFT JOIN cq ON cq.b = r.b LEFT JOIN cp ON cp.b = r.b
         |  CROSS JOIN tot),
         |batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
         |btok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM batch),
         |bgrams AS (
         |  SELECT doc_id, u.g AS g FROM btok, unnest(arr) AS u(g)
         |  UNION ALL
         |  SELECT doc_id, u.g AS g FROM btok,
         |    unnest(list_transform(range(1, len(arr)),
         |      i -> arr[i] || ' ' || arr[i+1])) AS u(g)),
         |bfeat AS (SELECT doc_id, ($fnvG) % 256 AS b FROM bgrams)
         |SELECT doc_id,
         |       floor(CAST(sum(lr) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS logw,
         |       count(*)::BIGINT AS n_feats
         |FROM bfeat JOIN lr USING (b) GROUP BY doc_id""".stripMargin
    },
    "dedup_ngram_jaccard" -> ngramJaccardOracleSql,
    "dedup_containment" -> ngramContainmentOracleSql,
    "dedup_jaccard_screened" -> screenedJaccardOracleSql,
    "dedup_containment_screened" -> screenedContainmentOracleSql,
    "text_contamination" -> contaminationOracleSql,
    "text_pii_redact" -> piiRedactOracleSql,
    "text_pack_sequences" -> packSequencesOracleSql,
    "text_repetition" -> repetitionOracleSql,
    "text_mix_sample" ->
      """SELECT doc_id, source, md5('mix1:' || doc_id) AS shuffle_key
        |FROM documents
        |WHERE ('0x' || substr(md5('mix1' || doc_id), 1, 8))::BIGINT % 10000 <
        |  (CASE source WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25
        |   WHEN 'src3' THEN 0.0 ELSE 1.0 END) * 10000""".stripMargin,
    "curation_pipeline" -> curationPipelineOracleSql,
    "text_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_source FROM documents
        |           GROUP BY source)
        |SELECT doc_id, source, n_source,
        |  floor(least(1.0, 10.0 / sqrt(n_source)) * 1e6 + 0.5) / 1e6 AS p_keep
        |FROM documents JOIN c USING (source)
        |WHERE ('0x' || substr(md5('temp1' || doc_id), 1, 8))::BIGINT % 10000 <
        |  least(1.0, 10.0 / sqrt(n_source)) * 10000""".stripMargin,
    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS old_hash FROM documents
        |           WHERE doc_id % 5 != 4),
        |n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |        THEN md5(text || ' [rev2]') ELSE md5(text) END AS new_hash
        |      FROM documents WHERE doc_id % 5 != 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN old_hash IS NULL THEN 'added'
        |       WHEN new_hash IS NULL THEN 'removed'
        |       WHEN old_hash = new_hash THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  old_hash, new_hash
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,
    "dedup_paragraph" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 1),
        |chunks AS (SELECT doc_id,
        |    md5(array_to_string(list_slice(w, i.i*10 + 1, i.i*10 + 10), ' ')) AS ch
        |  FROM w, unnest(range(0,
        |    CAST(floor((len(w) - 1) / 10) AS BIGINT) + 1)) AS i(i)),
        |f AS (SELECT ch, count(*) AS cf FROM chunks GROUP BY ch),
        |per AS (SELECT doc_id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN cf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        |  FROM chunks JOIN f USING (ch) GROUP BY doc_id)
        |SELECT doc_id, n_chunks, n_dup_chunks,
        |  floor(n_dup_chunks::DOUBLE / n_chunks::DOUBLE * 1e6 + 0.5) / 1e6 AS dup_chunk_frac
        |FROM per""".stripMargin,
    // stride-1 exact-span twins: gram generation replays the engine's
    // (10-word windows at every offset, md5-keyed), the frequency
    // screen is a HAVING over the gram key, and the island merge is the
    // same pos - row_number() trick — both engines must agree on every
    // maximal span boundary
    "dedup_span_exact" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |grams AS (SELECT doc_id, i.i::BIGINT AS pos,
        |    md5(array_to_string(list_slice(w, i.i, i.i + 9), ' ')) AS g
        |  FROM w, unnest(range(1, len(w) - 8)) AS i(i)),
        |f AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
        |dup AS (SELECT doc_id, pos FROM grams JOIN f USING (g)),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM dup)
        |SELECT doc_id, min(pos)::BIGINT AS span_start,
        |  (max(pos) + 9)::BIGINT AS span_end,
        |  (max(pos) - min(pos) + 10)::BIGINT AS span_words,
        |  count(*)::BIGINT AS n_grams
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    "dedup_span_trim" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wg AS (SELECT * FROM w WHERE len(w) >= 10),
        |grams AS (SELECT doc_id, i.i::BIGINT AS pos,
        |    md5(array_to_string(list_slice(w, i.i, i.i + 9), ' ')) AS g
        |  FROM wg, unnest(range(1, len(w) - 8)) AS i(i)),
        |f AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
        |dup AS (SELECT doc_id, pos FROM grams JOIN f USING (g)),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM dup),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (SELECT DISTINCT doc_id, j.j::BIGINT AS pos
        |  FROM spans, unnest(range(s, e + 1)) AS j(j)),
        |pw AS (SELECT doc_id, i.i::BIGINT AS pos, w[i.i] AS word
        |  FROM w, unnest(range(1, len(w) + 1)) AS i(i)),
        |kept AS (SELECT pw.doc_id, pw.pos, pw.word FROM pw
        |  ANTI JOIN cov ON pw.doc_id = cov.doc_id AND pw.pos = cov.pos),
        |agg AS (SELECT doc_id,
        |    array_to_string(list(word ORDER BY pos), ' ') AS clean_text,
        |    count(*)::BIGINT AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  coalesce(a.n_kept, 0)::BIGINT AS n_kept_words,
        |  (len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0))::BIGINT
        |    AS n_removed_words
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // lifecycle oracle: rebuild the (g, df) index FROM SCRATCH over the
    // final doc set — evens plus screened-in odds, takedowns out —
    // proving the engine's append/compact merges equal a rebuild
    "dedup_span_index_lifecycle" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |grams AS (SELECT doc_id, i.i::BIGINT AS pos,
        |    md5(array_to_string(list_slice(w, i.i, i.i + 9), ' ')) AS g
        |  FROM w, unnest(range(1, len(w) - 8)) AS i(i)),
        |idxset AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
        |dup_docs AS (SELECT DISTINCT doc_id FROM grams SEMI JOIN idxset USING (g)
        |  WHERE doc_id % 2 = 1),
        |final AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id FROM documents WHERE doc_id % 2 = 1
        |    AND doc_id NOT IN (SELECT doc_id FROM dup_docs)),
        |kept AS (SELECT doc_id FROM final WHERE doc_id % 10 != 0)
        |SELECT g, count(*)::BIGINT AS df
        |FROM grams JOIN kept USING (doc_id) GROUP BY g""".stripMargin,
    // stream-appended index == from-scratch rebuild over corpus ∪
    // admitted (odd docs with no gram in the corpus's distinct set) —
    // the lifecycle oracle minus its compact stage
    "streaming_span_index" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |grams AS (SELECT doc_id, i.i::BIGINT AS pos,
        |    md5(array_to_string(list_slice(w, i.i, i.i + 9), ' ')) AS g
        |  FROM w, unnest(range(1, len(w) - 8)) AS i(i)),
        |idxset AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
        |dup_docs AS (SELECT DISTINCT doc_id FROM grams SEMI JOIN idxset USING (g)
        |  WHERE doc_id % 2 = 1),
        |final AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id FROM documents WHERE doc_id % 2 = 1
        |    AND doc_id NOT IN (SELECT doc_id FROM dup_docs))
        |SELECT g, count(*)::BIGINT AS df
        |FROM grams JOIN final USING (doc_id) GROUP BY g""".stripMargin,
    // the streaming screen emits the raw hits the batch pass would
    // island-merge — same dup CTE, no consolidation
    "streaming_span_screen" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |grams AS (SELECT doc_id, i.i::BIGINT AS pos,
        |    md5(array_to_string(list_slice(w, i.i, i.i + 9), ' ')) AS g
        |  FROM w, unnest(range(1, len(w) - 8)) AS i(i)),
        |idx AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0)
        |SELECT doc_id, pos FROM grams SEMI JOIN idx USING (g)
        |WHERE doc_id % 2 = 1""".stripMargin,
    // the incremental screen: dup = batch gram ∈ the corpus's distinct
    // gram set, then the same island replay
    "dedup_span_incremental" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |grams AS (SELECT doc_id, i.i::BIGINT AS pos,
        |    md5(array_to_string(list_slice(w, i.i, i.i + 9), ' ')) AS g
        |  FROM w, unnest(range(1, len(w) - 8)) AS i(i)),
        |idx AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
        |dup AS (SELECT doc_id, pos FROM grams SEMI JOIN idx USING (g)
        |  WHERE doc_id % 2 = 1),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM dup)
        |SELECT doc_id, min(pos)::BIGINT AS span_start,
        |  (max(pos) + 9)::BIGINT AS span_end,
        |  (max(pos) - min(pos) + 10)::BIGINT AS span_words,
        |  count(*)::BIGINT AS n_grams
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    // surgical decontamination: the dup screen is membership in the
    // benchmark slice's distinct 5-gram set (no corpus-wide frequency),
    // then the same island-merge + trim replay as dedup_span_trim
    "text_decontaminate_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wg AS (SELECT * FROM w WHERE len(w) >= 5),
        |grams AS (SELECT doc_id, i.i::BIGINT AS pos,
        |    md5(array_to_string(list_slice(w, i.i, i.i + 4), ' ')) AS g
        |  FROM wg, unnest(range(1, len(w) - 3)) AS i(i)),
        |b AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
        |dup AS (SELECT doc_id, pos FROM grams SEMI JOIN b USING (g)
        |  WHERE doc_id >= 20),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM dup),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (SELECT DISTINCT doc_id, j.j::BIGINT AS pos
        |  FROM spans, unnest(range(s, e + 1)) AS j(j)),
        |pw AS (SELECT doc_id, i.i::BIGINT AS pos, w[i.i] AS word
        |  FROM w, unnest(range(1, len(w) + 1)) AS i(i) WHERE doc_id >= 20),
        |kept AS (SELECT pw.doc_id, pw.pos, pw.word FROM pw
        |  ANTI JOIN cov ON pw.doc_id = cov.doc_id AND pw.pos = cov.pos),
        |agg AS (SELECT doc_id,
        |    array_to_string(list(word ORDER BY pos), ' ') AS clean_text,
        |    count(*)::BIGINT AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  coalesce(a.n_kept, 0)::BIGINT AS n_kept_words,
        |  (len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0))::BIGINT
        |    AS n_removed_words
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |WHERE d.doc_id >= 20""".stripMargin,
    "dedup_cdc_chunks" -> cdcChunkOracleSql,
    "dedup_cross_source" ->
      """WITH k AS (SELECT doc_id, source,
        |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')) AS content_key,
        |    coalesce(try_cast(regexp_extract(source, '^src([0-9]+)$', 1) AS BIGINT),
        |             9223372036854775807) AS pri
        |  FROM documents),
        |g AS (SELECT *,
        |    row_number() OVER (PARTITION BY content_key ORDER BY pri, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY content_key) AS n_copies
        |  FROM k)
        |SELECT doc_id, source, content_key, n_copies FROM g WHERE rn = 1""".stripMargin,
    "text_quality_classifier" -> classifierOracleSql,
    "text_shard_assign" ->
      """WITH t AS (SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    doc_id % 16 AS part
        |  FROM documents),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY part ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM t)
        |SELECT doc_id, n_tokens, (rn - 1 + part) % 8 AS shard FROM r""".stripMargin,
    "dedup_simhash" -> simhashOracleSql,
    "dedup_simhash_pairs" -> simhashPairsOracleSql,
    "ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
        |p AS (SELECT qid, vec_id AS nn_id,
        |  floor(list_sum(list_transform(list_zip(qe, emb), t -> t[1]*t[2])) /
        |    (sqrt(list_sum(list_transform(qe, x -> x*x))) *
        |     sqrt(list_sum(list_transform(emb, x -> x*x)))) * 1e6 + 0.5) / 1e6 AS cos
        |  FROM q, e WHERE qid != vec_id)
        |SELECT qid, nn_id, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rn
        |  FROM p) WHERE rn <= 5""".stripMargin,
    // the ±1 sign matrix replays the engine's md5 formula; the sum runs
    // in array order and scales by MULTIPLYING the reciprocal (dividing
    // by sqrt(8) instead would differ in ulps from the engine)
    "embedding_project" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        |           WHERE len(embedding) BETWEEN 1 AND 64)
        |SELECT vec_id, CAST(j.j AS INT) AS dim,
        |  floor(list_sum(list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * (CASE WHEN ('0x' || substr(md5('rp:' || j.j || ':' || (i-1)), 1, 1))::INT % 2 = 0
        |                   THEN 1.0 ELSE -1.0 END))) * (1.0/sqrt(8)) * 1e6 + 0.5) / 1e6 AS v
        |FROM e, generate_series(0, 7) AS j(j)""".stripMargin,
    // 1-based inclusive slices on both sides; exact integer chunk count
    "text_chunk_windows" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |k AS (SELECT doc_id, w, CASE WHEN len(w) > 32
        |        THEN (len(w) - 32 + 23) // 24 + 1 ELSE 1 END AS nch FROM d),
        |c AS (SELECT doc_id, w, unnest(range(0, nch)) AS i FROM k)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  array_to_string(w[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)], ' ') AS chunk_text,
        |  CAST(len(w[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)]) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,
    "corpus_report" ->
      """WITH h AS (SELECT source, md5(text) AS h, len(string_split(text,' '))::BIGINT AS toks
        |           FROM documents),
        |c AS (SELECT h, count(*) AS c FROM h GROUP BY h)
        |SELECT CASE WHEN GROUPING(source) = 1 THEN '__all__'
        |            ELSE coalesce(source, '__null__') END AS src,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT h.h) AS BIGINT) AS n_distinct_texts,
        |  floor(CAST(sum(toks) AS DOUBLE) / count(*) * 1e2 + 0.5) / 1e2 AS avg_tokens
        |FROM h JOIN c USING (h)
        |GROUP BY ROLLUP(source)""".stripMargin,
    // codes replayed in closed form; md5 over the comma-joined array
    // makes every component load-bearing in the hash
    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        |           WHERE len(embedding) >= 1),
        |s AS (SELECT vec_id, emb, list_min(emb) AS lo, list_max(emb) AS hi FROM e),
        |q AS (SELECT vec_id, lo, hi,
        |  list_transform(emb, x -> CAST(floor(
        |    (CASE WHEN hi > lo THEN (x - lo) * 255.0 / (hi - lo) ELSE 0.0 END) + 0.5) AS INT)) AS codes
        |  FROM s)
        |SELECT vec_id, floor(lo * 1e6 + 0.5) / 1e6 AS offset6,
        |  floor((CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 1.0 END) * 1e6 + 0.5) / 1e6 AS scale6,
        |  md5(array_to_string(codes, ',')) AS codes_md5,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum
        |FROM q""".stripMargin,
    // lossless maintenance: compaction must not change content
    "files_compact" -> "SELECT * FROM documents",
    // morton interleave replayed with DuckDB's own bit operators; the
    // quantization is pure BIGINT arithmetic on both sides
    "layout_zorder" ->
      """WITH s AS (SELECT CAST(min(o_orderkey) AS BIGINT) xlo,
        |                  CAST(max(o_orderkey) AS BIGINT) xhi,
        |                  CAST(min(o_custkey) AS BIGINT) ylo,
        |                  CAST(max(o_custkey) AS BIGINT) yhi FROM orders),
        |q AS (SELECT o_orderkey, o_custkey,
        |       (CAST(o_orderkey AS BIGINT) - xlo) * 65536 // (xhi - xlo + 1) AS xq,
        |       (CAST(o_custkey AS BIGINT) - ylo) * 65536 // (yhi - ylo + 1) AS yq
        |      FROM orders, s)
        |SELECT o_orderkey, o_custkey,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    (((xq >> i) & 1) << (2*i)) + (((yq >> i) & 1) << (2*i+1)))) AS BIGINT) AS zval
        |FROM q""".stripMargin,
    "ann_bucket_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    CAST(list_sum(list_transform(range(0, 8),
        |      i -> CASE WHEN embedding[i+1] > 0 THEN 2**i ELSE 0 END)) AS INT) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qe, bucket FROM e WHERE vec_id < 10),
        |p AS (SELECT qid, vec_id AS nn_id,
        |  floor(list_sum(list_transform(list_zip(qe, emb), t -> t[1]*t[2])) /
        |    (sqrt(list_sum(list_transform(qe, x -> x*x))) *
        |     sqrt(list_sum(list_transform(emb, x -> x*x)))) * 1e6 + 0.5) / 1e6 AS cos
        |  FROM q JOIN e USING (bucket) WHERE qid != vec_id)
        |SELECT qid, nn_id, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rn
        |  FROM p) WHERE rn <= 3""".stripMargin,
    "ann_ivf_topk" -> ivfOracleSql,
    // append ≡ rebuild by construction (per-row assignment against
    // frozen centroids), so the two-generation index probes to exactly
    // the single-build result — the oracle IS the plain IVF oracle
    "ann_index_lifecycle" -> ivfOracleSql,
    "streaming_ann_index" -> ivfOracleSql,
    "ann_ivf_trained_topk" -> ivfTrainedOracleSql,
    "ann_ivfpq_topk" -> ivfPqOracleSql,
    "ann_ivfpq_rerank" -> ivfPqRerankOracleSql,
    "ann_recall" -> annRecallOracleSql,
    // the catalog gate's oracle is DuckDB DESCRIBING the same table —
    // two independent engines must agree on the canonical (name, dtype)
    // inventory (events.ts: both expose TIMESTAMP regardless of the
    // parquet physical type)
    "catalog_columns" ->
      """SELECT column_name AS col_name, lower(column_type) AS dtype
        |FROM (DESCRIBE SELECT * FROM events)""".stripMargin,
    "ann_ivf_sampled_topk" -> ivfSampledOracleSql,
    "dedup_semantic" -> semanticDedupOracleSql,
    "text_langid" -> langIdOracleSql,
    "text_quality" -> qualityOracleSql,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text,' '))::BIGINT AS n_tokens,
        |  len(list_distinct(string_split(text,' ')))::BIGINT AS n_distinct,
        |  CAST(ceil(length(text)::DOUBLE / 4) AS BIGINT) AS n_subwords_est,
        |  len(regexp_extract_all(text, '[a-zA-Z]{1,4}'))::BIGINT AS n_subwords_re,
        |  floor(len(list_distinct(string_split(text,' ')))::DOUBLE /
        |        len(string_split(text,' '))::DOUBLE * 1e6 + 0.5) / 1e6 AS ttr
        |FROM documents""".stripMargin,
    "text_fingerprint" ->
      s"""WITH base AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id, md5(lower(trim(text))) AS fp,
         |  CASE WHEN len(w) - 2 > 0 THEN list_min(list_transform(
         |    range(0, len(w) - 2),
         |    i -> (('0x' || substr(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 12))::BIGINT
         |        + ('0x' || substr(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 13, 12))::BIGINT)
         |        % ${graft.ops.Dedup.MinhashP}))
         |  ELSE NULL END AS rolling_min_hash,
         |  length(text)::BIGINT AS n_chars_actual
         |FROM base""".stripMargin,
    // per-token log-prob pinned to 6 dp first (pure scalar, portable
    // floor-scale), then summed as DECIMAL — order-independent, so both
    // engines aggregate exactly
    "text_unigram_logprob" -> unigramLogprobOracleSql,
    // DSIR selection (mirrors TextAnalysis.dsirSelect): unigram+bigram
    // grams → fnv bucket → add-1-smoothed target/raw bucket models →
    // per-instance 6-dp log-ratio DECIMAL-summed per doc → top-100 by
    // (lw desc, doc_id) via the k-th-entry threshold rule
    "text_dsir_select" -> {
      val fnvG = graft.functions.Fnv.duckdbSql("g", graft.functions.Fnv.Basis1)
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
         |grams AS (
         |  SELECT doc_id, u.g AS g FROM tok, unnest(arr) AS u(g)
         |  UNION ALL
         |  SELECT doc_id, u.g AS g FROM tok,
         |    unnest(list_transform(range(1, len(arr)),
         |      i -> arr[i] || ' ' || arr[i+1])) AS u(g)),
         |feat AS (SELECT doc_id, ($fnvG) % 256 AS b FROM grams),
         |cq AS (SELECT b, count(*) AS cq FROM feat GROUP BY b),
         |cp AS (SELECT b, count(*) AS cp FROM feat JOIN documents USING (doc_id)
         |       WHERE source IN ('src0','src1') GROUP BY b),
         |tot AS (SELECT
         |  (SELECT count(*) FROM feat JOIN documents USING (doc_id)
         |   WHERE source IN ('src0','src1')) AS tp,
         |  (SELECT count(*) FROM feat) AS tq),
         |lr AS (SELECT b,
         |    CAST(floor(ln((COALESCE(cp, 0) + 1)::DOUBLE * (tq + 256)::DOUBLE /
         |      ((cq + 1)::DOUBLE * (tp + 256)::DOUBLE)) * 1e6 + 0.5) / 1e6
         |      AS DECIMAL(18,6)) AS lr
         |  FROM cq LEFT JOIN cp USING (b) CROSS JOIN tot),
         |sc AS (SELECT doc_id, sum(lr) AS lw, count(*)::BIGINT AS n_feats
         |       FROM feat JOIN lr USING (b) GROUP BY doc_id),
         |kth AS (SELECT lw AS thr, doc_id AS tie FROM (
         |          SELECT lw, doc_id,
         |            row_number() OVER (ORDER BY lw DESC, doc_id) AS rn FROM sc)
         |        WHERE rn = LEAST(100, (SELECT count(*) FROM sc)))
         |SELECT doc_id, floor(CAST(lw AS DOUBLE) * 1e6 + 0.5) / 1e6 AS logw,
         |       n_feats,
         |       (lw > thr OR (lw = thr AND doc_id <= tie)) AS selected
         |FROM sc CROSS JOIN kth""".stripMargin
    },
    // perplexity-band filter: the unigram LM oracle as a CTE, then the
    // text_length_trim cume_dist mechanics on the logprob axis
    "text_logprob_trim" ->
      s"""WITH lp0 AS (${unigramLogprobOracleSql.replace("\n", "\n  ")}),
         |j AS (SELECT lp0.doc_id, d.source, lp0.logprob, lp0.n_tokens
         |      FROM lp0 JOIN documents d USING (doc_id)),
         |c AS (SELECT *, cume_dist() OVER (PARTITION BY source
         |        ORDER BY logprob) AS pct FROM j)
         |SELECT doc_id, source, logprob, n_tokens,
         |  floor(pct * 1e6 + 0.5) / 1e6 AS pct
         |FROM c WHERE pct > 0.05 AND pct <= 0.95""".stripMargin,
    "text_bigram_logprob" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |b0 AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d),
        |big AS (SELECT doc_id, w[CAST(i AS INT)] AS prev, w[CAST(i AS INT)+1] AS term FROM b0),
        |ctx AS (SELECT prev, count(*) AS cctx FROM big GROUP BY prev),
        |pair AS (SELECT prev, term, count(*) AS cpair FROM big GROUP BY prev, term),
        |v AS (SELECT count(DISTINCT t.u)::DOUBLE AS vocab
        |      FROM documents, unnest(string_split(text,' ')) AS t(u)),
        |lp AS (SELECT doc_id,
        |         CAST(floor(ln((cpair + 1)::DOUBLE / (cctx + vocab)) * 1e6 + 0.5) / 1e6
        |              AS DECIMAL(18,6)) AS lp
        |       FROM big JOIN pair USING (prev, term) JOIN ctx USING (prev) CROSS JOIN v)
        |SELECT doc_id,
        |       floor(CAST(sum(lp) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS logprob,
        |       count(*)::BIGINT AS n_bigrams
        |FROM lp GROUP BY doc_id""".stripMargin,
    // pair counts are weighted by word-occurrence count (classic BPE);
    // the vocabulary is built first so repeated words are counted once
    "text_bpe_pairs" ->
      """WITH w AS (
        |  SELECT word, count(*) AS wc FROM (
        |    SELECT t.u AS word FROM documents, unnest(string_split(text, ' ')) AS t(u))
        |  WHERE length(word) >= 2 GROUP BY word),
        |p AS (
        |  SELECT substr(word, CAST(i AS INT), 2) AS pair, wc FROM (
        |    SELECT word, wc, unnest(range(1, length(word))) AS i FROM w)),
        |a AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count FROM p GROUP BY pair)
        |SELECT pair, pair_count FROM (
        |  SELECT pair, pair_count, row_number() OVER (ORDER BY pair_count DESC, pair) AS rn
        |  FROM a) WHERE rn <= 50""".stripMargin,
    "text_bpe_train" -> bpeTrainOracleSql(8),
    "text_bpe_encode" -> bpeEncodeOracleSql(8),
    "text_bpe_encode_pretrained" -> bpeEncodeOracleSql(8),
    "text_tfidf" ->
      """WITH terms AS (SELECT doc_id, t.u AS term
        |    FROM documents, unnest(string_split(text, ' ')) AS t(u)),
        |tf AS (SELECT doc_id, term, count(*) AS occ FROM terms GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, count(*) AS len FROM terms GROUP BY doc_id),
        |dfreq AS (SELECT term, count(*) AS dfq FROM tf GROUP BY term),
        |n AS (SELECT count(*)::DOUBLE AS corpus_n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |    floor((occ::DOUBLE / len::DOUBLE) * ln(corpus_n / dfq::DOUBLE) * 1e4 + 0.5) / 1e4 AS tfidf
        |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM s) WHERE rn <= 5""".stripMargin,
    "array_stats" ->
      """SELECT vec_id, len(embedding)::BIGINT AS dim,
        |  floor(embedding[1]::DOUBLE * 1e6 + 0.5) / 1e6 AS first_val,
        |  floor(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) * 1e6 + 0.5) / 1e6 AS l2_norm,
        |  floor(list_sum(embedding::DOUBLE[]) / len(embedding) * 1e6 + 0.5) / 1e6 AS mean_val
        |FROM embeddings""".stripMargin,
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "agg_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "window_ntile" ->
      """SELECT c_custkey, c_acctbal,
        |  ntile(4) OVER w AS tile,
        |  floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pr,
        |  floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cd
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal, c_custkey)""".stripMargin,
    "join_bucketed_colocated" ->
      """SELECT c_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin,
    "join_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')""".stripMargin,
    "join_asof" -> asofOracleSql,
    // staleness bound as the post-join CASE the AsOf scaladoc sketches
    "join_asof_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS click_id
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts_us, l.value,
        |  CASE WHEN r.ts_us >= l.ts_us - 21600000000 THEN r.ts_us END AS asof_ts_us,
        |  CASE WHEN r.ts_us >= l.ts_us - 21600000000 THEN r.click_id END AS asof_click_id,
        |  CASE WHEN r.ts_us >= l.ts_us - 21600000000 THEN l.ts_us - r.ts_us END AS gap_us
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us""".stripMargin,
    // the streaming twin runs the same sweep ⇒ the same oracle; the
    // bucketed variant is result-equal by construction ⇒ same again
    "streaming_asof" -> asofOracleSql,
    "join_asof_bucketed" -> asofOracleSql,
    "multimodal_binary" ->
      """SELECT event_id, octet_length(props::BLOB)::BIGINT AS blob_len,
        |  md5(props) AS blob_md5 FROM events""".stripMargin,
    // recomputes the decoded pixel statistics in closed form from the
    // fixture formula (Multimodal.syntheticBmp): the Spark side decodes
    // REAL BMP bytes, the oracle never needs a codec
    "multimodal_decode" ->
      """WITH imgs AS (
        |  SELECT event_id AS id, 4 + event_id % 5 AS w, 3 + event_id % 4 AS h
        |  FROM events),
        |px AS (
        |  SELECT i.id, i.w, i.h,
        |    (i.id + 7*xs.x + 13*ys.y) % 256 AS r,
        |    (2*i.id + 3*xs.x + 5*ys.y) % 256 AS g,
        |    (5*i.id + 11*xs.x + 17*ys.y) % 256 AS b
        |  FROM imgs i, generate_series(0, 7) AS xs(x), generate_series(0, 5) AS ys(y)
        |  WHERE xs.x < i.w AND ys.y < i.h)
        |SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(min(least(r, g, b)) AS BIGINT) AS px_min,
        |  CAST(max(greatest(r, g, b)) AS BIGINT) AS px_max
        |FROM px GROUP BY id, w, h""".stripMargin,
    "multimodal_ahash" -> ahashOracleSql(
      "SELECT t.id, CAST(t.w AS BIGINT) AS width, CAST(t.h AS BIGINT) AS height, ahash FROM ah t"),
    "dedup_image_pairs" -> ahashOracleSql(
      s"""$ahashPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
      extraCte = true),

    // batch (odd ids) vs standing corpus (even ids): corpus-side
    // buckets capped at 64 smallest ids (size-1 buckets KEPT — a lone
    // corpus asset can still match a batch asset), exact Hamming ≤ 4,
    // 4 best corpus partners per batch asset
    "dedup_image_incremental" -> ahashOracleSql(
      s"""$imageIncrementalCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM conf)
         |WHERE rnk <= 4""".stripMargin,
      extraCte = true),

    // the streaming twin emits every confirmed pair (no candCap —
    // row_number windows are illegal on streams); same CTE chain
    "streaming_image_dedup" -> ahashOracleSql(
      s"""$imageIncrementalCte
         |SELECT batch_id, corpus_id, hamming FROM conf""".stripMargin,
      extraCte = true),

    // good incoming rows: formula hashes + corpus-dup flag (the same
    // uncapped screen chain as streaming_image_dedup); quarantine rows:
    // the poison-kind arithmetic
    "streaming_media_quarantine" -> ahashOracleSql(
      s"""$imageIncrementalCte
         |SELECT b.id, true AS ok, '' AS reason,
         |  (d.batch_id IS NOT NULL) AS dup
         |FROM hbt b LEFT JOIN (SELECT DISTINCT batch_id FROM conf) d
         |  ON b.id = d.batch_id
         |UNION ALL SELECT 10000000 + event_id, false,
         |  'decode:' || CASE ((event_id // 5) % 3)
         |    WHEN 0 THEN 'truncated' WHEN 1 THEN 'bomb' ELSE 'bad_crc' END,
         |  false
         |FROM events WHERE event_id % 5 = 0 AND (event_id // 20) % 2 = 1""".stripMargin,
      extraCte = true),

    // min-id closure over the image pair graph → per-asset keep/drop;
    // an independent recursive CTE computes the component minima
    // Dedup.propagateMinLabels returns (same shape as the text
    // clustersOracleSql)
    "dedup_image_clusters" -> ahashOracleSql(
      s"""$ahashPairsCte,
         |${minLabelClosureSql("pairs", "ah")}""".stripMargin,
      extraCte = true, recursive = true),

    // same closed-form move for the PNG fixtures (Multimodal.syntheticPng):
    // the Spark side inflates + unfilters REAL PNG bytes; the oracle only
    // replays the pixel formula
    "multimodal_png" ->
      """WITH imgs AS (
        |  SELECT event_id AS id, 4 + event_id % 6 AS w, 2 + event_id % 5 AS h
        |  FROM events),
        |px AS (
        |  SELECT i.id, i.w, i.h,
        |    (3*i.id + 5*xs.x + 11*ys.y) % 256 AS r,
        |    (7*i.id + 2*xs.x + 3*ys.y) % 256 AS g,
        |    (i.id + 13*xs.x + 9*ys.y) % 256 AS b
        |  FROM imgs i, generate_series(0, 8) AS xs(x), generate_series(0, 5) AS ys(y)
        |  WHERE xs.x < i.w AND ys.y < i.h)
        |SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(min(least(r, g, b)) AS BIGINT) AS px_min,
        |  CAST(max(greatest(r, g, b)) AS BIGINT) AS px_max
        |FROM px GROUP BY id, w, h""".stripMargin,
    // MP4 fixtures (Multimodal.syntheticMp4): the Spark side walks the
    // real box tree and extracts samples via the stsc/stco/stsz tables;
    // the oracle recomputes frame layout + byte sums from the formulas
    "multimodal_mp4" ->
      """WITH imgs AS (
        |  SELECT event_id AS id, 2 + event_id % 5 AS nf FROM events),
        |fr AS (
        |  SELECT id, nf, fs.f, 10 + ((id + 3*fs.f) % 7) AS len
        |  FROM imgs, generate_series(0, 6) AS fs(f) WHERE fs.f < nf),
        |px AS (
        |  SELECT id, f, (5*id + 7*f + 11*js.j) % 256 AS v
        |  FROM fr, generate_series(0, 16) AS js(j) WHERE js.j < len),
        |pxa AS (SELECT id, sum(v) AS all_b,
        |    sum(CASE WHEN f % 2 = 0 THEN v ELSE 0 END) AS key_b
        |  FROM px GROUP BY id),
        |fra AS (SELECT id, max(nf) AS nf,
        |    count(CASE WHEN f % 2 = 0 THEN 1 END) AS nkey, max(len) AS max_len
        |  FROM fr GROUP BY id)
        |SELECT f.id, CAST(f.nf AS BIGINT) AS n_samples,
        |  CAST(f.nf * 40 AS BIGINT) AS duration_ticks,
        |  CAST(f.nkey AS BIGINT) AS n_key,
        |  CAST(p.all_b AS BIGINT) AS all_bytes,
        |  CAST(p.key_b AS BIGINT) AS key_bytes,
        |  CAST(f.max_len AS BIGINT) AS max_sample
        |FROM fra f JOIN pxa p USING (id)""".stripMargin,
    // the video fingerprint replayed from the closed-form sample bytes:
    // per-frame payload byte sums, ':'-joined in frame order, md5'd
    "multimodal_video_fingerprint" ->
      s"""WITH $videoFpCte
         |SELECT id, CAST(nf AS BIGINT) AS n_samples, fp FROM vfp""".stripMargin,
    // exact-equality fp buckets (capped at 64 smallest ids) → pairs;
    // fixtures collide when every frame sum AND the frame count agree
    // (id ≡ id' mod lcm(256,7,5) by the generating formulas)
    "dedup_video_pairs" ->
      s"""WITH $videoFpCte,
         |buckets AS (SELECT fp, list_sort(list(DISTINCT id))[1:64] AS ids
         |  FROM vfp GROUP BY fp HAVING count(DISTINCT id) > 1)
         |SELECT DISTINCT x.a AS id_a, y.b AS id_b, fp
         |FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
         |WHERE x.a < y.b""".stripMargin,
    // closure over the re-mux pair graph → keep/drop, the
    // dedup_image_clusters shape (equality cliques make the recursive
    // CTE's fixpoint shallow — min of each bucket wins)
    "dedup_video_clusters" ->
      s"""WITH RECURSIVE $videoFpCte,
         |buckets AS (SELECT fp, list_sort(list(DISTINCT id))[1:64] AS ids
         |  FROM vfp GROUP BY fp HAVING count(DISTINCT id) > 1),
         |pairs AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
         |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
         |  WHERE x.a < y.b),
         |${minLabelClosureSql("pairs", "vfp")}""".stripMargin,
    // incremental video screen on the exact fingerprint: corpus = even
    // 256-blocks (fp buckets capped at 64 smallest ids, size-1 kept),
    // batch = odd blocks joins on fp equality, 4 smallest-id corpus
    // partners per batch clip — no confirm stage, the bucket key IS
    // the full-precision fingerprint
    "dedup_video_incremental" ->
      s"""WITH $videoFpCte,
         |hc AS (SELECT * FROM vfp WHERE (id // 256) % 2 = 0),
         |hbt AS (SELECT * FROM vfp WHERE (id // 256) % 2 = 1),
         |cb AS (SELECT fp, list_sort(list(DISTINCT id))[1:64] AS ids
         |  FROM hc GROUP BY fp)
         |SELECT batch_id, corpus_id, fp FROM (
         |  SELECT b.id AS batch_id, u.cid AS corpus_id, b.fp,
         |    row_number() OVER (PARTITION BY b.id ORDER BY u.cid) AS rnk
         |  FROM hbt b JOIN cb USING (fp), unnest(ids) AS u(cid))
         |WHERE rnk <= 4""".stripMargin,
    // the perceptual clip signature replayed in closed form: keyframe
    // pixels from the transcode-fixture formulas → per-frame aHash →
    // 16-bit XOR folds packed by keyframe order
    "multimodal_video_phash" ->
      s"""WITH $videoPerceptualCte
         |SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(nk AS BIGINT) AS n_key, sig FROM vsig""".stripMargin,
    // banded-Hamming pairs over the clip signature (4×16-bit bands =
    // the per-keyframe folded hashes, bucket cap 64, Hamming ≤ 6,
    // 4 best partners) — mirrors Multimodal.videoPerceptualPairs
    // through the shared bandedHammingPairs core
    "dedup_video_perceptual" ->
      s"""WITH $videoPerceptualCte,
         |$videoPerceptualPairsCte
         |SELECT id_a, id_b, hamming FROM vpairs""".stripMargin,
    // min-label closure over the perceptual video pair graph →
    // per-clip keep/drop, the dedup_image_clusters shape
    "dedup_video_perceptual_clusters" ->
      s"""WITH RECURSIVE $videoPerceptualCte,
         |$videoPerceptualPairsCte,
         |${minLabelClosureSql("vpairs", "vsig")}""".stripMargin,
    // incremental perceptual screen: corpus = even (id div 2) blocks
    // (band buckets capped at 64 smallest ids, size-1 kept), batch =
    // odd blocks, exact Hamming <= 6, 4 best corpus partners per clip
    "dedup_video_perceptual_incremental" ->
      s"""WITH $videoPerceptualCte,
         |$videoPerceptualIncrementalCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM vconf)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed pair (no candCap —
    // row_number windows are illegal on streams); same CTE chain
    "streaming_video_dedup" ->
      s"""WITH $videoPerceptualCte,
         |$videoPerceptualIncrementalCte
         |SELECT batch_id, corpus_id, hamming FROM vconf""".stripMargin,
    "streaming_video_quarantine" ->
      s"""WITH $videoPerceptualCte,
         |$videoPerceptualIncrementalCte
         |SELECT b.id, true AS ok, '' AS reason,
         |  (d.batch_id IS NOT NULL) AS dup
         |FROM vhbt b LEFT JOIN (SELECT DISTINCT batch_id FROM vconf) d
         |  ON b.id = d.batch_id
         |UNION ALL SELECT 10000000 + event_id, false,
         |  'decode:' || CASE ((event_id // 5) % 3)
         |    WHEN 0 THEN 'truncated' WHEN 1 THEN 'bomb' ELSE 'bad_magic' END,
         |  false
         |FROM events WHERE event_id % 5 = 0 AND (event_id // 2) % 2 = 1""".stripMargin,
    // time-aligned signature over the keyStride-varying fixtures: slot
    // k of 4 samples frame (k*nf)//4 — the dts-fraction rule in closed
    // form (dts = f*delta, duration = nf*delta, so the delta cancels);
    // pixel formulas shared with videoPerceptualCte's fixtures
    "multimodal_video_phash_aligned" ->
      s"""WITH $videoAlignedCte
         |SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(4 AS BIGINT) AS n_key, sig FROM tsig""".stripMargin,
    // JPEG fixtures (Multimodal.syntheticJpeg): the Spark side runs the
    // full baseline decode (Huffman, dequant, IDCT, fixed-point color);
    // the oracle composes the per-block YCbCr formula with the same
    // integer color conversion (>>16 == floor division — exact on both
    // engines); each block contributes 64 identical pixels
    "multimodal_jpeg" -> jpegStatsOracleSql,
    // GIF fixtures (Multimodal.syntheticGif): the Spark side walks real
    // LZW sub-blocks; the oracle composes the palette-index and palette
    // channel formulas
    "multimodal_gif" -> gifStatsOracleSql,
    "multimodal_quarantine_codecs" -> codecQuarantineOracleSql,
    // animated-GIF frame sampling: frame count, per-frame index formula,
    // and palette all closed-form (Multimodal.syntheticGifAnim)
    "multimodal_gif_frames" ->
      """WITH imgs AS (
        |  SELECT event_id AS id, 3 + event_id % 5 AS w, 2 + event_id % 4 AS h,
        |    2 + event_id % 4 AS nf
        |  FROM events),
        |px AS (
        |  SELECT i.id, fs.f,
        |    (3*((5*i.id + 7*xs.x + 3*ys.y + 11*fs.f) % 256) + 7) % 256 AS r,
        |    (5*((5*i.id + 7*xs.x + 3*ys.y + 11*fs.f) % 256) + 11) % 256 AS g,
        |    (7*((5*i.id + 7*xs.x + 3*ys.y + 11*fs.f) % 256) + 13) % 256 AS b
        |  FROM imgs i, generate_series(0, 7) AS xs(x),
        |    generate_series(0, 5) AS ys(y), generate_series(0, 5) AS fs(f)
        |  WHERE xs.x < i.w AND ys.y < i.h AND fs.f < i.nf AND fs.f % 2 = 0)
        |SELECT id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM px GROUP BY id, f""".stripMargin,
    // framed-energy twin of multimodal_audio: same fixture formula,
    // 16-frame windows, exact integer sum of squares
    "multimodal_audio_energy" ->
      """WITH clips AS (
        |  SELECT event_id AS id, 1 + event_id % 2 AS ch,
        |    32 + event_id % 33 AS nf
        |  FROM events),
        |s AS (
        |  SELECT c.id, f.f // 16 AS win,
        |    ((31*c.id + 17*f.f + 29*cc.c) % 65536) - 32768 AS v
        |  FROM clips c, generate_series(0, 64) AS f(f), generate_series(0, 1) AS cc(c)
        |  WHERE f.f < c.nf AND cc.c < c.ch)
        |SELECT id, CAST(win AS BIGINT) AS win,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS energy
        |FROM s GROUP BY id, win""".stripMargin,
    // the fingerprint replayed from the closed-form samples: 4-frame
    // window energies, lead() delta signs, bits ORed per clip
    "multimodal_audio_fingerprint" ->
      """WITH clips AS (
        |  SELECT event_id AS id, 1 + event_id % 2 AS ch,
        |    32 + event_id % 33 AS nf
        |  FROM events),
        |s AS (
        |  SELECT c.id, c.ch, f.f // 4 AS win,
        |    ((31*c.id + 17*f.f + 29*cc.c) % 65536) - 32768 AS v
        |  FROM clips c, generate_series(0, 64) AS f(f), generate_series(0, 1) AS cc(c)
        |  WHERE f.f < c.nf AND cc.c < c.ch),
        |e AS (SELECT id, ch, win, sum(v*v) AS energy FROM s GROUP BY id, ch, win),
        |d AS (SELECT id, ch, win, energy,
        |    lead(energy) OVER (PARTITION BY id ORDER BY win) AS nxt,
        |    count(*) OVER (PARTITION BY id) AS nw
        |  FROM e)
        |SELECT id, CAST(ch AS BIGINT) AS channels, CAST(nw AS BIGINT) AS n_windows,
        |  CAST(coalesce(sum(CASE WHEN nxt > energy
        |    THEN 1::BIGINT << win::INT ELSE 0::BIGINT END), 0) AS BIGINT) AS fp
        |FROM d GROUP BY id, ch, nw""".stripMargin,
    // the fingerprint through the shared banded-Hamming contract
    // (Multimodal.audioFingerprintPairs): 4×4-bit bands keyed by
    // (channels, n_windows), bucket cap 64, exact Hamming ≤ 3, 4 best
    // partners per id_a — the same CTE shape as dedup_image_pairs
    "dedup_audio_pairs" ->
      s"""WITH $audioPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // batch (odd 66-blocks) vs standing corpus (even blocks): corpus
    // buckets capped at 64 smallest ids, size-1 buckets KEPT, exact
    // Hamming ≤ 3, 4 best corpus partners per batch clip
    "dedup_audio_incremental" ->
      s"""WITH $audioFpCte,
         |ac AS (SELECT * FROM af WHERE (id // 66) % 2 = 0),
         |ab AS (SELECT * FROM af WHERE (id // 66) % 2 = 1),
         |ci AS (SELECT id, unnest([
         |    ch::VARCHAR || ':' || nw::VARCHAR || ':0:' || ((fp >> 0) & 15)::VARCHAR,
         |    ch::VARCHAR || ':' || nw::VARCHAR || ':1:' || ((fp >> 4) & 15)::VARCHAR,
         |    ch::VARCHAR || ':' || nw::VARCHAR || ':2:' || ((fp >> 8) & 15)::VARCHAR,
         |    ch::VARCHAR || ':' || nw::VARCHAR || ':3:' || ((fp >> 12) & 15)::VARCHAR
         |  ]) AS bk FROM ac),
         |cb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
         |  FROM ci GROUP BY bk),
         |bi AS (SELECT id AS batch_id, unnest([
         |    ch::VARCHAR || ':' || nw::VARCHAR || ':0:' || ((fp >> 0) & 15)::VARCHAR,
         |    ch::VARCHAR || ':' || nw::VARCHAR || ':1:' || ((fp >> 4) & 15)::VARCHAR,
         |    ch::VARCHAR || ':' || nw::VARCHAR || ':2:' || ((fp >> 8) & 15)::VARCHAR,
         |    ch::VARCHAR || ':' || nw::VARCHAR || ':3:' || ((fp >> 12) & 15)::VARCHAR
         |  ]) AS bk FROM ab),
         |cand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
         |  FROM bi JOIN cb USING (bk), unnest(ids) AS u(cid)),
         |conf AS (SELECT batch_id, corpus_id,
         |    CAST(bit_count(xor(b.fp, c.fp)) AS BIGINT) AS hamming
         |  FROM cand JOIN ab b ON batch_id = b.id JOIN ac c ON corpus_id = c.id
         |  WHERE bit_count(xor(b.fp, c.fp)) <= 3)
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM conf)
         |WHERE rnk <= 4""".stripMargin,
    // min-label closure over the audio pair graph → per-clip keep/drop
    // (Multimodal.mediaNearDupClusters over audioFingerprintPairs) —
    // recursive-CTE closure like dedup_image_clusters
    "dedup_audio_clusters" ->
      s"""WITH RECURSIVE $audioPairsCte,
         |${minLabelClosureSql("pairs", "af")}""".stripMargin,
    "text_length_trim" ->
      """WITH t AS (SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    cume_dist() OVER (PARTITION BY source ORDER BY n_tokens) AS pct
        |  FROM t)
        |SELECT doc_id, source, n_tokens, floor(pct * 1e6 + 0.5) / 1e6 AS pct
        |FROM c WHERE pct > 0.05 AND pct <= 0.95""".stripMargin,
    // same closed-form move for the WAV fixtures (Multimodal.syntheticWav)
    "multimodal_audio" ->
      """WITH clips AS (
        |  SELECT event_id AS id, 1 + event_id % 2 AS ch,
        |    8000 + (event_id % 3) * 4000 AS sr, 32 + event_id % 33 AS nf
        |  FROM events),
        |s AS (
        |  SELECT c.id, c.ch, c.sr, c.nf,
        |    ((31*c.id + 17*f.f + 29*cc.c) % 65536) - 32768 AS v
        |  FROM clips c, generate_series(0, 64) AS f(f), generate_series(0, 1) AS cc(c)
        |  WHERE f.f < c.nf AND cc.c < c.ch)
        |SELECT id, CAST(ch AS BIGINT) AS channels, CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(nf AS BIGINT) AS n_frames, CAST(sum(v) AS BIGINT) AS sum_s,
        |  CAST(min(v) AS BIGINT) AS s_min, CAST(max(v) AS BIGINT) AS s_max
        |FROM s GROUP BY id, ch, sr, nf""".stripMargin,
    "json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events""".stripMargin,
    // dims replicate Multimodal.resizePlan's byte arithmetic: props is
    // ASCII, so byte values == code points; fit-to-32 mirrors it too
    "multimodal_resize" ->
      """WITH d AS (SELECT event_id AS id,
        |    CAST(1 + list_sum(list_transform(range(1, length(props)+1),
        |      i -> unicode(substr(props, i, 1)))) % 64 AS INT) AS w,
        |    CAST(1 + length(props) % 64 AS INT) AS h
        |  FROM events)
        |SELECT id, w AS w0, h AS h0,
        |  CAST(CASE WHEN greatest(w, h) <= 32 THEN w
        |       ELSE greatest(1, CAST(floor(w * 32.0 / greatest(w, h)) AS INT)) END AS INT) AS w1,
        |  CAST(CASE WHEN greatest(w, h) <= 32 THEN h
        |       ELSE greatest(1, CAST(floor(h * 32.0 / greatest(w, h)) AS INT)) END AS INT) AS h1
        |FROM d""".stripMargin,
    "streaming_window_counts" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,
    "streaming_stateful_counts" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",
    // gap-and-island sessionization: a session breaks where the gap to
    // the previous event reaches 30 min (session_window merges windows
    // that OVERLAP, so an exactly-30-min gap starts a new session);
    // session end = last event + gap, matching session_window.end
    "streaming_session_counts" ->
      """WITH x AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM x)
        |SELECT min(ts) AS s_start, max(ts) + INTERVAL 30 MINUTE AS s_end,
        |  user_id, count(*) AS cnt
        |FROM g GROUP BY user_id, grp""".stripMargin,
    "streaming_window_append" ->
      """SELECT * FROM (
        |  SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |WHERE w_start + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin,
    "streaming_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "streaming_jdbc_sink" ->
      """SELECT * FROM (
        |  SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |WHERE w_start + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin,
    "streaming_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin,
    // the real keyframe sample replayed in closed form: nf = 2+id%5
    // samples, keyframes every 2nd (stss), dts = 40f (stts one-run),
    // len = 10+(id+3f)%7 (stsz), byte j of frame f = (5id+7f+11j)%256
    "multimodal_frames" ->
      """WITH vids AS (
        |  SELECT event_id AS id, 2 + event_id % 5 AS nf FROM events),
        |keys AS (
        |  SELECT id, CAST(fs.f AS INT) AS frame_idx,
        |    CAST(40 * fs.f AS BIGINT) AS dts,
        |    CAST(10 + ((id + 3*fs.f) % 7) AS INT) AS frame_len
        |  FROM vids, generate_series(0, 6) AS fs(f)
        |  WHERE fs.f < nf AND fs.f % 2 = 0)
        |SELECT id, frame_idx, dts, frame_len,
        |  CAST(sum((5*id + 7*frame_idx + 11*js.j) % 256) AS BIGINT) AS byte_sum
        |FROM keys, generate_series(0, 16) AS js(j)
        |WHERE js.j < frame_len
        |GROUP BY id, frame_idx, dts, frame_len""".stripMargin,
    // the scale-invariant INCREMENTAL screen: corpus thumb index =
    // all originals (buckets capped at 64 smallest ids, size-1 kept),
    // batch = the NN-2× re-uploads, Hamming ≤ 6, 4 best partners
    "dedup_image_scale_invariant_incremental" ->
      s"""WITH $scaleInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM conf)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit (no candCap —
    // row_number windows are illegal on streams); same CTE chain
    "streaming_scale_invariant_dedup" ->
      s"""WITH $scaleInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM conf""".stripMargin,
    // scale-invariant image pairs: fixed 8×8 NN thumbs (double-floor
    // index map for the 2× upscaled copies), shared aHash bit rule,
    // 16-bit bands, capped buckets, Hamming ≤ 6 confirms, 4 best
    // partners per asset
    "dedup_image_scale_invariant" ->
      s"""WITH $scaleInvariantPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // min-label closure over the scale-invariant pair graph → per-asset
    // keep/drop (Multimodal.mediaNearDupClusters over
    // MediaKeys.ImageScale.key.pairs): every NN re-upload lands in its
    // original's cluster (Hamming 0), the even original id 2e is the
    // representative, so re-uploads DROP and originals keep —
    // recursive-CTE closure like dedup_audio_rate_invariant_keep
    "dedup_image_scale_invariant_keep" ->
      s"""WITH RECURSIVE $scaleInvariantPairsCte,
         |${minLabelClosureSql("pairs", "sah")}""".stripMargin,
    // real nearest-neighbor resample: fixture dims → resizePlan fit →
    // integer sx/sy index map → closed-form pixels → sums + md5 string
    "multimodal_resample" ->
      """WITH imgs AS (SELECT event_id AS id, 4 + event_id % 5 AS w,
        |    3 + event_id % 4 AS h FROM events),
        |dims AS (SELECT id, w AS w0, h AS h0,
        |    CASE WHEN greatest(w, h) <= 4 THEN w
        |         ELSE greatest(1, (w * 4) // greatest(w, h)) END AS w1,
        |    CASE WHEN greatest(w, h) <= 4 THEN h
        |         ELSE greatest(1, (h * 4) // greatest(w, h)) END AS h1
        |  FROM imgs),
        |rgbx AS (SELECT d.id, d.w0, d.h0, d.w1, d.h1,
        |    ys.y * d.w1 + xs.x AS idx,
        |    (xs.x * d.w0) // d.w1 AS sx, (ys.y * d.h0) // d.h1 AS sy
        |  FROM dims d, generate_series(0, 7) AS xs(x),
        |    generate_series(0, 5) AS ys(y)
        |  WHERE xs.x < d.w1 AND ys.y < d.h1),
        |pxv AS (SELECT id, w0, h0, w1, h1, idx,
        |    (id + 7*sx + 13*sy) % 256 AS r,
        |    (2*id + 3*sx + 5*sy) % 256 AS g,
        |    (5*id + 11*sx + 17*sy) % 256 AS b
        |  FROM rgbx)
        |SELECT id, w0, h0, w1, h1,
        |  sum(r)::BIGINT AS rsum, sum(g)::BIGINT AS gsum,
        |  sum(b)::BIGINT AS bsum,
        |  md5(w1::VARCHAR || ':' || h1::VARCHAR || ':' ||
        |    string_agg(r::VARCHAR || ',' || g::VARCHAR || ',' || b::VARCHAR,
        |      ':' ORDER BY idx)) AS rfp
        |FROM pxv GROUP BY id, w0, h0, w1, h1""".stripMargin,
    // real nearest-neighbor audio resample: fixture rates → integer
    // frame map → closed-form samples → exact sums + md5 through the
    // sampleMd5 string shape ("ch:v0:v1:…" over interleaved order)
    "multimodal_audio_resample" ->
      """WITH clips AS (SELECT event_id AS id, 1 + event_id % 2 AS ch,
        |    8000 + (event_id % 3) * 4000 AS sr, 32 + event_id % 33 AS nf
        |  FROM events),
        |dims AS (SELECT id, ch, sr, nf AS nf0,
        |    greatest(1, (nf * 16000) // sr) AS nf1 FROM clips),
        |sm AS (SELECT d.id, d.ch, d.sr, d.nf0, d.nf1,
        |    f.f * d.ch + cc.c AS i,
        |    ((31*d.id + 17*((f.f * d.nf0) // d.nf1) + 29*cc.c) % 65536)
        |      - 32768 AS v
        |  FROM dims d, generate_series(0, 127) AS f(f),
        |    generate_series(0, 1) AS cc(c)
        |  WHERE f.f < d.nf1 AND cc.c < d.ch)
        |SELECT id, CAST(ch AS BIGINT) AS channels, CAST(sr AS BIGINT) AS sr0,
        |  CAST(nf0 AS BIGINT) AS nf0, CAST(nf1 AS BIGINT) AS nf1,
        |  CAST(sum(v) AS BIGINT) AS sum_s,
        |  md5(ch::VARCHAR || ':' ||
        |    string_agg(v::VARCHAR, ':' ORDER BY i)) AS rfp
        |FROM sm GROUP BY id, ch, sr, nf0, nf1""".stripMargin,
    // rate-invariant audio pairs: fixed 64-slot NN energy sampling
    // (double-floor slot map for the ZOH-2× copies), strict delta-sign
    // bits, 16-bit bands, capped buckets, Hamming ≤ 6 confirms, 4 best
    // partners per clip
    "dedup_audio_rate_invariant" ->
      s"""WITH ${rateInvariantPairsCte()}
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // min-label closure over the rate-invariant pair graph → per-clip
    // keep/drop (Multimodal.mediaNearDupClusters over
    // MediaKeys.AudioRate.key.pairs): every ZOH re-upload lands in its
    // original's cluster (Hamming 0), the smaller original id is the
    // representative, so re-uploads DROP and originals keep —
    // recursive-CTE closure like dedup_audio_clusters
    "dedup_audio_rate_invariant_keep" ->
      s"""WITH RECURSIVE ${rateInvariantPairsCte()},
         |${minLabelClosureSql("pairs", "rfp")}""".stripMargin,
    // the rate-invariant INCREMENTAL screen: corpus signature index =
    // all originals (buckets capped at 64 smallest ids, size-1 kept),
    // batch = the ZOH-2× re-uploads, Hamming ≤ 6, 4 best partners
    "dedup_audio_rate_invariant_incremental" ->
      s"""WITH ${rateInvariantScreenCte()}
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM conf)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit (no candCap —
    // row_number windows are illegal on streams); same CTE chain
    "streaming_rate_invariant_dedup" ->
      s"""WITH ${rateInvariantScreenCte()}
         |SELECT batch_id, corpus_id, hamming FROM conf""".stripMargin,
    // scale-invariant VIDEO pairs: fixed 8×8 NN thumbs per keyframe
    // (double-floor index map for the 2× rescaled transcodes), shared
    // aHash rule, per-keyframe 16-bit folds, dimension-free band group,
    // capped buckets, Hamming ≤ 6 confirms, 4 best partners per clip
    "dedup_video_scale_invariant" ->
      s"""WITH $videoSiPairsCte
         |SELECT id_a, id_b, hamming FROM svpairs""".stripMargin,
    // min-label closure over the scale-invariant video pair graph →
    // per-clip keep/drop: every rescaled transcode lands in its
    // original's cluster (Hamming 0), the even original id 2e is the
    // representative, so transcodes DROP and originals keep
    "dedup_video_scale_invariant_keep" ->
      s"""WITH RECURSIVE $videoSiPairsCte,
         |${minLabelClosureSql("svpairs", "vssig")}""".stripMargin,
    // the scale-invariant video INCREMENTAL screen: corpus signature
    // index = all originals (buckets capped at 64 smallest ids, size-1
    // kept), batch = the NN-2× rescaled transcodes, Hamming ≤ 6,
    // 4 best partners
    "dedup_video_scale_invariant_incremental" ->
      s"""WITH $videoSiScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM svconf2)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit (no candCap —
    // row_number windows are illegal on streams); same CTE chain
    "streaming_video_scale_invariant_dedup" ->
      s"""WITH $videoSiScreenCte
         |SELECT batch_id, corpus_id, hamming FROM svconf2""".stripMargin,
    // scale+stride-invariant video pairs: content-timeline slot
    // sampling ((k·nf) // 4 — uniform deltas cancel) + fixed 8×8 NN
    // thumbs (double-floor for the rescaled copies), signed slot-3
    // pack, one corpus-wide group, capped buckets, Hamming ≤ 6,
    // 4 best partners
    "dedup_video_scale_time_invariant" ->
      s"""WITH $videoStiPairsCte
         |SELECT id_a, id_b, hamming FROM stpairs""".stripMargin,
    // min-label closure over the composition pair graph → per-clip
    // keep/drop: rescaled+re-muxed copies AND cross-stride variants
    // land in one cluster; the smallest id is the representative
    "dedup_video_scale_time_invariant_keep" ->
      s"""WITH RECURSIVE $videoStiPairsCte,
         |${minLabelClosureSql("stpairs", "stsig")}""".stripMargin,
    // the composition INCREMENTAL screen: corpus signature index = all
    // originals (buckets capped at 64 smallest ids, size-1 kept),
    // batch = the rescaled re-muxed transcodes, Hamming ≤ 6, 4 best
    "dedup_video_scale_time_invariant_incremental" ->
      s"""WITH $videoStiScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM stconf2)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit (no candCap —
    // row_number windows are illegal on streams); same CTE chain
    "streaming_video_scale_time_invariant_dedup" ->
      s"""WITH $videoStiScreenCte
         |SELECT batch_id, corpus_id, hamming FROM stconf2""".stripMargin,
    // crop/letterbox-invariant image pairs (r17): the contentBox trim
    // provably recovers the exact original rectangle and the NN box
    // thumb composes under the 2× upscale (double-floor), so the
    // replay needs NO border arithmetic — the copies' thumbs replay
    // through the same k=2 double-floor over the ORIGINAL pixel
    // formulas; 'cbox' corpus-wide group, 16-bit bands, caps, confirms
    "dedup_image_crop_invariant" ->
      s"""WITH $cropInvariantPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // min-label closure over the crop-invariant pair graph → per-asset
    // keep/drop: every letterboxed re-upload lands in its original's
    // cluster (Hamming 0), the even original id 2e keeps
    "dedup_image_crop_invariant_keep" ->
      s"""WITH RECURSIVE $cropInvariantPairsCte,
         |${minLabelClosureSql("pairs", "sah")}""".stripMargin,
    // the crop-invariant INCREMENTAL screen: corpus thumb index = all
    // originals (buckets capped at 64 smallest ids, size-1 kept),
    // batch = the letterboxed upscaled re-uploads, Hamming ≤ 6, 4 best
    "dedup_image_crop_invariant_incremental" ->
      s"""WITH $cropInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM conf)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit (no candCap —
    // row_number windows are illegal on streams); same CTE chain
    "streaming_crop_invariant_dedup" ->
      s"""WITH $cropInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM conf""".stripMargin,
    // crop/letterbox-invariant VIDEO pairs (r17): per-keyframe
    // contentBox trim + fixed 8×8 NN thumbs (double-floor for the 2×
    // rescales — the letterbox pads cancel through the trim), shared
    // aHash rule, per-keyframe 16-bit folds, 'vcbox' group
    "dedup_video_crop_invariant" ->
      s"""WITH $videoCiPairsCte
         |SELECT id_a, id_b, hamming FROM svpairs""".stripMargin,
    // min-label closure over the crop-invariant video pair graph
    "dedup_video_crop_invariant_keep" ->
      s"""WITH RECURSIVE $videoCiPairsCte,
         |${minLabelClosureSql("svpairs", "vssig")}""".stripMargin,
    // the crop-invariant video INCREMENTAL screen
    "dedup_video_crop_invariant_incremental" ->
      s"""WITH $videoCiScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM svconf2)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit; same CTE chain
    "streaming_video_crop_invariant_dedup" ->
      s"""WITH $videoCiScreenCte
         |SELECT batch_id, corpus_id, hamming FROM svconf2""".stripMargin,
    // trim-invariant audio pairs (r17): onset/span scan over the
    // closed-form frame energies, span-anchored double-floor slot map
    // (the ZOH-2× AND the silence pads cancel: the copy's slot energy
    // is e(f0 + ⌊⌊2wn/64⌋/2⌋)), strict delta-sign bits, 'trim' group
    "dedup_audio_trim_invariant" ->
      s"""WITH $trimInvariantPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // min-label closure over the trim-invariant pair graph
    "dedup_audio_trim_invariant_keep" ->
      s"""WITH RECURSIVE $trimInvariantPairsCte,
         |${minLabelClosureSql("pairs", "trfp")}""".stripMargin,
    // the trim-invariant INCREMENTAL screen
    "dedup_audio_trim_invariant_incremental" ->
      s"""WITH $trimInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM conf)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit; same CTE chain
    "streaming_trim_invariant_dedup" ->
      s"""WITH $trimInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM conf""".stripMargin,
    // mirror-invariant image pairs (r17): both orientations' thumbs
    // (sx and its reflection w−1−sx) through the shared aHash rule,
    // signed least() canonicalization — mirrored+2×-upscaled copies
    // replay to the same canonical hash by orbit-set equality, so the
    // copy rows carry the original's formulas; 'mthumb' group, bands,
    // caps, confirms
    "dedup_image_mirror_invariant" ->
      s"""WITH $mirrorInvariantPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // min-label closure over the mirror-invariant pair graph
    "dedup_image_mirror_invariant_keep" ->
      s"""WITH RECURSIVE $mirrorInvariantPairsCte,
         |${minLabelClosureSql("pairs", "mah")}""".stripMargin,
    // the mirror-invariant INCREMENTAL screen
    "dedup_image_mirror_invariant_incremental" ->
      s"""WITH $mirrorInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM conf)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit; same CTE chain
    "streaming_mirror_invariant_dedup" ->
      s"""WITH $mirrorInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM conf""".stripMargin,
    // rotation-invariant image pairs (r18, VERDICT r17 #4): all EIGHT
    // orientations' thumbs (the D4 orbit — dims swap on odd turns, the
    // CASE table maps oriented grid samples back to source coords)
    // through the shared aHash rule, signed least() canonicalization —
    // rotated+2×-upscaled copies replay to the same canonical hash by
    // the group-orbit lemma, so the copy rows carry the original's
    // formulas; 'rthumb' group, bands, caps, confirms
    "dedup_image_rotation_invariant" ->
      s"""WITH $rotationInvariantPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // min-label closure over the rotation-invariant pair graph
    "dedup_image_rotation_invariant_keep" ->
      s"""WITH RECURSIVE $rotationInvariantPairsCte,
         |${minLabelClosureSql("pairs", "rah")}""".stripMargin,
    // the rotation-invariant INCREMENTAL screen
    "dedup_image_rotation_invariant_incremental" ->
      s"""WITH $rotationInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM conf)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit; same CTE chain
    "streaming_rotation_invariant_dedup" ->
      s"""WITH $rotationInvariantScreenCte
         |SELECT batch_id, corpus_id, hamming FROM conf""".stripMargin,
    // mirror-invariant VIDEO pairs (r18, VERDICT r17 #3): per keyframe
    // BOTH orientations' fixed-grid thumbs, per-frame signed least()
    // BEFORE the 16-bit fold (the engine's exact order), folds packed
    // by keyframe order — frame-mirrored+2×-rescaled transcodes replay
    // to the same signature by the frame-wise orbit lemma; 'vmthumb:'
    // + n_key group, bands, caps, confirms
    "dedup_video_mirror_invariant" ->
      s"""WITH $videoMiPairsCte
         |SELECT id_a, id_b, hamming FROM svpairs""".stripMargin,
    // min-label closure over the mirror-invariant video pair graph
    "dedup_video_mirror_invariant_keep" ->
      s"""WITH RECURSIVE $videoMiPairsCte,
         |${minLabelClosureSql("svpairs", "vmsig")}""".stripMargin,
    // the mirror-invariant video INCREMENTAL screen
    "dedup_video_mirror_invariant_incremental" ->
      s"""WITH $videoMiScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM svconf2)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit; same CTE chain
    "streaming_video_mirror_invariant_dedup" ->
      s"""WITH $videoMiScreenCte
         |SELECT batch_id, corpus_id, hamming FROM svconf2""".stripMargin,
    // rotation-invariant VIDEO pairs (r18): per keyframe all EIGHT
    // orientations' thumbs (the per-frame D4 orbit, dims swapping on
    // odd turns), per-frame signed least() BEFORE the fold, packed by
    // keyframe order — frame-rotated+2×-rescaled transcodes replay to
    // the same signature by the frame-wise group-orbit lemma;
    // 'vrthumb:' + n_key group, bands, caps, confirms
    "dedup_video_rotation_invariant" ->
      s"""WITH $videoRotPairsCte
         |SELECT id_a, id_b, hamming FROM svpairs""".stripMargin,
    // min-label closure over the rotation-invariant video pair graph
    "dedup_video_rotation_invariant_keep" ->
      s"""WITH RECURSIVE $videoRotPairsCte,
         |${minLabelClosureSql("svpairs", "vrsig")}""".stripMargin,
    // the rotation-invariant video INCREMENTAL screen
    "dedup_video_rotation_invariant_incremental" ->
      s"""WITH $videoRotScreenCte
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM svconf2)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit; same CTE chain
    "streaming_video_rotation_invariant_dedup" ->
      s"""WITH $videoRotScreenCte
         |SELECT batch_id, corpus_id, hamming FROM svconf2""".stripMargin,
    // channel-swap pairs through the RATE key (r18, VERDICT r17 #3):
    // the oracle replays the channel-SUMMED energies — the L/R swap
    // cancels inside the sum in closed form, so the replay is the rate
    // key's double-floor slot map verbatim; only the batch cadence
    // differs (every 4th = the stereo odd events)
    "dedup_audio_channel_swap_invariant" ->
      s"""WITH ${rateInvariantPairsCte("event_id % 4 = 1")}
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // min-label closure over the channel-swap pair graph
    "dedup_audio_channel_swap_invariant_keep" ->
      s"""WITH RECURSIVE ${rateInvariantPairsCte("event_id % 4 = 1")},
         |${minLabelClosureSql("pairs", "rfp")}""".stripMargin,
    // the channel-swap INCREMENTAL screen (the rate screen's CTEs)
    "dedup_audio_channel_swap_invariant_incremental" ->
      s"""WITH ${rateInvariantScreenCte("event_id % 4 = 1")}
         |SELECT batch_id, corpus_id, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
         |  FROM conf)
         |WHERE rnk <= 4""".stripMargin,
    // the streaming twin emits every confirmed hit; same CTE chain
    "streaming_channel_swap_invariant_dedup" ->
      s"""WITH ${rateInvariantScreenCte("event_id % 4 = 1")}
         |SELECT batch_id, corpus_id, hamming FROM conf""".stripMargin,
    "agg_salted_count" ->
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    "k4_ttl_preserve" ->
      """WITH t AS (SELECT event_id, value,
        |    CASE WHEN event_id % 3 = 0 THEN event_id % 100 ELSE NULL END::BIGINT AS ttl_value
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN ttl_value IS NOT NULL AND ttl_value <= 50 THEN NULL ELSE value END AS value,
        |  CASE WHEN ttl_value IS NOT NULL AND ttl_value > 50 THEN ttl_value - 50
        |       ELSE NULL END::BIGINT AS ttl_value
        |FROM t""".stripMargin,
    "udf_transform" ->
      "SELECT c_custkey, replace(lower(c_name), '#', '-') AS c_slug FROM customer",
    // capped buckets mirror Similarity.embeddingNearDup: per sign-bucket
    // keep the 256 smallest vec_ids, expand in-bucket pairs, cosine
    // confirm on joined-back embeddings
    "dedup_embedding_cosine" ->
      """WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    CAST(list_sum(list_transform(range(0, 8),
        |      i -> CASE WHEN embedding[i+1] > 0 THEN 2**i ELSE 0 END)) AS INT) AS bucket
        |  FROM embeddings),
        |buckets AS (SELECT bucket, list_sort(list(DISTINCT vec_id))[1:256] AS ids
        |  FROM b GROUP BY bucket HAVING count(DISTINCT vec_id) > 1),
        |cand AS (SELECT x.a AS vec_a, y.y AS vec_b
        |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(y)
        |  WHERE x.a < y.y)
        |SELECT vec_a, vec_b,
        |  floor(list_sum(list_transform(list_zip(a.emb, c.emb), t -> t[1]*t[2])) /
        |    (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
        |     sqrt(list_sum(list_transform(c.emb, x -> x*x)))) * 1e6 + 0.5) / 1e6 AS cos
        |FROM cand JOIN b a ON vec_a = a.vec_id JOIN b c ON vec_b = c.vec_id
        |WHERE floor(list_sum(list_transform(list_zip(a.emb, c.emb), t -> t[1]*t[2])) /
        |    (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
        |     sqrt(list_sum(list_transform(c.emb, x -> x*x)))) * 1e6 + 0.5) / 1e6 >= 0.25""".stripMargin,
    "dedup_near_keep" ->
      s"""WITH pairs AS (${minhashOracleSql.replace("\n", "\n  ")})
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)""".stripMargin,
    // transitive closure over the pair graph via recursive CTE; cluster =
    // min reachable id (self for singletons) — the labels
    // Dedup.propagateMinLabels returns
    "dedup_clusters" -> clustersOracleSql,
    // survivorship: clusters CTE (nested WITH RECURSIVE, the
    // dedup_cluster_stats pattern) joined with the quality CTE, best
    // quality wins per cluster (doc_id tie-break)
    "dedup_keep_best" -> keepBestOracleSql,
    // the WHOLE admission path as one gate: curation keep ∧ best-copy
    // survivorship → per-source token-budget prefix — every stage is
    // its own green gate; this one certifies the COMPOSITION
    "pipeline_pretrain_mix" ->
      s"""WITH cp AS (${curationPipelineOracleSql.replace("\n", "\n  ")}),
         |kb AS (${keepBestOracleSql.replace("\n", "\n  ")}),
         |sv AS (SELECT d.doc_id, d.source, d.text
         |       FROM documents d JOIN cp USING (doc_id) JOIN kb USING (doc_id)
         |       WHERE cp.keep = 1 AND kb.keep),
         |p AS (SELECT doc_id, source,
         |    len(string_split(text, ' '))::BIGINT AS n_tokens,
         |    ('0x' || substr(md5('mix1' || doc_id), 1, 15))::BIGINT AS priority
         |  FROM sv),
         |c AS (SELECT doc_id, source, n_tokens, priority,
         |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY priority, doc_id
         |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
         |  FROM p)
         |SELECT doc_id, source, n_tokens, priority, cum_tokens
         |FROM c WHERE cum_tokens <= 15000""".stripMargin,
    // the FULL admission book (VERDICT r9 #2): contamination blocks,
    // curation ∧ keep-best ∧ perplexity band admit, PII redaction
    // rewrites survivors (injected fixture PII, audit counts hashed),
    // token budget admits from the CLEAN text — one nested-CTE oracle
    // certifying the complete cross-engine composition
    "pipeline_pretrain_full" -> pipelineFullOracleSql,
    "pipeline_pretrain_surgical" -> pipelineSurgicalOracleSql,
    "pipeline_media_admission" -> mediaAdmissionOracleSql(),
    "pipeline_media_admission_from_index" -> mediaAdmissionOracleSql(),
    "multimodal_quarantine" -> mediaAdmissionOracleSql(withQuarantine = true),
    // same oracle: book-from-persisted-safe-index ≡ book-from-decode
    "multimodal_quarantine_from_index" ->
      mediaAdmissionOracleSql(withQuarantine = true),
    // closed-form counts: n_events ok rows per modality + poison-kind
    // volumes by the same (event_id // 5) % K arithmetic the fixtures use
    "multimodal_quarantine_report" ->
      """SELECT modality, reason, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT m.modality, '' AS reason
        |  FROM events e, (VALUES ('image'), ('audio'), ('video')) AS m(modality)
        |  UNION ALL SELECT 'image',
        |    'decode:' || CASE ((event_id // 5) % 3) WHEN 0 THEN 'truncated'
        |      WHEN 1 THEN 'bomb' ELSE 'bad_crc' END
        |  FROM events WHERE event_id % 5 = 0
        |  UNION ALL SELECT 'audio',
        |    'decode:' || CASE ((event_id // 5) % 2) WHEN 0 THEN 'truncated'
        |      ELSE 'bad_magic' END
        |  FROM events WHERE event_id % 5 = 0
        |  UNION ALL SELECT 'video',
        |    'decode:' || CASE ((event_id // 5) % 3) WHEN 0 THEN 'truncated'
        |      WHEN 1 THEN 'bomb' ELSE 'bad_magic' END
        |  FROM events WHERE event_id % 5 = 0)
        |GROUP BY modality, reason""".stripMargin,
    "pipeline_multimodal_admission" -> multimodalAdmissionOracleSql,
    // histogram of the closure's cluster sizes (corpus-health report)
    "dedup_cluster_stats" ->
      s"""WITH c AS (${clustersOracleSql.replace("\n", "\n  ")})
         |SELECT cnt AS cluster_size, count(*) AS n_clusters
         |FROM (SELECT cluster, count(*) AS cnt FROM c GROUP BY cluster)
         |GROUP BY cnt""".stripMargin
  )

  /** Quality survivorship oracle: clusters CTE (nested WITH RECURSIVE)
    * joined with quality, best quality wins per cluster. Shared by the
    * dedup_keep_best gate and the pipeline_pretrain_mix composition. */
  private def keepBestOracleSql: String =
    s"""WITH cl AS (${clustersOracleSql.replace("\n", "\n  ")}),
       |q AS (${qualityOracleSql.replace("\n", "\n  ")}),
       |j AS (SELECT cl.doc_id, cl.cluster, q.quality
       |      FROM cl JOIN q USING (doc_id))
       |SELECT doc_id, cluster, quality,
       |  row_number() OVER (PARTITION BY cluster
       |    ORDER BY quality DESC, doc_id) = 1 AS keep
       |FROM j""".stripMargin

  /** The full-book admission oracle (mirrors the
    * `pipeline_pretrain_full` gate): each stage oracle nested as its
    * own derived table (isolated WITH scopes), composed exactly as the
    * engine composes the operators. */
  /** The surgical admission book: curation ∧ keep-best ∧ perplexity
    * band admit (benchmark ids never admitted), decontaminateSpans
    * trims the survivors' benchmark-leaked 5-gram spans, and the
    * token budget runs over the CLEAN text. Replays every stage
    * nested, including the full span-trim chain. */
  private def pipelineSurgicalOracleSql: String = {
    def ind(s: String) = s.replace("\n", "\n  ")
    s"""WITH cp AS (${ind(curationPipelineOracleSql)}),
       |kb AS (${ind(keepBestOracleSql)}),
       |band AS (SELECT doc_id FROM (
       |  WITH lp0 AS (${ind(unigramLogprobOracleSql)}),
       |  bj AS (SELECT lp0.doc_id, d.source, lp0.logprob
       |         FROM lp0 JOIN documents d USING (doc_id)),
       |  bc AS (SELECT doc_id, cume_dist() OVER (PARTITION BY source
       |           ORDER BY logprob) AS pct FROM bj)
       |  SELECT doc_id FROM bc WHERE pct > 0.05 AND pct <= 0.95)),
       |adm AS (SELECT d.doc_id, d.source, d.text
       |        FROM documents d JOIN cp USING (doc_id) JOIN kb USING (doc_id)
       |          JOIN band USING (doc_id)
       |        WHERE cp.keep = 1 AND kb.keep AND d.doc_id >= 20),
       |pool AS (SELECT doc_id, text FROM documents WHERE doc_id < 20
       |         UNION ALL SELECT doc_id, text FROM adm),
       |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM pool),
       |wg AS (SELECT * FROM w WHERE len(w) >= 5),
       |grams AS (SELECT doc_id, i.i::BIGINT AS pos,
       |    md5(array_to_string(list_slice(w, i.i, i.i + 4), ' ')) AS g
       |  FROM wg, unnest(range(1, len(w) - 3)) AS i(i)),
       |b AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
       |dup AS (SELECT doc_id, pos FROM grams SEMI JOIN b USING (g)
       |  WHERE doc_id >= 20),
       |isl AS (SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM dup),
       |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
       |  FROM isl GROUP BY doc_id, island),
       |cov AS (SELECT DISTINCT doc_id, j.j::BIGINT AS pos
       |  FROM spans, unnest(range(s, e + 1)) AS j(j)),
       |pw AS (SELECT doc_id, i.i::BIGINT AS pos, w[i.i] AS word
       |  FROM w, unnest(range(1, len(w) + 1)) AS i(i) WHERE doc_id >= 20),
       |kept AS (SELECT pw.doc_id, pw.pos, pw.word FROM pw
       |  ANTI JOIN cov ON pw.doc_id = cov.doc_id AND pw.pos = cov.pos),
       |agg AS (SELECT doc_id,
       |    array_to_string(list(word ORDER BY pos), ' ') AS clean_text,
       |    count(*)::BIGINT AS n_kept FROM kept GROUP BY doc_id),
       |red AS (SELECT p.doc_id, coalesce(a.clean_text, '') AS text,
       |    coalesce(a.n_kept, 0)::BIGINT AS n_kept_words,
       |    (len(string_split(p.text, ' ')) - coalesce(a.n_kept, 0))::BIGINT
       |      AS n_removed_words
       |  FROM pool p LEFT JOIN agg a USING (doc_id) WHERE p.doc_id >= 20),
       |fp0 AS (SELECT r.doc_id, adm.source, r.n_kept_words, r.n_removed_words,
       |    len(string_split(r.text, ' '))::BIGINT AS n_tokens,
       |    ('0x' || substr(md5('mix1' || r.doc_id), 1, 15))::BIGINT AS priority
       |  FROM red r JOIN adm USING (doc_id)),
       |fc AS (SELECT doc_id, source, n_tokens, priority, n_kept_words,
       |    n_removed_words,
       |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY priority, doc_id
       |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
       |  FROM fp0)
       |SELECT doc_id, source, n_tokens, priority, cum_tokens,
       |  n_kept_words, n_removed_words
       |FROM fc WHERE cum_tokens <= 15000""".stripMargin
  }

  private def pipelineFullOracleSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val num = "[0-9]{7,}"
    def ind(s: String) = s.replace("\n", "\n  ")
    s"""WITH cont AS (SELECT DISTINCT doc_id FROM (${ind(contaminationOracleSql)})),
       |cp AS (${ind(curationPipelineOracleSql)}),
       |kb AS (${ind(keepBestOracleSql)}),
       |band AS (SELECT doc_id FROM (
       |  WITH lp0 AS (${ind(unigramLogprobOracleSql)}),
       |  bj AS (SELECT lp0.doc_id, d.source, lp0.logprob
       |         FROM lp0 JOIN documents d USING (doc_id)),
       |  bc AS (SELECT doc_id, cume_dist() OVER (PARTITION BY source
       |           ORDER BY logprob) AS pct FROM bj)
       |  SELECT doc_id FROM bc WHERE pct > 0.05 AND pct <= 0.95)),
       |adm AS (SELECT d.doc_id, d.source, d.text
       |        FROM documents d JOIN cp USING (doc_id) JOIN kb USING (doc_id)
       |          JOIN band USING (doc_id)
       |        WHERE cp.keep = 1 AND kb.keep
       |          AND d.doc_id NOT IN (SELECT doc_id FROM cont)),
       |inj AS (SELECT doc_id, source,
       |    text || ' contact user' || doc_id || '@mail.example.com ref ' ||
       |      (doc_id * 1234567 + 10000000) AS text
       |  FROM adm),
       |red AS (SELECT doc_id, source,
       |    regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |      '$num', '<NUM>', 'g') AS text,
       |    len(regexp_extract_all(text, '$email'))::BIGINT AS n_emails,
       |    len(regexp_extract_all(
       |      regexp_replace(text, '$email', '<EMAIL>', 'g'), '$num'))::BIGINT AS n_longnums
       |  FROM inj),
       |fp0 AS (SELECT doc_id, source, n_emails, n_longnums,
       |    len(string_split(text, ' '))::BIGINT AS n_tokens,
       |    ('0x' || substr(md5('mix1' || doc_id), 1, 15))::BIGINT AS priority
       |  FROM red),
       |fc AS (SELECT doc_id, source, n_tokens, priority, n_emails, n_longnums,
       |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY priority, doc_id
       |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
       |  FROM fp0)
       |SELECT doc_id, source, n_tokens, priority, cum_tokens, n_emails, n_longnums
       |FROM fc WHERE cum_tokens <= 15000""".stripMargin
  }

  private def clustersOracleSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM (
       |  ${minhashOracleSql.replace("\n", "\n  ")})),
       |${minLabelFloodCte("pairs", "doc_a", "doc_b")}
       |SELECT d.doc_id, least(d.doc_id, coalesce(min(l.lab), d.doc_id)) AS cluster
       |FROM documents d LEFT JOIN lp l ON d.doc_id = l.id
       |GROUP BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Generated oracle SQL for the hash-pipeline ops (constants must match
  // graft.ops.Dedup / TextAnalysis — k=12 hashes, 4 bands of 3,
  // 3-gram shingles, threshold 0.5, LSH bucket cap 256; 64-bit simhash
  // as 4×16-bit bands; hamming <= 6).
  // ---------------------------------------------------------------------

  private def repetitionOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |base AS (SELECT doc_id, len(w)::BIGINT AS n_words,
      |    floor((1.0 - len(list_distinct(w)) / len(w)) * 1e6 + 0.5) / 1e6 AS dup_word_frac
      |  FROM w),
      |bg AS (SELECT doc_id, (len(w) - 1)::BIGINT AS n_bigrams,
      |    array_to_string(list_slice(w, i.i, i.i + 1), ' ') AS bg
      |  FROM w, unnest(range(1, len(w))) AS i(i)),
      |top AS (SELECT doc_id,
      |    floor(max(c) / any_value(n_bigrams) * 1e6 + 0.5) / 1e6 AS top_bigram_frac
      |  FROM (SELECT doc_id, n_bigrams, bg, count(*) AS c
      |        FROM bg GROUP BY 1, 2, 3)
      |  GROUP BY doc_id)
      |SELECT b.doc_id, n_words, dup_word_frac,
      |  coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
      |FROM base b LEFT JOIN top USING (doc_id)""".stripMargin

  private def classifierOracleSql: String =
    """WITH toks AS (SELECT doc_id, t.tok AS tok
      |    FROM documents, unnest(string_split(text, ' ')) AS t(tok)),
      |iw AS (SELECT doc_id,
      |    (('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 * 2654435761) % 2048
      |      - 1024 AS iw
      |  FROM toks)
      |SELECT doc_id, count(*) AS n_tokens,
      |  floor(CAST(sum(iw) AS DOUBLE) / (count(*)::DOUBLE * 1024) * 1e6 + 0.5) / 1e6 AS score,
      |  CASE WHEN CAST(sum(iw) AS BIGINT) > 0 THEN 1 ELSE 0 END AS keep
      |FROM iw GROUP BY doc_id""".stripMargin

  /** End-to-end admission oracle: the repetition, classifier, and LSH
    * oracles as CTE subqueries, composed into one reason list per doc
    * (constants match `Curation.curationPipeline`). */
  private def curationPipelineOracleSql: String =
    s"""WITH rep AS ($repetitionOracleSql),
       |q AS ($classifierOracleSql),
       |nd AS (SELECT DISTINCT doc_b AS doc_id FROM ($minhashOracleSql)),
       |j AS (SELECT rep.doc_id, n_words, dup_word_frac, top_bigram_frac,
       |        q.score, CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ndup
       |      FROM rep JOIN q ON rep.doc_id = q.doc_id
       |      LEFT JOIN nd ON rep.doc_id = nd.doc_id),
       |r AS (SELECT doc_id, coalesce(array_to_string(list_sort(
       |    CASE WHEN n_words < 15 OR n_words > 90 THEN ['length'] ELSE []::VARCHAR[] END ||
       |    CASE WHEN top_bigram_frac > 0.1 OR dup_word_frac > 0.68
       |      THEN ['repetition'] ELSE []::VARCHAR[] END ||
       |    CASE WHEN score < -0.25 THEN ['quality'] ELSE []::VARCHAR[] END ||
       |    CASE WHEN ndup = 1 THEN ['near_dup'] ELSE []::VARCHAR[] END), ','), '')
       |    AS reasons
       |  FROM j)
       |SELECT doc_id, CASE WHEN reasons = '' THEN 1 ELSE 0 END AS keep, reasons
       |FROM r""".stripMargin

  /** Shared minhash CTE prefix (shingles → FNV pair → 12 signatures →
    * 4 band keys) used by the all-pairs LSH oracle and the incremental
    * batch-vs-corpus oracle. */
  private def minhashCtePrefix: String = minhashCtePrefixFor(12, 4)

  /** [[minhashCtePrefix]] parametrized in (numHashes, bands) — rows =
    * numHashes/bands; the recall gate sweeps `bands` while every other
    * minhash oracle keeps the 12/4 default. */
  private def minhashCtePrefixFor(numHashes: Int, bands: Int): String = {
    val p = graft.ops.Dedup.MinhashP
    val r = numHashes / bands
    val sigs = (0 until numHashes)
      .map(j => s"    min((h1 + $j * h2) % $p) AS g$j")
      .mkString(",\n")
    val bandKeys = (0 until bands).map { b =>
      val gs = (0 until r).map(i => s"g${b * r + i}::VARCHAR").mkString(" || '|' || ")
      s"md5($gs || '|$b')"
    }.mkString(",\n    ")
    s"""sh0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(0, greatest(len(w) - 2, 0)),
       |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s FROM sh0),
       |shf AS (SELECT * FROM sh WHERE len(s) > 0),
       |hashed AS (SELECT doc_id,
       |    ${graft.functions.Fnv.duckdbSql("t.sg", graft.functions.Fnv.Basis1)} AS h1,
       |    ${graft.functions.Fnv.duckdbSql("t.sg", graft.functions.Fnv.Basis2)} AS h2
       |  FROM shf, unnest(s) AS t(sg)),
       |sig AS (SELECT doc_id,
       |$sigs
       |  FROM hashed GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([
       |    $bandKeys]) AS bk FROM sig)""".stripMargin
  }

  private def minhashOracleSql: String =
    s"""WITH $minhashCtePrefix,
       |buckets AS (SELECT bk, list_sort(list(DISTINCT doc_id))[1:256] AS ids
       |  FROM bands GROUP BY bk HAVING count(DISTINCT doc_id) > 1),
       |cand AS (SELECT DISTINCT x.a AS doc_a, y.b AS doc_b
       |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
       |  WHERE x.a < y.b),
       |conf AS (SELECT doc_a, doc_b,
       |    floor(len(list_intersect(x.s, y.s))::DOUBLE /
       |          len(list_distinct(list_concat(x.s, y.s)))::DOUBLE * 1e6 + 0.5) / 1e6 AS jaccard
       |  FROM cand JOIN shf x ON doc_a = x.doc_id JOIN shf y ON doc_b = y.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM conf WHERE jaccard >= 0.5""".stripMargin

  /** The incremental screen's CTE chain (corpus = even doc_ids with
    * capped buckets, batch = odd; straddling pairs confirmed by exact
    * Jaccard) — shared by the dedup_incremental oracle and the index-
    * lifecycle oracle, which needs the confirmed pairs to derive
    * admissions. Expects [[minhashCtePrefix]] CTEs in scope. */
  private def incrementalCtes: String =
    s"""cb AS (SELECT bk, list_sort(list(DISTINCT doc_id))[1:256] AS ids
       |  FROM bands WHERE doc_id % 2 = 0 GROUP BY bk),
       |bb AS (SELECT doc_id AS batch_id, bk FROM bands WHERE doc_id % 2 = 1),
       |cand AS (SELECT DISTINCT batch_id, x.cid AS corpus_id
       |  FROM bb JOIN cb USING (bk), unnest(ids) AS x(cid)),
       |conf AS (SELECT batch_id, corpus_id,
       |    floor(len(list_intersect(y.s, x.s))::DOUBLE /
       |          len(list_distinct(list_concat(y.s, x.s)))::DOUBLE * 1e6 + 0.5) / 1e6 AS jaccard
       |  FROM cand JOIN shf y ON batch_id = y.doc_id
       |    JOIN shf x ON corpus_id = x.doc_id)""".stripMargin

  /** Incremental (batch-vs-corpus) oracle: same band keys; corpus =
    * even doc_ids (capped buckets, sorted ids), batch = odd doc_ids;
    * only straddling pairs confirm. */
  private def incrementalOracleSql: String =
    s"""WITH $minhashCtePrefix,
       |$incrementalCtes
       |SELECT batch_id, corpus_id, jaccard FROM conf WHERE jaccard >= 0.5""".stripMargin

  /** Index-lifecycle oracle: a from-scratch rebuild over the FINAL doc
    * set — even-id corpus plus admitted (non-duplicate) odd-id batch
    * docs, minus the doc_id%10==0 takedown set. Equality with the
    * engine's screen→admit→append→compact path is the lifecycle
    * contract (band keys are a pure per-doc function). */
  private def indexLifecycleOracleSql: String =
    s"""WITH $minhashCtePrefix,
       |$incrementalCtes,
       |scr AS (SELECT DISTINCT batch_id FROM conf WHERE jaccard >= 0.5),
       |fin AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0
       |        UNION ALL
       |        SELECT doc_id FROM documents WHERE doc_id % 2 = 1
       |          AND doc_id NOT IN (SELECT batch_id FROM scr))
       |SELECT b.doc_id, b.bk FROM bands b JOIN fin USING (doc_id)
       |WHERE b.doc_id % 10 != 0""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"floor(list_sum(list_transform(list_zip($a, $b), t -> t[1]*t[2])) / " +
      s"(sqrt(list_sum(list_transform($a, x -> x*x))) * " +
      s"sqrt(list_sum(list_transform($b, x -> x*x)))) * 1e6 + 0.5) / 1e6"

  /** IVF oracle: same deterministic centroid/assignment/probe pipeline
    * (constants match Similarity.ivfTopK — 16 cells, 2 probes, k=3,
    * queries vec_id < 10; ranking on ROUNDED cosine, centroid-id / nn_id
    * tie-breaks). */
  private def ivfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |c AS (SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id < 16),
       |assign AS (SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c.ce")} DESC, c.cid) AS rn
       |    FROM e, c) WHERE rn = 1),
       |probe AS (SELECT qid, qe, cell FROM (
       |    SELECT e.vec_id AS qid, e.emb AS qe, c.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c.ce")} DESC, c.cid) AS rn
       |    FROM e, c WHERE e.vec_id < 10) WHERE rn <= 2),
       |p AS (SELECT qid, a.vec_id AS nn_id, ${cosSql("qe", "a.emb")} AS cos
       |  FROM probe JOIN assign a USING (cell) WHERE qid != a.vec_id)
       |SELECT qid, nn_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rn
       |  FROM p) WHERE rn <= 3""".stripMargin

  /** 6-dp-pinned squared-L2 for the Lloyd's oracle (the same portable
    * floor-scale primitive sequence as the Spark side's
    * `trainCentroids(scale = Some(6))` — `Portable.fx`, not `round`,
    * which is engine-divergent on boundary values). */
  private def sqSql(a: String, b: String): String =
    s"floor(list_sum(list_transform(list_zip($a, $b), " +
      s"t -> (t[1]-t[2])*(t[1]-t[2]))) * 1e6 + 0.5) / 1e6"

  /** One Lloyd's round in DuckDB: assign to nearest centroid (rounded
    * distance, cid tie-break), elementwise rounded means per cell, empty
    * cells keep their previous centroid. `src` is the (vec_id, emb)
    * collection CTE — "e" for the full vectors, a slice CTE for the
    * per-subspace PQ codebooks. */
  private def lloydCte(prev: String, a: String, m: String, c: String,
                       src: String = "e"): String =
    s"""$a AS (SELECT emb, cell FROM (
       |    SELECT $src.emb, $prev.cid AS cell,
       |      row_number() OVER (PARTITION BY $src.vec_id
       |        ORDER BY ${sqSql(s"$src.emb", s"$prev.ce")}, $prev.cid) AS rn
       |    FROM $src, $prev) WHERE rn = 1),
       |$m AS (SELECT cell AS cid, list(m ORDER BY pos) AS ce FROM (
       |    SELECT cell, pos, floor(avg(v) * 1e6 + 0.5) / 1e6 AS m FROM (
       |      SELECT cell, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM $a)
       |    GROUP BY cell, pos) GROUP BY cell),
       |$c AS (SELECT $prev.cid, coalesce($m.ce, $prev.ce) AS ce
       |  FROM $prev LEFT JOIN $m USING (cid))""".stripMargin

  /** SemDeDup oracle: two Lloyd's rounds, L2 assignment to the trained
    * cells (rounded distance, cid tie-break — the training rule), then
    * min lower-id cosine-duplicate within each cell. */
  private def semanticDedupOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id < 16),
       |${lloydCte("c0", "a1", "m1", "c1")},
       |${lloydCte("c1", "a2", "m2", "c2")},
       |assign AS (SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c2.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqSql("e.emb", "c2.ce")}, c2.cid) AS rn
       |    FROM e, c2) WHERE rn = 1),
       |d AS (SELECT a.vec_id, min(b.vec_id) AS dup_of
       |  FROM assign a JOIN assign b
       |    ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  WHERE ${cosSql("a.emb", "b.emb")} >= 0.25
       |  GROUP BY a.vec_id)
       |SELECT a.vec_id, a.cell,
       |  CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS keep, d.dup_of
       |FROM assign a LEFT JOIN d ON a.vec_id = d.vec_id""".stripMargin

  /** Trained-IVF oracle: the ivf pipeline with centroids from two
    * deterministic Lloyd's rounds instead of the vec_id<16 stand-ins. */
  private def ivfTrainedOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id < 16),
       |${lloydCte("c0", "a1", "m1", "c1")},
       |${lloydCte("c1", "a2", "m2", "c2")},
       |assign AS (SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c2.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c2.ce")} DESC, c2.cid) AS rn
       |    FROM e, c2) WHERE rn = 1),
       |probe AS (SELECT qid, qe, cell FROM (
       |    SELECT e.vec_id AS qid, e.emb AS qe, c2.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c2.ce")} DESC, c2.cid) AS rn
       |    FROM e, c2 WHERE e.vec_id < 10) WHERE rn <= 2),
       |p AS (SELECT qid, a.vec_id AS nn_id, ${cosSql("qe", "a.emb")} AS cos
       |  FROM probe JOIN assign a USING (cell) WHERE qid != a.vec_id)
       |SELECT qid, nn_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rn
       |  FROM p) WHERE rn <= 3""".stripMargin

  /** Sample-trained IVF oracle: the trained-IVF pipeline with Lloyd's
    * running over the vec_id%4==0 SAMPLE (seeded by its first 16
    * members, vec_id<64), assignment/probe over the full collection. */
  private def ivfSampledOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |es AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
       |c0 AS (SELECT vec_id AS cid, emb AS ce FROM es WHERE vec_id < 64),
       |${lloydCte("c0", "a1", "m1", "c1", src = "es")},
       |${lloydCte("c1", "a2", "m2", "c2", src = "es")},
       |assign AS (SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c2.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c2.ce")} DESC, c2.cid) AS rn
       |    FROM e, c2) WHERE rn = 1),
       |probe AS (SELECT qid, qe, cell FROM (
       |    SELECT e.vec_id AS qid, e.emb AS qe, c2.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c2.ce")} DESC, c2.cid) AS rn
       |    FROM e, c2 WHERE e.vec_id < 10) WHERE rn <= 2),
       |p AS (SELECT qid, a.vec_id AS nn_id, ${cosSql("qe", "a.emb")} AS cos
       |  FROM probe JOIN assign a USING (cell) WHERE qid != a.vec_id)
       |SELECT qid, nn_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rn
       |  FROM p) WHERE rn <= 3""".stripMargin

  /** IVF-PQ oracle: replays Similarity.ivfPqTopK's whole deterministic
    * pipeline — coarse L2 assignment/probe on the vec_id<16 centroids,
    * FOUR per-subspace Lloyd's trainings (2 rounds each, 6-dp rounding,
    * vec_id<8 init over the subvector slices), nearest-code encoding,
    * and the query-side ADC distance table summed per candidate. */
  private def ivfPqOracleSql: String =
    s"""WITH ${ivfPqCtes()}
       |SELECT qid, nn_id, adc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, nn_id) AS rn
       |  FROM adc) WHERE rn <= 3""".stripMargin

  /** Two-stage retrieval oracle: the ADC screen keeps k·rerank = 9
    * candidates, the exact squared-L2 re-rank keeps the final 3 —
    * mirrors `Similarity.ivfPqRerankTopK`. */
  private def ivfPqRerankOracleSql: String =
    s"""WITH ${ivfPqCtes()},
       |screen AS (SELECT qid, nn_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, nn_id) AS rn
       |  FROM adc) WHERE rn <= 9),
       |rr AS (SELECT s.qid, s.nn_id,
       |    ${sqSql("qe.emb", "ne.emb")} AS dist
       |  FROM screen s JOIN e qe ON qe.vec_id = s.qid
       |    JOIN e ne ON ne.vec_id = s.nn_id)
       |SELECT qid, nn_id, dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, nn_id) AS rn
       |  FROM rr) WHERE rn <= 3""".stripMargin

  /** `qlo`/`qhi`: the query-id window (default = the classic
    * `vec_id < 10` set; the recall oracle probes an off-centroid
    * window instead). */
  private def ivfPqCtes(qlo: Long = 0, qhi: Long = 10, m: Int = 4,
                        subDim: Int = 16, ksub: Int = 8, nProbe: Int = 2,
                        coarseTrained: Boolean = false,
                        residual: Boolean = false): String = {
    // residual (IVFADC): codebooks/codes quantize `vec − assigned coarse
    // centroid`; the base frame feeding every subspace becomes `res`
    val baseSrc = if (residual) "res" else "e"
    val subspaces = (0 until m).map { j =>
      val lo = j * subDim + 1; val hi = j * subDim + subDim
      s"""e$j AS (SELECT vec_id, list_slice(emb, $lo, $hi) AS emb FROM $baseSrc),
         |p${j}0 AS (SELECT vec_id AS cid, emb AS ce FROM e$j WHERE vec_id < $ksub),
         |${lloydCte(s"p${j}0", s"pa$j", s"pm$j", s"p${j}1", src = s"e$j")},
         |${lloydCte(s"p${j}1", s"pb$j", s"pn$j", s"p${j}2", src = s"e$j")}""".stripMargin
    }.mkString(",\n")
    val cbUnion = (0 until m)
      .map(j => s"SELECT $j AS j, cid, ce FROM p${j}2").mkString(" UNION ALL ")
    // coarseTrained: the annRecall PQ row's quantizer — 4 Lloyd's
    // rounds over the vec_id<8 seeds (trainCentroids nCells=8,
    // trainIters=4), vs the default untrained vec_id<16 seeds the
    // standalone ivfpq gates keep
    // MATERIALIZED on the junction CTEs: DuckDB inlines CTEs, so the
    // residual chain — where `res` feeds all m subspace Lloyd chains,
    // each of which would re-inline the trained coarse chain —
    // otherwise blows up exponentially (measured: sf0.001 went from
    // 20+ min to seconds)
    val ccCte =
      if (coarseTrained)
        s"""cc0 AS (SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id < 8),
           |${lloydCte("cc0", "ca1", "cm1", "cc1")},
           |${lloydCte("cc1", "ca2", "cm2", "cc2")},
           |${lloydCte("cc2", "ca3", "cm3", "cc3")},
           |${lloydCte("cc3", "ca4", "cm4", "cc4")},
           |cc AS MATERIALIZED (SELECT cid, ce FROM cc4)""".stripMargin
      else "cc AS MATERIALIZED (SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id < 16)"
    val resCte =
      if (residual)
        s""",
           |res AS MATERIALIZED (SELECT a.vec_id,
           |    list_transform(list_zip(e.emb, cc.ce), t -> t[1] - t[2]) AS emb
           |  FROM assign a JOIN e USING (vec_id) JOIN cc ON cc.cid = a.cell)""".stripMargin
      else ""
    // residual mode: the ADC table is PER PROBED CELL (the query
    // residual depends on the cell being scanned) — keyed
    // (qid, cell, j, code); raw mode keeps the cell-independent table
    val dtCte =
      if (residual)
        s"""qres AS (SELECT p.qid, p.cell,
           |    list_transform(list_zip(e.emb, cc.ce), t -> t[1] - t[2]) AS qr
           |  FROM probe p JOIN e ON e.vec_id = p.qid JOIN cc ON cc.cid = p.cell),
           |qsub AS (SELECT qid, cell, j.j AS j,
           |    list_slice(qr, j.j*$subDim + 1, j.j*$subDim + $subDim) AS se
           |  FROM qres, generate_series(0, ${m - 1}) AS j(j)),
           |dt AS (SELECT s.qid, s.cell, s.j, cb.cid AS code,
           |    ${sqSql("s.se", "cb.ce")} AS dsub
           |  FROM qsub s JOIN cb ON s.j = cb.j),
           |cand AS (SELECT p.qid, p.cell, a.vec_id
           |  FROM probe p JOIN assign a USING (cell)
           |  WHERE p.qid != a.vec_id),
           |adc AS (SELECT c.qid, c.vec_id AS nn_id,
           |    CAST(sum(CAST(dt.dsub AS DECIMAL(18,6))) AS DOUBLE) AS adc
           |  FROM cand c JOIN codes k ON c.vec_id = k.vec_id
           |    JOIN dt ON dt.qid = c.qid AND dt.cell = c.cell
           |      AND dt.j = k.j AND dt.code = k.code
           |  GROUP BY 1, 2)""".stripMargin
      else
        s"""dt AS (SELECT s.vec_id AS qid, s.j, cb.cid AS code,
           |    ${sqSql("s.se", "cb.ce")} AS dsub
           |  FROM sub s JOIN cb ON s.j = cb.j
           |  WHERE s.vec_id >= $qlo AND s.vec_id < $qhi),
           |cand AS (SELECT p.qid, a.vec_id FROM probe p JOIN assign a USING (cell)
           |  WHERE p.qid != a.vec_id),
           |adc AS (SELECT c.qid, c.vec_id AS nn_id,
           |    CAST(sum(CAST(dt.dsub AS DECIMAL(18,6))) AS DOUBLE) AS adc
           |  FROM cand c JOIN codes k ON c.vec_id = k.vec_id
           |    JOIN dt ON dt.qid = c.qid AND dt.j = k.j AND dt.code = k.code
           |  GROUP BY 1, 2)""".stripMargin
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
       |           WHERE len(embedding) = ${m * subDim}),
       |$ccCte,
       |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, cc.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqSql("e.emb", "cc.ce")}, cc.cid) AS rn
       |    FROM e, cc) WHERE rn = 1)$resCte,
       |$subspaces,
       |cb AS MATERIALIZED ($cbUnion),
       |sub AS MATERIALIZED (SELECT vec_id, j.j AS j,
       |    list_slice(emb, j.j*$subDim + 1, j.j*$subDim + $subDim) AS se
       |  FROM $baseSrc, generate_series(0, ${m - 1}) AS j(j)),
       |codes AS MATERIALIZED (SELECT vec_id, j, code FROM (
       |    SELECT s.vec_id, s.j, cb.cid AS code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.j
       |        ORDER BY ${sqSql("s.se", "cb.ce")}, cb.cid) AS rn
       |    FROM sub s JOIN cb ON s.j = cb.j) WHERE rn = 1),
       |probe AS MATERIALIZED (SELECT qid, cell FROM (
       |    SELECT e.vec_id AS qid, cc.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqSql("e.emb", "cc.ce")}, cc.cid) AS rn
       |    FROM e, cc WHERE e.vec_id >= $qlo AND e.vec_id < $qhi) WHERE rn <= $nProbe),
       |$dtCte""".stripMargin
  }

  /** Recall-gate oracle (mirrors `Similarity.annRecall`): recomputes
    * the exact cosine / exact L2 top-3 AND each approximate path from
    * scratch (IVF at nProbe 1/2/4; the full IVF-PQ + rerank CTE chain
    * over the off-centroid [100,110) query window), then counts the
    * per-query intersection. Every approximate sub-query is a nested
    * derived table with its own WITH so the big CTE chains cannot
    * collide on names. */
  private def annRecallOracleSql: String = {
    val qlo = 100L; val qhi = 110L
    val qf = s"vec_id >= $qlo AND vec_id < $qhi"
    // the IVF rows' coarse quantizer is TRAINED (4 Lloyd's rounds over
    // the vec_id<8 seeds — Similarity.annRecall's nCells=8/trainIters=4,
    // VERDICT r10 #2); the index is MULTI-ASSIGNED under each vector's
    // 2 nearest cells (r14, VERDICT r13 #6 — `rn <= 2` below mirrors
    // ivfAssignMulti(dup = 2)), so the candidate set takes DISTINCT
    // (a neighbor surfaces once per probed home cell); assignment and
    // probe rank by cosine on the trained c4, exactly as
    // ivfAssignMulti/ivfProbe do
    def ivfIdsSql(nProbe: Int): String =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id < 8),
         |${lloydCte("c0", "a1", "m1", "c1")},
         |${lloydCte("c1", "a2", "m2", "c2")},
         |${lloydCte("c2", "a3", "m3", "c3")},
         |${lloydCte("c3", "a4", "m4", "c4")},
         |c AS (SELECT cid, ce FROM c4),
         |assign AS (SELECT vec_id, emb, cell FROM (
         |    SELECT e.vec_id, e.emb, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.emb", "c.ce")} DESC, c.cid) AS rn
         |    FROM e, c) WHERE rn <= 2),
         |probe AS (SELECT qid, qe, cell FROM (
         |    SELECT e.vec_id AS qid, e.emb AS qe, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.emb", "c.ce")} DESC, c.cid) AS rn
         |    FROM e, c WHERE e.$qf) WHERE rn <= $nProbe),
         |p AS (SELECT DISTINCT qid, a.vec_id AS nn_id, ${cosSql("qe", "a.emb")} AS cos
         |  FROM probe JOIN assign a USING (cell) WHERE qid != a.vec_id)
         |SELECT qid, nn_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rn
         |  FROM p) WHERE rn <= 3""".stripMargin
    val bruteCosSql =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE $qf),
         |p AS (SELECT qid, vec_id AS nn_id, ${cosSql("qe", "emb")} AS cos
         |  FROM q, e WHERE qid != vec_id)
         |SELECT qid, nn_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rn
         |  FROM p) WHERE rn <= 3""".stripMargin
    val bruteL2Sql =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
         |           WHERE len(embedding) = 64),
         |q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE $qf),
         |p AS (SELECT qid, vec_id AS nn_id, ${sqSql("qe", "emb")} AS dist
         |  FROM q, e WHERE qid != vec_id)
         |SELECT qid, nn_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, nn_id) AS rn
         |  FROM p) WHERE rn <= 3""".stripMargin
    // the PQ row's measured-recall configuration (Similarity.annRecall:
    // trained 8-cell coarse, m=8/subDim=8/ksub=16 codes, nProbe 4,
    // rerank 8 → screen keeps k·rerank = 24)
    def pqRerankSqlAt(residual: Boolean): String =
      s"""WITH ${ivfPqCtes(qlo, qhi,
        m = if (residual) 16 else 8, subDim = if (residual) 4 else 8,
        ksub = 16, nProbe = if (residual) 6 else 4,
        coarseTrained = true, residual = residual)},
         |screen AS (SELECT qid, nn_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, nn_id) AS rn
         |  FROM adc) WHERE rn <= ${if (residual) 96 else 24}),
         |rr AS (SELECT s.qid, s.nn_id,
         |    ${sqSql("qe.emb", "ne.emb")} AS dist
         |  FROM screen s JOIN e qe ON qe.vec_id = s.qid
         |    JOIN e ne ON ne.vec_id = s.nn_id)
         |SELECT qid, nn_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, nn_id) AS rn
         |  FROM rr) WHERE rn <= 3""".stripMargin
    val pqRerankSql = pqRerankSqlAt(residual = false)
    def hitsCtes(tag: String, approxSql: String, exactSql: String,
                 method: String, nProbe: Int): String = {
      def ind(s: String) = s.replace("\n", "\n  ")
      s"""${tag}a AS (SELECT qid, nn_id FROM (${ind(approxSql)})),
         |${tag}x AS (SELECT qid, nn_id FROM (${ind(exactSql)})),
         |${tag}m AS (SELECT x.qid, count(*) AS c FROM ${tag}x x JOIN ${tag}a a
         |  ON x.qid = a.qid AND x.nn_id = a.nn_id GROUP BY x.qid),
         |${tag}h AS (SELECT q.qid, '$method' AS method, $nProbe AS n_probe,
         |  coalesce(${tag}m.c, 0) AS hits FROM q LEFT JOIN ${tag}m ON q.qid = ${tag}m.qid)""".stripMargin
    }
    val parts = Seq(1, 2, 4).map(p =>
      hitsCtes(s"p$p", ivfIdsSql(p), bruteCosSql, "ivf", p)) :+
      hitsCtes("pr", pqRerankSql, bruteL2Sql, "ivfpq_rerank", 4) :+
      hitsCtes("ps", pqRerankSqlAt(residual = true), bruteL2Sql,
        "ivfpq_rerank_residual", 6)
    s"""WITH q AS (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE $qf),
       |${parts.mkString(",\n")}
       |SELECT qid, method, CAST(n_probe AS BIGINT) AS n_probe,
       |  CAST(3 AS BIGINT) AS k, CAST(hits AS BIGINT) AS hits
       |FROM (SELECT * FROM p1h UNION ALL SELECT * FROM p2h
       |      UNION ALL SELECT * FROM p4h UNION ALL SELECT * FROM prh
       |      UNION ALL SELECT * FROM psh)""".stripMargin
  }

  /** CDC chunk-dedup oracle: same fnv-triggered boundary rule (chunk id
    * = count of trigger words strictly before this position), chunks
    * md5-keyed, corpus-wide frequency, per-doc duplication stats.
    * Constants match `Curation.cdcChunkDedup` (boundaryMod 8, Basis1). */
  private def cdcChunkOracleSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |tok AS (SELECT doc_id, i.i AS pos, w[i.i] AS word
       |  FROM w, unnest(range(1, len(w) + 1)) AS i(i)),
       |trig AS (SELECT doc_id, pos, word,
       |    CASE WHEN ${graft.functions.Fnv.duckdbSql("word", graft.functions.Fnv.Basis1)} % 8 = 0
       |      THEN 1 ELSE 0 END AS t
       |  FROM tok),
       |ch0 AS (SELECT doc_id, pos, word,
       |    coalesce(sum(t) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
       |  FROM trig),
       |chunks AS (SELECT doc_id, chunk,
       |    md5(string_agg(word, ' ' ORDER BY pos)) AS ch
       |  FROM ch0 GROUP BY doc_id, chunk),
       |f AS (SELECT ch, count(*) AS cf FROM chunks GROUP BY ch),
       |per AS (SELECT doc_id, count(*) AS n_chunks,
       |    CAST(sum(CASE WHEN cf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
       |  FROM chunks JOIN f USING (ch) GROUP BY doc_id)
       |SELECT doc_id, n_chunks, n_dup_chunks,
       |  floor(n_dup_chunks::DOUBLE / n_chunks::DOUBLE * 1e6 + 0.5) / 1e6 AS dup_chunk_frac
       |FROM per""".stripMargin

  /** Distinct md5'd word-3-gram shingles per document (the inverted
    * index key both curation ops join on). Mirrors
    * `Curation.shingleSet(3)`: window i covers words i..i+2. */
  private def shingleCte: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |    md5(array_to_string(list_slice(w, i.i, i.i + 2), ' ')) AS sh
      |  FROM w, unnest(range(1, len(w) - 1)) AS i(i))""".stripMargin

  private def ngramJaccardOracleSql: String = ngramJaccardOracleSqlAt("0.5")

  private def ngramJaccardOracleSqlAt(threshold: String): String =
    s"""WITH $shingleCte,
       |rare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM sh GROUP BY sh)
       |  WHERE c <= 256),
       |idx AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM idx GROUP BY doc_id),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b, common,
       |    floor(common / (sa + sb - common) * 1e6 + 0.5) / 1e6 AS jaccard
       |  FROM (SELECT c.*, s1.sz AS sa, s2.sz AS sb FROM common c
       |    JOIN sizes s1 ON c.doc_a = s1.doc_id
       |    JOIN sizes s2 ON c.doc_b = s2.doc_id))
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT doc_a, doc_b, jaccard, row_number() OVER (
       |      PARTITION BY doc_a ORDER BY common DESC, doc_b) AS rnk
       |    FROM j WHERE jaccard >= $threshold)
       |WHERE rnk <= 64""".stripMargin

  /** LSH-recall oracle (mirrors `Dedup.lshRecall`): one exhaustive
    * jaccard truth set per threshold, each bands setting's full
    * signature → capped-bucket → candidate chain in its own nested
    * WITH (names collide across settings otherwise), semi-joined for
    * the integer hit counts per (threshold, bands) cell. */
  private def lshRecallOracleSql: String = {
    def ind(s: String) = s.replace("\n", "\n  ")
    def candSql(b: Int): String =
      s"""WITH ${minhashCtePrefixFor(12, b)},
         |buckets AS (SELECT bk, list_sort(list(DISTINCT doc_id))[1:256] AS ids
         |  FROM bands GROUP BY bk HAVING count(DISTINCT doc_id) > 1)
         |SELECT DISTINCT x.a AS doc_a, y.b AS doc_b
         |FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
         |WHERE x.a < y.b""".stripMargin
    val bands = Seq(2, 3, 4, 6)
    val thresholds = Seq(30, 50, 70)
    val candCtes = bands.map { b =>
      s"""c$b AS (SELECT * FROM (
         |  ${ind(ind(candSql(b)))}))""".stripMargin
    }.mkString(",\n")
    val truthCtes = thresholds.map { t =>
      s"""t$t AS (SELECT doc_a, doc_b FROM (
         |  ${ind(ngramJaccardOracleSqlAt(s"0.$t"))}))""".stripMargin
    }.mkString(",\n")
    val cells = (for (t <- thresholds; b <- bands) yield
      s"""SELECT $t AS threshold_pct, $b AS bands,
         |  (SELECT count(*) FROM t$t) AS n_truth,
         |  (SELECT count(*) FROM t$t SEMI JOIN c$b USING (doc_a, doc_b)) AS hits""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH $truthCtes,
       |$candCtes
       |SELECT 'minhash_lsh' AS method, CAST(bands AS BIGINT) AS bands,
       |  CAST(threshold_pct AS BIGINT) AS threshold_pct,
       |  CAST(n_truth AS BIGINT) AS n_truth, CAST(hits AS BIGINT) AS hits
       |FROM (
       |$cells)""".stripMargin
  }

  private def ngramContainmentOracleSql: String =
    s"""WITH $shingleCte,
       |rare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM sh GROUP BY sh)
       |  WHERE c <= 256),
       |idx AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM idx GROUP BY doc_id),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |d AS (SELECT
       |    CASE WHEN sa <= sb THEN doc_a ELSE doc_b END AS contained_id,
       |    CASE WHEN sa <= sb THEN doc_b ELSE doc_a END AS container_id,
       |    common, floor(common / least(sa, sb) * 1e6 + 0.5) / 1e6 AS containment
       |  FROM (SELECT c.*, s1.sz AS sa, s2.sz AS sb FROM common c
       |    JOIN sizes s1 ON c.doc_a = s1.doc_id
       |    JOIN sizes s2 ON c.doc_b = s2.doc_id))
       |SELECT contained_id, container_id, containment FROM (
       |  SELECT contained_id, container_id, containment, row_number() OVER (
       |      PARTITION BY contained_id ORDER BY common DESC, container_id) AS rnk
       |    FROM d WHERE containment >= 0.8)
       |WHERE rnk <= 64""".stripMargin

  /** Shared CTE chain for the band-screened exact-pair oracles: MinHash
    * band keys ([[minhashCtePrefix]]) → capped buckets (256 smallest
    * ids) → candidate pairs → df-capped md5-shingle sets built only for
    * candidate docs → shared-shingle counts per candidate pair. CTE
    * names are disjoint from the minhash prefix's (w2/shx vs w/sh). */
  private def screenedCommonCte: String =
    s"""$minhashCtePrefix,
       |buckets AS (SELECT bk, list_sort(list(DISTINCT doc_id))[1:256] AS ids
       |  FROM bands GROUP BY bk HAVING count(DISTINCT doc_id) > 1),
       |cand AS (SELECT DISTINCT x.a AS doc_a, y.b AS doc_b
       |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
       |  WHERE x.a < y.b),
       |w2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |shx AS (SELECT DISTINCT doc_id,
       |    md5(array_to_string(list_slice(w, i.i, i.i + 2), ' ')) AS sh
       |  FROM w2, unnest(range(1, len(w) - 1)) AS i(i)),
       |rare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM shx GROUP BY sh)
       |  WHERE c <= 256),
       |idx AS (SELECT doc_id, shx.sh FROM shx JOIN rare USING (sh)),
       |cids AS (SELECT DISTINCT doc_id FROM
       |  (SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b FROM cand)),
       |sets AS (SELECT doc_id, list(sh) AS shl FROM idx JOIN cids USING (doc_id)
       |  GROUP BY doc_id),
       |common AS (SELECT doc_a, doc_b,
       |    len(list_intersect(a.shl, b.shl))::BIGINT AS common,
       |    len(a.shl)::BIGINT AS sa, len(b.shl)::BIGINT AS sb
       |  FROM cand JOIN sets a ON doc_a = a.doc_id
       |    JOIN sets b ON doc_b = b.doc_id
       |  WHERE len(list_intersect(a.shl, b.shl)) >= 1)""".stripMargin

  private def screenedJaccardOracleSql: String =
    s"""WITH $screenedCommonCte,
       |j AS (SELECT doc_a, doc_b, common,
       |    floor(common / (sa + sb - common) * 1e6 + 0.5) / 1e6 AS jaccard FROM common)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT doc_a, doc_b, jaccard, row_number() OVER (
       |      PARTITION BY doc_a ORDER BY common DESC, doc_b) AS rnk
       |    FROM j WHERE jaccard >= 0.5)
       |WHERE rnk <= 64""".stripMargin

  private def screenedContainmentOracleSql: String =
    s"""WITH $screenedCommonCte,
       |d AS (SELECT
       |    CASE WHEN sa <= sb THEN doc_a ELSE doc_b END AS contained_id,
       |    CASE WHEN sa <= sb THEN doc_b ELSE doc_a END AS container_id,
       |    common, floor(common / least(sa, sb) * 1e6 + 0.5) / 1e6 AS containment
       |  FROM common)
       |SELECT contained_id, container_id, containment FROM (
       |  SELECT contained_id, container_id, containment, row_number() OVER (
       |      PARTITION BY contained_id ORDER BY common DESC, container_id) AS rnk
       |    FROM d WHERE containment >= 0.8)
       |WHERE rnk <= 64""".stripMargin

  private def contaminationOracleSql: String =
    s"""WITH $shingleCte,
       |b AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id < 20),
       |c AS (SELECT s.doc_id, b.bench_id, count(*) AS shared_ngrams
       |  FROM sh s JOIN b ON s.sh = b.sh WHERE s.doc_id >= 20 GROUP BY 1, 2)
       |SELECT doc_id, bench_id, shared_ngrams FROM c WHERE shared_ngrams >= 2""".stripMargin

  private def piiRedactOracleSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val num = "[0-9]{7,}"
    s"""WITH d AS (SELECT doc_id,
       |    text || ' contact user' || doc_id || '@mail.example.com ref ' ||
       |      (doc_id * 1234567 + 10000000) AS text
       |  FROM documents)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |    '$num', '<NUM>', 'g') AS clean_text,
       |  len(regexp_extract_all(text, '$email')) AS n_emails,
       |  len(regexp_extract_all(
       |    regexp_replace(text, '$email', '<EMAIL>', 'g'), '$num')) AS n_longnums
       |FROM d""".stripMargin
  }

  private def packSequencesOracleSql: String =
    """WITH t AS (SELECT doc_id, source,
      |    len(string_split(text, ' '))::BIGINT AS tokens FROM documents),
      |p AS (SELECT doc_id, source, tokens,
      |    (sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
      |       ROWS UNBOUNDED PRECEDING) - tokens)::BIGINT AS pack_offset
      |  FROM t)
      |SELECT doc_id, source, tokens,
      |  CAST(floor(pack_offset / 512) AS BIGINT) AS pack_id, pack_offset
      |FROM p""".stripMargin

  private def simhashCte: String = {
    val bitSums = (0 until 64)
      .map(j => s"    sum(CASE WHEN ((('0x' || substr(h, ${j / 4 + 1}, 1))::INT >> ${j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n")
    val bandExprs = (0 until 4).map { k =>
      val terms = (0 until 16)
        .map(i => s"(CASE WHEN b${16 * k + i} > 0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      s"    ($terms) AS band$k"
    }.mkString(",\n")
    s"""w AS (SELECT doc_id, md5(t.u) AS h
       |  FROM documents, unnest(string_split(text, ' ')) AS t(u)),
       |bits AS (SELECT doc_id,
       |$bitSums
       |  FROM w GROUP BY doc_id),
       |f AS (SELECT doc_id,
       |$bandExprs
       |  FROM bits)""".stripMargin
  }

  private def simhashOracleSql: String =
    s"WITH $simhashCte\nSELECT doc_id, " +
      "printf('%04x%04x%04x%04x', band3, band2, band1, band0) AS simhash FROM f"

  // capped buckets mirror Dedup.simhashPairs: per band key keep the 256
  // smallest doc_ids, expand pairs in-bucket, Hamming from joined-back f
  /** Shared by `join_asof` (batch union+window) and `streaming_asof`
    * (flatMapGroupsWithState sweep): both run the same algorithm, so
    * DuckDB's native ASOF JOIN checks both. */
  private def asofOracleSql: String =
    """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |           FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS click_id
      |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT l.event_id, l.user_id, l.ts_us, l.value,
      |       r.ts_us AS asof_ts_us, r.click_id AS asof_click_id,
      |       l.ts_us - r.ts_us AS gap_us
      |FROM l ASOF LEFT JOIN r
      |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us""".stripMargin

  /** The BPE training CTE chain: w0 = word-frequency vocabulary, s0 =
    * char-delimited sequences, then per round i: p_i (weighted adjacent
    * pair counts via list_zip), m_i (argmax: freq DESC, lexicographic),
    * s_{i+1} (greedy fold-merge via list_reduce — the same left-to-right
    * non-overlapping scan the Spark `aggregate` fold runs; a merged
    * token ends with lhs+rhs, which the `'|'||lhs` boundary check
    * rejects, so no chain-merging within a round on either engine). */
  private def bpeCtes(n: Int): String = {
    val head = Seq(
      """w0 AS (
        |  SELECT word, count(*)::BIGINT AS wc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) >= 1 AND NOT contains(word, '|') GROUP BY 1)""",
      """s0 AS (SELECT word, wc,
        |  array_to_string(string_split(word, ''), '|') AS seq FROM w0)""")
    val rounds = (0 until n).flatMap { i =>
      Seq(
        s"""p$i AS (
           |  SELECT z[1] AS lhs, z[2] AS rhs, sum(wc)::BIGINT AS freq FROM (
           |    SELECT wc, unnest(list_zip(l, l[2:])) AS z FROM (
           |      SELECT wc, string_split(seq, '|') AS l FROM s$i))
           |  WHERE z[2] IS NOT NULL GROUP BY 1, 2)""",
        s"""m$i AS (SELECT lhs, rhs, freq FROM p$i
           |  ORDER BY freq DESC, lhs, rhs LIMIT 1)""",
        s"""s${i + 1} AS (
           |  SELECT word, wc, CASE WHEN len(string_split(seq, '|')) = 1 THEN seq
           |    ELSE list_reduce(string_split(seq, '|'), (acc, x) ->
           |      CASE WHEN (acc = m.lhs OR ends_with(acc, '|' || m.lhs)) AND x = m.rhs
           |           THEN acc[1:len(acc)-len(m.lhs)] || m.lhs || m.rhs
           |           ELSE acc || '|' || x END) END AS seq
           |  FROM s$i CROSS JOIN m$i m)""")
    }
    (head ++ rounds).mkString(",\n")
  }

  private def bpeTrainOracleSql(n: Int): String = {
    val union = (0 until n)
      .map(i => s"SELECT ${i + 1}::BIGINT AS rank, lhs, rhs, freq FROM m$i")
      .mkString(" UNION ALL ")
    (s"WITH ${bpeCtes(n)}\nSELECT * FROM ($union)").stripMargin
  }

  private def bpeEncodeOracleSql(n: Int): String =
    (s"""WITH ${bpeCtes(n)},
        |tw AS (SELECT word, len(string_split(seq, '|'))::BIGINT AS ntok FROM s$n),
        |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT doc_id, sum(ntok)::BIGINT AS n_tokens
        |FROM dw JOIN tw USING (word)
        |WHERE length(word) >= 1 AND NOT contains(word, '|')
        |GROUP BY doc_id""").stripMargin

  private def simhashPairsOracleSql: String =
    s"""WITH $simhashCte,
       |h AS (SELECT doc_id, unnest([
       |    '0:' || band0::VARCHAR, '1:' || band1::VARCHAR,
       |    '2:' || band2::VARCHAR, '3:' || band3::VARCHAR]) AS band_key FROM f),
       |buckets AS (SELECT band_key, list_sort(list(DISTINCT doc_id))[1:256] AS ids
       |  FROM h GROUP BY band_key HAVING count(DISTINCT doc_id) > 1),
       |cand AS (SELECT DISTINCT x.a AS doc_a, y.b AS doc_b
       |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
       |  WHERE x.a < y.b),
       |conf AS (SELECT doc_a, doc_b,
       |    (bit_count(xor(fa.band0, fb.band0)) + bit_count(xor(fa.band1, fb.band1)) +
       |     bit_count(xor(fa.band2, fb.band2)) + bit_count(xor(fa.band3, fb.band3)))::BIGINT AS hamming
       |  FROM cand JOIN f fa ON doc_a = fa.doc_id JOIN f fb ON doc_b = fb.doc_id)
       |SELECT doc_a, doc_b, hamming FROM conf WHERE hamming <= 6""".stripMargin

  private def langIdOracleSql: String = {
    def hits(ws: Seq[String]) = ws
      .map(w => s"len(list_filter(string_split(text, ' '), x -> x = '$w'))")
      .mkString(" + ")
    s"""WITH c AS (SELECT doc_id,
       |  (${hits(Seq("the", "and", "of", "to", "is"))})::BIGINT AS en_hits,
       |  (${hits(Seq("der", "die", "und", "ist", "das"))})::BIGINT AS de_hits,
       |  (${hits(Seq("el", "la", "los", "es", "y"))})::BIGINT AS es_hits
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
       |       WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
       |       WHEN es_hits > 0 THEN 'es' ELSE 'und' END AS lang_pred,
       |  en_hits, de_hits, es_hits FROM c""".stripMargin
  }

  private def qualityOracleSql: String = {
    val stop = Seq("the", "and", "a", "of", "to", "is")
      .map(w => s"len(list_filter(string_split(text, ' '), x -> x = '$w'))")
      .mkString(" + ")
    s"""SELECT doc_id, floor((
       |  least(len(string_split(text, ' '))::DOUBLE / 50, 1.0) * 0.5 +
       |  least(((length(text) - len(string_split(text, ' ')) + 1)::DOUBLE /
       |         len(string_split(text, ' '))::DOUBLE) / 6, 1.0) * 0.3 +
       |  least(($stop)::DOUBLE / len(string_split(text, ' '))::DOUBLE * 5, 1.0) * 0.2
       |  ) * 1e6 + 0.5) / 1e6 AS quality
       |FROM documents""".stripMargin
  }

  // shared CTEs for the deterministic-HLL oracles (ops/Sketch.scala):
  // value = l_orderkey:l_linenumber, shard = l_returnflag; bucket = first
  // 12 md5 bits, rank = 61 - len(bin(next 60 bits)) — bin() drops leading
  // zeros in both engines, so no clz/log2 is needed
  private def hllRegistersCte: String =
    """v AS (SELECT l_returnflag AS shard,
      |  md5(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR) AS h
      |  FROM lineitem),
      |br AS (SELECT shard,
      |  ('0x' || substr(h, 1, 3))::BIGINT AS bucket,
      |  CASE WHEN ('0x' || substr(h, 4, 15))::BIGINT = 0 THEN 61
      |       ELSE 61 - length(bin(('0x' || substr(h, 4, 15))::BIGINT)) END AS rank
      |  FROM v),
      |regs AS (SELECT shard, bucket, max(rank) AS max_rank
      |  FROM br GROUP BY shard, bucket)""".stripMargin

  private def hllRegistersOracleSql: String =
    s"""WITH $hllRegistersCte
       |SELECT shard, bucket, max_rank FROM regs""".stripMargin

  // register sums are integer-exact (1 << (61-rank), summed as DECIMAL —
  // order-independent); widths stay ≤ DECIMAL(26,0) because DuckDB cannot
  // even add two (38,0) operands. The estimate is pure integer division
  // of the pinned α·m²·2^61·10² constant (Sketch.HllEstC, interpolated
  // verbatim below) — NO floats anywhere: a final round(double, 2) here
  // failed the r7 gate because Spark and DuckDB round doubles differently.
  // The gate PROJECTS only (shard, buckets_hit, est_centi): the 22-digit
  // DECIMAL(25,0) s_prime intermediate was the r8 red gate — its VALUES
  // bit-matched a local replay, but the driver environment renders a
  // wider-than-BIGINT decimal differently on one side of its compare
  // (see GateSchemaSpec, which now bans such dtypes from every gate).
  // The clamp mirrors Sketch.hllEstimate's BIGINT-overflow guard —
  // inert on real data (s_prime ≥ 4096 · small) but keeps the two
  // engines' definitions identical even on degenerate register tables.
  private def hllDistinctOracleSql: String =
    s"""WITH $hllRegistersCte,
       |allregs AS (
       |  SELECT shard, bucket, max_rank FROM regs
       |  UNION ALL
       |  SELECT 'ALL' AS shard, bucket, max(max_rank) AS max_rank
       |  FROM regs GROUP BY bucket),
       |est AS (SELECT shard, count(*) AS buckets_hit,
       |  (sum(((1::BIGINT) << (61 - max_rank))::DECIMAL(25,0)))::DECIMAL(25,0) AS s_hit
       |  FROM allregs GROUP BY shard),
       |est2 AS (SELECT shard, buckets_hit,
       |  (s_hit + ((4096 - buckets_hit)::DECIMAL(10,0)
       |            * (1::BIGINT << 61)::DECIMAL(20,0))::DECIMAL(25,0)
       |  )::DECIMAL(25,0) AS s_prime
       |  FROM est)
       |SELECT shard, buckets_hit,
       |  CASE WHEN s_prime < ${graft.ops.Sketch.HllSPrimeSafeMin}
       |       THEN 9223372036854775807::BIGINT
       |       ELSE ('${graft.ops.Sketch.HllEstC}'::HUGEINT
       |             // s_prime::HUGEINT)::BIGINT END AS est_centi
       |FROM est2""".stripMargin

  /** Audio fingerprint CTEs alone (closed-form WAV fixture energies →
    * `af(id, ch, nw, fp)`) — shared by the all-pairs, clusters, and
    * incremental oracles. */
  private def audioFpCte: String =
    """clips AS (
      |  SELECT event_id AS id, 1 + event_id % 2 AS ch,
      |    32 + event_id % 33 AS nf
      |  FROM events),
      |s AS (
      |  SELECT c.id, c.ch, f.f // 4 AS win,
      |    ((31*c.id + 17*f.f + 29*cc.c) % 65536) - 32768 AS v
      |  FROM clips c, generate_series(0, 64) AS f(f), generate_series(0, 1) AS cc(c)
      |  WHERE f.f < c.nf AND cc.c < c.ch),
      |e AS (SELECT id, ch, win, sum(v*v) AS energy FROM s GROUP BY id, ch, win),
      |d AS (SELECT id, ch, win, energy,
      |    lead(energy) OVER (PARTITION BY id ORDER BY win) AS nxt,
      |    count(*) OVER (PARTITION BY id) AS nw
      |  FROM e),
      |af AS (SELECT id, ch, nw,
      |  CAST(coalesce(sum(CASE WHEN nxt > energy
      |    THEN 1::BIGINT << win::INT ELSE 0::BIGINT END), 0) AS BIGINT) AS fp
      |  FROM d GROUP BY id, ch, nw)""".stripMargin

  /** Audio analog of [[ahashPairsCte]], self-contained (includes the
    * closed-form WAV fixture energies and fingerprint via
    * [[audioFpCte]]): 4×4-bit bands keyed by (channels, n_windows),
    * bucket cap 64, exact Hamming ≤ 3, 4 best partners per id_a.
    * Defines `af(id, ch, nw, fp)` and `pairs(id_a, id_b, hamming)` —
    * shared by the audio pairs gate and the audio clusters gate's
    * closure. */
  private def audioPairsCte: String =
    s"""$audioFpCte,
      |hb AS (SELECT id, unnest([
      |    ch::VARCHAR || ':' || nw::VARCHAR || ':0:' || ((fp >> 0) & 15)::VARCHAR,
      |    ch::VARCHAR || ':' || nw::VARCHAR || ':1:' || ((fp >> 4) & 15)::VARCHAR,
      |    ch::VARCHAR || ':' || nw::VARCHAR || ':2:' || ((fp >> 8) & 15)::VARCHAR,
      |    ch::VARCHAR || ':' || nw::VARCHAR || ':3:' || ((fp >> 12) & 15)::VARCHAR
      |  ]) AS band_key FROM af),
      |buckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM hb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |cand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b) WHERE x.a < y.b),
      |conf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
      |  FROM cand JOIN af a ON id_a = a.id JOIN af b ON id_b = b.id
      |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
      |pairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM conf)
      |WHERE rnk <= 4)""".stripMargin

  /** Unigram LM scoring oracle (mirrors `TextAnalysis.unigramLogProb`):
    * per-token ln quantized through the portable floor-scale, summed
    * as DECIMAL. Shared by the plain gate and the logprob-trim
    * composition. */
  private def unigramLogprobOracleSql: String =
    """WITH terms AS (SELECT doc_id, t.u AS term
      |    FROM documents, unnest(string_split(text,' ')) AS t(u)),
      |n AS (SELECT count(*)::DOUBLE AS total FROM terms),
      |uni AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term),
      |lp AS (SELECT doc_id,
      |         CAST(floor(ln(cnt::DOUBLE / total) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS lp
      |       FROM terms JOIN uni USING (term) CROSS JOIN n)
      |SELECT doc_id,
      |       floor(CAST(sum(lp) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS logprob,
      |       count(*)::BIGINT AS n_tokens
      |FROM lp GROUP BY doc_id""".stripMargin

  /** Video-fingerprint CTEs (mirrors `Multimodal.videoFingerprint`
    * over the closed-form MP4 fixture sample bytes): per-frame payload
    * byte sums, ':'-joined in frame order, md5'd. Ends defining
    * `vfp(id, nf, fp)`. */
  private def videoFpCte: String =
    """imgs AS (
      |  SELECT event_id AS id, 2 + event_id % 5 AS nf FROM events),
      |fr AS (
      |  SELECT id, nf, fs.f, 10 + ((id + 3*fs.f) % 7) AS len
      |  FROM imgs, generate_series(0, 6) AS fs(f) WHERE fs.f < nf),
      |px AS (
      |  SELECT id, f, (5*id + 7*f + 11*js.j) % 256 AS v
      |  FROM fr, generate_series(0, 16) AS js(j) WHERE js.j < len),
      |fsum AS (SELECT id, f, (sum(v))::BIGINT AS s FROM px GROUP BY id, f),
      |vfp AS (SELECT id, count(*) AS nf,
      |    md5(string_agg(s::VARCHAR, ':' ORDER BY f)) AS fp
      |  FROM fsum GROUP BY id)""".stripMargin

  /** Perceptual video clip-signature CTEs (mirrors
    * `Multimodal.videoPerceptualHash` over the closed-form transcode
    * fixtures of `Multimodal.syntheticVideoMp4`): content c = id//4,
    * variant v = id%4; keyframes f ∈ {0,2,4} below nf; per-keyframe
    * gray sums from the three coprime-moduli channel formulas (+16v
    * brightness shift, +30·3 one-pixel edit for v ≥ 2); frame aHash
    * bits by the shared integer `gray·n > Σgray` rule; 16-bit XOR
    * folds packed by keyframe order. Ends defining
    * `vsig(id, w, h, nk, sig)`. */
  private def videoPerceptualCte: String =
    """vids AS (SELECT event_id AS id, event_id // 4 AS c, event_id % 4 AS v
      |  FROM events),
      |vdims AS (SELECT id, c, v, 4 + c % 5 AS w, 3 + c % 4 AS h,
      |    3 + c % 3 AS nf FROM vids),
      |vkf AS (SELECT id, c, v, w, h, fs.f, fs.f // 2 AS k
      |  FROM vdims, (SELECT unnest([0, 2, 4]) AS f) AS fs WHERE fs.f < nf),
      |vpx AS (SELECT id, w, h, f, k, ys.y * w + xs.x AS idx,
      |    (20 + (c + 7*xs.x + 13*ys.y + 19*f) % 149 + 16*v
      |       + CASE WHEN v >= 2 AND xs.x = c % w AND ys.y = 0 THEN 30 ELSE 0 END)
      |  + (20 + (2*c + 3*xs.x + 5*ys.y + 23*f) % 151 + 16*v
      |       + CASE WHEN v >= 2 AND xs.x = c % w AND ys.y = 0 THEN 30 ELSE 0 END)
      |  + (20 + (5*c + 11*xs.x + 17*ys.y + 29*f) % 150 + 16*v
      |       + CASE WHEN v >= 2 AND xs.x = c % w AND ys.y = 0 THEN 30 ELSE 0 END)
      |    AS gray
      |  FROM vkf, generate_series(0, 7) AS xs(x), generate_series(0, 5) AS ys(y)
      |  WHERE xs.x < w AND ys.y < h),
      |vtt AS (SELECT id, w, h, f, k, sum(gray) AS total, count(*) AS n
      |  FROM vpx GROUP BY id, w, h, f, k),
      |vfh AS (SELECT t.id, t.w, t.h, t.k,
      |  CAST(coalesce(sum(CASE WHEN p.gray * t.n > t.total
      |    THEN 1::BIGINT << p.idx::INT ELSE 0::BIGINT END), 0) AS BIGINT) AS fhash
      |  FROM vpx p JOIN vtt t ON p.id = t.id AND p.f = t.f
      |  GROUP BY t.id, t.w, t.h, t.k),
      |vsig AS (SELECT id, w, h, count(*) AS nk,
      |  CAST(sum(xor(xor(fhash & 65535, (fhash >> 16) & 65535),
      |      (fhash >> 32) & 65535) << (16 * k::INT)) AS BIGINT) AS sig
      |  FROM vfh GROUP BY id, w, h)""".stripMargin

  /** Banded-Hamming pair CTEs over `vsig` (mirrors
    * `Multimodal.videoPerceptualPairs` through `bandedHammingPairs`):
    * 4×16-bit bands keyed by (w×h:nk), bucket cap 64 smallest ids,
    * exact Hamming ≤ 6 confirm, 4 best partners per id_a. Ends
    * defining `vpairs(id_a, id_b, hamming)`. */
  private def videoPerceptualPairsCte: String =
    """vhb AS (SELECT id, unnest([
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM vsig),
      |vbuckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM vhb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |vcand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM vbuckets, unnest(ids) AS x(a), unnest(ids) AS y(b) WHERE x.a < y.b),
      |vconf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |  FROM vcand JOIN vsig a ON id_a = a.id JOIN vsig b ON id_b = b.id
      |  WHERE bit_count(xor(a.sig, b.sig)) <= 6),
      |vpairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM vconf)
      |WHERE rnk <= 4)""".stripMargin

  /** Incremental perceptual-video screen CTEs over `vsig` (mirrors
    * `Multimodal.incrementalVideoPerceptualNearDups` /
    * `StreamingIngest.videoDedupStream`): corpus = even (id div 2)
    * blocks with band buckets capped at 64 smallest ids (size-1
    * kept), batch = odd blocks, exact Hamming ≤ 6. Ends defining
    * `vconf(batch_id, corpus_id, hamming)` — the batch gate caps at 4
    * best partners on top; the streaming twin takes `vconf` whole. */
  private def videoPerceptualIncrementalCte: String =
    """vhc AS (SELECT * FROM vsig WHERE (id // 2) % 2 = 0),
      |vhbt AS (SELECT * FROM vsig WHERE (id // 2) % 2 = 1),
      |vci AS (SELECT id, unnest([
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM vhc),
      |vcb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM vci GROUP BY bk),
      |vbi AS (SELECT id AS batch_id, unnest([
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM vhbt),
      |vcand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM vbi JOIN vcb USING (bk), unnest(ids) AS u(cid)),
      |vconf AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.sig, c.sig)) AS BIGINT) AS hamming
      |  FROM vcand JOIN vhbt b ON batch_id = b.id JOIN vhc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.sig, c.sig)) <= 6)""".stripMargin

  /** Time-aligned clip-signature CTEs (mirrors
    * `Multimodal.videoPerceptualHashTimeAligned` over the
    * keyStride-varying `syntheticVideoMp4T` fixtures — same pixel
    * formulas as [[videoPerceptualCte]], different sampling index
    * set: slot k of 4 hashes frame `(k·nf)//4`, the dts-fraction rule
    * with the constant frame duration cancelled). Ends defining
    * `tsig(id, w, h, sig)`. */
  private def videoAlignedCte: String =
    """tvids AS (SELECT event_id AS id, event_id // 4 AS c, event_id % 4 AS v
      |  FROM events),
      |tdims AS (SELECT id, c, v, 4 + c % 5 AS w, 3 + c % 4 AS h,
      |    3 + c % 3 AS nf FROM tvids),
      |tslots AS (SELECT id, c, v, w, h, ks.k, (ks.k * nf) // 4 AS f
      |  FROM tdims, generate_series(0, 3) AS ks(k)),
      |tfr AS (SELECT DISTINCT id, c, v, w, h, f FROM tslots),
      |tpx AS (SELECT id, w, h, f, ys.y * w + xs.x AS idx,
      |    (20 + (c + 7*xs.x + 13*ys.y + 19*f) % 149 + 16*v
      |       + CASE WHEN v >= 2 AND xs.x = c % w AND ys.y = 0 THEN 30 ELSE 0 END)
      |  + (20 + (2*c + 3*xs.x + 5*ys.y + 23*f) % 151 + 16*v
      |       + CASE WHEN v >= 2 AND xs.x = c % w AND ys.y = 0 THEN 30 ELSE 0 END)
      |  + (20 + (5*c + 11*xs.x + 17*ys.y + 29*f) % 150 + 16*v
      |       + CASE WHEN v >= 2 AND xs.x = c % w AND ys.y = 0 THEN 30 ELSE 0 END)
      |    AS gray
      |  FROM tfr, generate_series(0, 7) AS xs(x), generate_series(0, 5) AS ys(y)
      |  WHERE xs.x < w AND ys.y < h),
      |ttt AS (SELECT id, f, sum(gray) AS total, count(*) AS n
      |  FROM tpx GROUP BY id, f),
      |tfh AS (SELECT t.id, t.f,
      |  CAST(coalesce(sum(CASE WHEN p.gray * t.n > t.total
      |    THEN 1::BIGINT << p.idx::INT ELSE 0::BIGINT END), 0) AS BIGINT) AS fhash
      |  FROM tpx p JOIN ttt t ON p.id = t.id AND p.f = t.f
      |  GROUP BY t.id, t.f),
      |tfold AS (SELECT s.id, s.w, s.h, s.k,
      |    xor(xor(fh.fhash & 65535, (fh.fhash >> 16) & 65535),
      |      (fh.fhash >> 32) & 65535) AS fold
      |  FROM tslots s JOIN tfh fh ON s.id = fh.id AND s.f = fh.f),
      |-- slot 3 lands in bits 48-63: the engine's Long OR wraps into the
      |-- sign bit, so the replay packs it as a SIGNED 16-bit field times
      |-- 2^48 (DuckDB's << raises on signed overflow; sum runs in
      |-- HUGEINT, exact, and the final BIGINT cast is in range by
      |-- construction: |slot-3| <= 32768 * 2^48 = |int64 min|)
      |tsig AS (SELECT id, w, h,
      |  CAST(sum(CASE k
      |    WHEN 0 THEN fold
      |    WHEN 1 THEN fold * 65536
      |    WHEN 2 THEN fold * 4294967296
      |    ELSE (CASE WHEN fold >= 32768 THEN fold - 65536 ELSE fold END)
      |           * 281474976710656 END) AS BIGINT) AS sig
      |  FROM tfold GROUP BY id, w, h)""".stripMargin

  /** Scale-invariant VIDEO thumb-signature CTEs (mirrors
    * `Multimodal.videoScaleInvariantHash` over the closed-form
    * transcode fixtures of `Multimodal.syntheticVideoMp4`): originals
    * at id 2e (kk = 1), NN-2× rescaled transcodes of every 7th at id
    * 2e+1 (kk = 2 rows read source pixels through the double-floor
    * `((x·kk·w // 8) // kk)` — the floor-composition identity makes
    * them collide with their originals; id spaces provably disjoint at
    * any sweep scale). Per keyframe f ∈ {0,2,4} below nf: fixed 8×8 NN
    * thumb over the three coprime-moduli channel formulas (+16v
    * brightness, +30·3 one-pixel edit for v ≥ 2 — the perturbation
    * keys on the SOURCE pixel (c mod w, 0), which the thumb may or may
    * not sample), the shared `gray·64 > Σgray` aHash rule (bit 63 as
    * the two's-complement constant), 16-bit XOR folds packed by
    * keyframe order (n_key ≤ 3 here, so the sign slot never packs).
    * Ends defining `vssig(id, nk, sig)`. */
  private def videoSiCte: String =
    """svids AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 1 AS kk FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 2
      |  FROM events WHERE event_id % 7 = 0),
      |svdims AS (SELECT id, kk, e // 4 AS c, e % 4 AS v,
      |    4 + (e // 4) % 5 AS w, 3 + (e // 4) % 4 AS h,
      |    3 + (e // 4) % 3 AS nf FROM svids),
      |svkf AS (SELECT id, kk, c, v, w, h, fs.f, fs.f // 2 AS k
      |  FROM svdims, (SELECT unnest([0, 2, 4]) AS f) AS fs WHERE fs.f < nf),
      |svpx AS (SELECT id, f, k, c, v, w, ys.y * 8 + xs.x AS idx,
      |    ((xs.x * kk * w) // 8) // kk AS sx,
      |    ((ys.y * kk * h) // 8) // kk AS sy
      |  FROM svkf, generate_series(0, 7) AS xs(x), generate_series(0, 7) AS ys(y)),
      |svg AS (SELECT id, f, k, idx,
      |    (20 + (c + 7*sx + 13*sy + 19*f) % 149 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (2*c + 3*sx + 5*sy + 23*f) % 151 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (5*c + 11*sx + 17*sy + 29*f) % 150 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |    AS gray
      |  FROM svpx),
      |svtt AS (SELECT id, f, sum(gray) AS total FROM svg GROUP BY id, f),
      |svfh AS (SELECT g.id, g.k,
      |  CAST(coalesce(sum(CASE WHEN g.gray * 64 > t.total
      |    THEN CASE WHEN g.idx = 63 THEN -9223372036854775808
      |         ELSE 1::BIGINT << g.idx::INT END
      |    ELSE 0::BIGINT END), 0) AS BIGINT) AS fhash
      |  FROM svg g JOIN svtt t ON g.id = t.id AND g.f = t.f
      |  GROUP BY g.id, g.k),
      |vssig AS (SELECT id, count(*) AS nk,
      |  CAST(sum(xor(xor(fhash & 65535, (fhash >> 16) & 65535),
      |      xor((fhash >> 32) & 65535, (fhash >> 48) & 65535))
      |    << (16 * k::INT)) AS BIGINT) AS sig
      |  FROM svfh GROUP BY id)""".stripMargin

  /** Scale-invariant video capped-pair CTEs over [[videoSiCte]]
    * (mirrors `MediaKeys.VideoScale.key.pairs`): dimensions
    * dropped from the group ('vthumb:' + n_key), 4×16-bit bands,
    * buckets capped at 64 smallest ids, exact Hamming ≤ 6 confirms,
    * 4 best partners per id_a. Ends defining
    * `svpairs(id_a, id_b, hamming)` — shared by the pairs gate and the
    * keep gate's closure. */
  private def videoSiPairsCte: String =
    s"""$videoSiCte,
      |svhb AS (SELECT id, unnest([
      |    'vthumb:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vthumb:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vthumb:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vthumb:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM vssig),
      |svbuckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM svhb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |svcand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM svbuckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
      |  WHERE x.a < y.b),
      |svconf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |  FROM svcand JOIN vssig a ON id_a = a.id JOIN vssig b ON id_b = b.id
      |  WHERE bit_count(xor(a.sig, b.sig)) <= 6),
      |svpairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM svconf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Scale-invariant video incremental-screen CTEs over [[videoSiCte]]
    * (mirrors `MediaKeys.VideoScale.key.screen` /
    * `MediaKeys.VideoScale.stream`): corpus = the
    * originals' signatures (even ids), batch = the rescaled transcodes
    * (odd ids), corpus band buckets capped at 64 smallest ids (size-1
    * kept), Hamming ≤ 6. Ends defining
    * `svconf2(batch_id, corpus_id, hamming)` — the batch gate caps at
    * 4 best partners on top; the streaming twin takes `svconf2`
    * whole. */
  private def videoSiScreenCte: String =
    s"""$videoSiCte,
      |svhc AS (SELECT * FROM vssig WHERE id % 2 = 0),
      |svhbt AS (SELECT * FROM vssig WHERE id % 2 = 1),
      |svci AS (SELECT id, unnest([
      |    'vthumb:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vthumb:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vthumb:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vthumb:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM svhc),
      |svcb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM svci GROUP BY bk),
      |svbi AS (SELECT id AS batch_id, unnest([
      |    'vthumb:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vthumb:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vthumb:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vthumb:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM svhbt),
      |svcand2 AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM svbi JOIN svcb USING (bk), unnest(ids) AS u(cid)),
      |svconf2 AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.sig, c.sig)) AS BIGINT) AS hamming
      |  FROM svcand2 JOIN svhbt b ON batch_id = b.id
      |    JOIN svhc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.sig, c.sig)) <= 6)""".stripMargin

  /** Scale+stride-invariant video signature + capped-pair CTEs (mirrors
    * `Multimodal.videoScaleInvariantHashTimeAligned` →
    * `MediaKeys.VideoScaleTime.key.pairs` over the keyStride-varying
    * `syntheticVideoMp4T` fixtures): originals at 2e (kk = 1), NN-2×
    * re-muxed rescales of every 7th at 2e+1 (kk = 2, double-floor
    * thumb index map). Slot k of 4 samples frame `(k·nf) // 4` — the
    * dts-fraction rule with uniform frame durations cancelled, valid
    * for BOTH the stride-varying originals and the timing-normalized
    * copies — then the fixed 8×8 NN thumb, the `gray·64 > Σgray` rule,
    * per-slot 16-bit folds with the aligned key's SIGNED slot-3 pack
    * (bits 48-63 wrap the sign; DuckDB's << raises on signed overflow,
    * so the replay multiplies a sign-adjusted fold by 2^48 — exact in
    * HUGEINT, in-range by construction). One corpus-wide 'vthumb_t'
    * group. Ends defining `stsig(id, sig)`; [[videoStiPairsCte]] /
    * [[videoStiScreenCte]] build the consumers. */
  private def videoStiCte: String =
    """stvids AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 1 AS kk FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 2
      |  FROM events WHERE event_id % 7 = 0),
      |stdims AS (SELECT id, kk, e // 4 AS c, e % 4 AS v,
      |    4 + (e // 4) % 5 AS w, 3 + (e // 4) % 4 AS h,
      |    3 + (e // 4) % 3 AS nf FROM stvids),
      |stslots AS (SELECT id, kk, c, v, w, h, ks.k, (ks.k * nf) // 4 AS f
      |  FROM stdims, generate_series(0, 3) AS ks(k)),
      |stfr AS (SELECT DISTINCT id, kk, c, v, w, h, f FROM stslots),
      |stpx AS (SELECT id, f, c, v, w, ys.y * 8 + xs.x AS idx,
      |    ((xs.x * kk * w) // 8) // kk AS sx,
      |    ((ys.y * kk * h) // 8) // kk AS sy
      |  FROM stfr, generate_series(0, 7) AS xs(x), generate_series(0, 7) AS ys(y)),
      |stg AS (SELECT id, f, idx,
      |    (20 + (c + 7*sx + 13*sy + 19*f) % 149 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (2*c + 3*sx + 5*sy + 23*f) % 151 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (5*c + 11*sx + 17*sy + 29*f) % 150 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |    AS gray
      |  FROM stpx),
      |sttt AS (SELECT id, f, sum(gray) AS total FROM stg GROUP BY id, f),
      |stfh AS (SELECT g.id, g.f,
      |  CAST(coalesce(sum(CASE WHEN g.gray * 64 > t.total
      |    THEN CASE WHEN g.idx = 63 THEN -9223372036854775808
      |         ELSE 1::BIGINT << g.idx::INT END
      |    ELSE 0::BIGINT END), 0) AS BIGINT) AS fhash
      |  FROM stg g JOIN sttt t ON g.id = t.id AND g.f = t.f
      |  GROUP BY g.id, g.f),
      |stfold AS (SELECT s.id, s.k,
      |    xor(xor(fh.fhash & 65535, (fh.fhash >> 16) & 65535),
      |        xor((fh.fhash >> 32) & 65535, (fh.fhash >> 48) & 65535)) AS fold
      |  FROM stslots s JOIN stfh fh ON s.id = fh.id AND s.f = fh.f),
      |stsig AS (SELECT id,
      |  CAST(sum(CASE k
      |    WHEN 0 THEN fold
      |    WHEN 1 THEN fold * 65536
      |    WHEN 2 THEN fold * 4294967296
      |    ELSE (CASE WHEN fold >= 32768 THEN fold - 65536 ELSE fold END)
      |           * 281474976710656 END) AS BIGINT) AS sig
      |  FROM stfold GROUP BY id)""".stripMargin

  /** Capped-pair CTEs over [[videoStiCte]] (mirrors
    * `MediaKeys.VideoScaleTime.key.pairs`): one corpus-wide
    * 'vthumb_t' group, 4×16-bit bands, buckets capped at 64 smallest
    * ids, exact Hamming ≤ 6 confirms, 4 best partners per id_a. Ends
    * defining `stpairs(id_a, id_b, hamming)` — shared by the pairs
    * gate and the keep gate's closure. */
  private def videoStiPairsCte: String =
    s"""$videoStiCte,
      |sthb AS (SELECT id, unnest([
      |    'vthumb_t:0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vthumb_t:1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vthumb_t:2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vthumb_t:3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM stsig),
      |stbuckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM sthb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |stcand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM stbuckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
      |  WHERE x.a < y.b),
      |stconf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |  FROM stcand JOIN stsig a ON id_a = a.id JOIN stsig b ON id_b = b.id
      |  WHERE bit_count(xor(a.sig, b.sig)) <= 6),
      |stpairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM stconf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Incremental-screen CTEs over [[videoStiCte]] (mirrors
    * `MediaKeys.VideoScaleTime.key.screen` /
    * `MediaKeys.VideoScaleTime.stream`): corpus =
    * the originals' signatures (even ids), batch = the rescaled
    * re-muxed transcodes (odd ids), corpus band buckets capped at 64
    * smallest ids (size-1 kept), Hamming ≤ 6. Ends defining
    * `stconf2(batch_id, corpus_id, hamming)`. */
  private def videoStiScreenCte: String =
    s"""$videoStiCte,
      |sthc AS (SELECT * FROM stsig WHERE id % 2 = 0),
      |sthbt AS (SELECT * FROM stsig WHERE id % 2 = 1),
      |stci AS (SELECT id, unnest([
      |    'vthumb_t:0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vthumb_t:1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vthumb_t:2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vthumb_t:3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM sthc),
      |stcb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM stci GROUP BY bk),
      |stbi AS (SELECT id AS batch_id, unnest([
      |    'vthumb_t:0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vthumb_t:1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vthumb_t:2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vthumb_t:3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM sthbt),
      |stcand2 AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM stbi JOIN stcb USING (bk), unnest(ids) AS u(cid)),
      |stconf2 AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.sig, c.sig)) AS BIGINT) AS hamming
      |  FROM stcand2 JOIN sthbt b ON batch_id = b.id
      |    JOIN sthc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.sig, c.sig)) <= 6)""".stripMargin

  /** Incremental image screen CTEs over the `ah` fingerprint CTE:
    * corpus = even id-blocks of 20, batch = odd blocks, corpus band
    * buckets capped at 64 smallest ids (size-1 buckets KEPT — a lone
    * corpus asset can still match a batch asset), exact Hamming ≤ 4.
    * Ends defining `conf(batch_id, corpus_id, hamming)` — the batch
    * gate caps at 4 best partners on top; the streaming twin takes
    * `conf` whole. */
  /** Scale-invariant incremental-screen CTEs (mirrors
    * `MediaKeys.ImageScale.key.screen` /
    * `MediaKeys.ImageScale.stream`): corpus = every
    * original's fixed 8×8 NN thumb aHash (double-floor index map for
    * the 2× upscaled batch copies; bit 63 as the two's-complement
    * constant), corpus band buckets capped at 64 smallest ids (size-1
    * kept), batch = the NN-2× re-uploads at id 2e+1, Hamming ≤ 6.
    * Ends defining `conf(batch_id, corpus_id, hamming)` — the batch
    * gate caps at 4 best partners on top; the streaming twin takes
    * `conf` whole. */
  /** Rate-invariant audio fingerprint CTEs (mirrors
    * `Multimodal.audioRateInvariantHash` over the closed-form WAV
    * fixtures): originals at id 2e; a ZOH-2× upsampled
    * copy of every 7th at id 2e+1 (k = 2 rows read source frames
    * through the double-floor `((w·k·nf // 64) // k)` — the
    * floor-composition identity makes them collide with their
    * originals), per-slot channel-folded exact energies, strict
    * delta-sign bits (≤62, sign-safe). Ends defining `rfp(id, h)` and
    * `clips(id, …, is_batch)`. */
  private def rateInvariantFpCte(batchPred: String = "event_id % 7 = 0"): String =
    s"""clips AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 1 AS k, 0 AS is_batch,
      |    1 + event_id % 2 AS ch, 32 + event_id % 33 AS nf FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 2, 1,
      |    1 + event_id % 2, 32 + event_id % 33
      |  FROM events WHERE $batchPred),
      |se AS (SELECT c.id, c.e, c.ch, ws.w,
      |    ((ws.w * c.k * c.nf) // 64) // c.k AS sf
      |  FROM clips c, generate_series(0, 63) AS ws(w)),
      |en AS (SELECT s.id, s.w,
      |    sum((((31*s.e + 17*s.sf + 29*cc.c) % 181)
      |         * ((7*s.e + 13*s.sf + 11*cc.c) % 179) - 16000)
      |      * (((31*s.e + 17*s.sf + 29*cc.c) % 181)
      |         * ((7*s.e + 13*s.sf + 11*cc.c) % 179) - 16000)) AS energy
      |  FROM se s, generate_series(0, 1) AS cc(c) WHERE cc.c < s.ch
      |  GROUP BY s.id, s.w),
      |dd AS (SELECT id, w, energy,
      |    lead(energy) OVER (PARTITION BY id ORDER BY w) AS nxt FROM en),
      |rfp AS (SELECT id, CAST(coalesce(sum(CASE WHEN nxt > energy
      |    THEN 1::BIGINT << w::INT ELSE 0::BIGINT END), 0) AS BIGINT) AS h
      |  FROM dd GROUP BY id)""".stripMargin

  /** Rate-invariant capped-pair CTEs over [[rateInvariantFpCte]]
    * (mirrors `MediaKeys.AudioRate.key.pairs`): one corpus-wide
    * 'rate' group, 4×16-bit bands, buckets capped at 64 smallest ids,
    * exact Hamming ≤ 6 confirms, 4 best partners per id_a. Ends
    * defining `pairs(id_a, id_b, hamming)` — shared by the pairs gate
    * and the keep gate's closure. */
  private def rateInvariantPairsCte(batchPred: String = "event_id % 7 = 0"): String =
    s"""${rateInvariantFpCte(batchPred)},
      |hb AS (SELECT id, unnest([
      |    'rate:0:' || ((h >> 0) & 65535)::VARCHAR,
      |    'rate:1:' || ((h >> 16) & 65535)::VARCHAR,
      |    'rate:2:' || ((h >> 32) & 65535)::VARCHAR,
      |    'rate:3:' || ((h >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM rfp),
      |buckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM hb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |cand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
      |  WHERE x.a < y.b),
      |conf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
      |  FROM cand JOIN rfp a ON id_a = a.id JOIN rfp b ON id_b = b.id
      |  WHERE bit_count(xor(a.h, b.h)) <= 6),
      |pairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM conf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Rate-invariant incremental-screen CTEs over [[rateInvariantFpCte]]
    * (mirrors `MediaKeys.AudioRate.key.screen` /
    * `MediaKeys.AudioRate.stream`): corpus = the
    * originals' signatures, batch = the ZOH-2× re-uploads, corpus band
    * buckets capped at 64 smallest ids (size-1 kept), Hamming ≤ 6.
    * Ends defining `conf(batch_id, corpus_id, hamming)` — the batch
    * gate caps at 4 best partners on top; the streaming twin takes
    * `conf` whole. */
  private def rateInvariantScreenCte(batchPred: String = "event_id % 7 = 0"): String =
    s"""${rateInvariantFpCte(batchPred)},
      |hc AS (SELECT r.id, r.h FROM rfp r JOIN clips c USING (id)
      |  WHERE c.is_batch = 0),
      |hbt AS (SELECT r.id, r.h FROM rfp r JOIN clips c USING (id)
      |  WHERE c.is_batch = 1),
      |ci AS (SELECT id, unnest([
      |    'rate:0:' || ((h >> 0) & 65535)::VARCHAR,
      |    'rate:1:' || ((h >> 16) & 65535)::VARCHAR,
      |    'rate:2:' || ((h >> 32) & 65535)::VARCHAR,
      |    'rate:3:' || ((h >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hc),
      |cb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM ci GROUP BY bk),
      |bi AS (SELECT id AS batch_id, unnest([
      |    'rate:0:' || ((h >> 0) & 65535)::VARCHAR,
      |    'rate:1:' || ((h >> 16) & 65535)::VARCHAR,
      |    'rate:2:' || ((h >> 32) & 65535)::VARCHAR,
      |    'rate:3:' || ((h >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hbt),
      |cand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM bi JOIN cb USING (bk), unnest(ids) AS u(cid)),
      |conf AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.h, c.h)) AS BIGINT) AS hamming
      |  FROM cand JOIN hbt b ON batch_id = b.id JOIN hc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.h, c.h)) <= 6)""".stripMargin

  /** Scale-invariant thumb-fingerprint CTEs (mirrors
    * `Multimodal.imageScaleInvariantHash` over the closed-form BMP
    * fixtures): originals at id 2e (k = 1), NN-2× re-uploads of every
    * 7th at id 2e+1 (k = 2 rows read source pixels through the
    * double-floor `((x·k·w // 8) // k)` — the floor-composition
    * identity makes them collide with their originals; id spaces
    * provably disjoint at any sweep scale, ADVICE r15 #1), fixed 8×8
    * NN thumbs, the shared integer aHash threshold rule (bit 63 as the
    * two's-complement constant). Ends defining `sah(id, ahash)` and
    * `imgs(id, …, is_batch)`. */
  private def scaleInvariantFpCte: String =
    """imgs AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 1 AS k, 0 AS is_batch,
      |    4 + event_id % 5 AS w, 3 + event_id % 4 AS h FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 2, 1,
      |    4 + event_id % 5, 3 + event_id % 4
      |  FROM events WHERE event_id % 7 = 0),
      |px AS (SELECT i.id, i.e, ys.y * 8 + xs.x AS idx,
      |    ((xs.x * i.k * i.w) // 8) // i.k AS sx,
      |    ((ys.y * i.k * i.h) // 8) // i.k AS sy
      |  FROM imgs i, generate_series(0, 7) AS xs(x),
      |    generate_series(0, 7) AS ys(y)),
      |g AS (SELECT id, idx,
      |      (e + 7*sx + 13*sy) % 256
      |    + (2*e + 3*sx + 5*sy) % 256
      |    + (5*e + 11*sx + 17*sy) % 256 AS gray
      |  FROM px),
      |tt AS (SELECT id, sum(gray) AS total, count(*) AS n FROM g GROUP BY id),
      |sah AS (SELECT tt.id,
      |    CAST(coalesce(sum(CASE WHEN g.gray * tt.n > tt.total
      |      THEN CASE WHEN g.idx = 63 THEN -9223372036854775808
      |           ELSE 1::BIGINT << g.idx::INT END
      |      ELSE 0::BIGINT END), 0) AS BIGINT) AS ahash
      |  FROM g JOIN tt ON g.id = tt.id GROUP BY tt.id)""".stripMargin

  /** Scale-invariant capped-pair CTEs over [[scaleInvariantFpCte]]
    * (mirrors `MediaKeys.ImageScale.key.pairs`): one corpus-wide
    * 'thumb' group, 4×16-bit bands, buckets capped at 64 smallest ids,
    * exact Hamming ≤ 6 confirms, 4 best partners per id_a. Ends
    * defining `pairs(id_a, id_b, hamming)` — shared by the pairs gate
    * and the keep gate's closure. */
  private def scaleInvariantPairsCte: String =
    s"""$scaleInvariantFpCte,
      |hb AS (SELECT id, unnest([
      |    'thumb:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'thumb:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'thumb:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'thumb:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM sah),
      |buckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM hb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |cand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b) WHERE x.a < y.b),
      |conf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN sah a ON id_a = a.id JOIN sah b ON id_b = b.id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 6),
      |pairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM conf)
      |  WHERE rnk <= 4)""".stripMargin

  private def scaleInvariantScreenCte: String =
    s"""$scaleInvariantFpCte,
      |hc AS (SELECT s.id, s.ahash FROM sah s JOIN imgs i USING (id)
      |  WHERE i.is_batch = 0),
      |hbt AS (SELECT s.id, s.ahash FROM sah s JOIN imgs i USING (id)
      |  WHERE i.is_batch = 1),
      |ci AS (SELECT id, unnest([
      |    'thumb:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'thumb:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'thumb:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'thumb:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hc),
      |cb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM ci GROUP BY bk),
      |bi AS (SELECT id AS batch_id, unnest([
      |    'thumb:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'thumb:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'thumb:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'thumb:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hbt),
      |cand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM bi JOIN cb USING (bk), unnest(ids) AS u(cid)),
      |conf AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.ahash, c.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN hbt b ON batch_id = b.id JOIN hc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.ahash, c.ahash)) <= 6)""".stripMargin

  /** Crop/letterbox-invariant thumb-fingerprint CTEs (r17, mirrors
    * `Multimodal.imageCropInvariantHash` over the letterboxed-then-
    * NN-2×-upscaled fixtures): originals at 2e (k = 1), composed
    * copies of every FIFTH at 2e+1 (k = 2). The contentBox trim
    * provably recovers the exact original rectangle (no content row or
    * column of the coprime-stride formulas is uniform — spec-proven),
    * and the NN box thumb's offsets cancel under the trim+2×-upscale
    * composition (⌊(2bx + ⌊x·2bw/8⌋)/2⌋ = bx + ⌊x·bw/8⌋), so the
    * replay is the scale family's double-floor over the ORIGINAL pixel
    * formulas with NO border arithmetic at all. Ends defining
    * `sah(id, ahash)` and `imgs(id, …, is_batch)`. */
  private def cropInvariantFpCte: String =
    """imgs AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 1 AS k, 0 AS is_batch,
      |    4 + event_id % 5 AS w, 3 + event_id % 4 AS h FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 2, 1,
      |    4 + event_id % 5, 3 + event_id % 4
      |  FROM events WHERE event_id % 5 = 0),
      |px AS (SELECT i.id, i.e, ys.y * 8 + xs.x AS idx,
      |    ((xs.x * i.k * i.w) // 8) // i.k AS sx,
      |    ((ys.y * i.k * i.h) // 8) // i.k AS sy
      |  FROM imgs i, generate_series(0, 7) AS xs(x),
      |    generate_series(0, 7) AS ys(y)),
      |g AS (SELECT id, idx,
      |      (e + 7*sx + 13*sy) % 256
      |    + (2*e + 3*sx + 5*sy) % 256
      |    + (5*e + 11*sx + 17*sy) % 256 AS gray
      |  FROM px),
      |tt AS (SELECT id, sum(gray) AS total, count(*) AS n FROM g GROUP BY id),
      |sah AS (SELECT tt.id,
      |    CAST(coalesce(sum(CASE WHEN g.gray * tt.n > tt.total
      |      THEN CASE WHEN g.idx = 63 THEN -9223372036854775808
      |           ELSE 1::BIGINT << g.idx::INT END
      |      ELSE 0::BIGINT END), 0) AS BIGINT) AS ahash
      |  FROM g JOIN tt ON g.id = tt.id GROUP BY tt.id)""".stripMargin

  /** Capped-pair CTEs over [[cropInvariantFpCte]] (mirrors
    * `MediaKeys.ImageCrop.key.pairs`): one corpus-wide 'cbox'
    * group, 4×16-bit bands, buckets capped at 64 smallest ids, exact
    * Hamming ≤ 6 confirms, 4 best partners per id_a. Ends defining
    * `pairs(id_a, id_b, hamming)`. */
  private def cropInvariantPairsCte: String =
    s"""$cropInvariantFpCte,
      |hb AS (SELECT id, unnest([
      |    'cbox:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'cbox:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'cbox:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'cbox:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM sah),
      |buckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM hb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |cand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b) WHERE x.a < y.b),
      |conf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN sah a ON id_a = a.id JOIN sah b ON id_b = b.id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 6),
      |pairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM conf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Incremental-screen CTEs over [[cropInvariantFpCte]] (mirrors
    * `MediaKeys.ImageCrop.key.screen` /
    * `MediaKeys.ImageCrop.stream`): corpus = the
    * originals' signatures, batch = the letterboxed upscaled
    * re-uploads, corpus band buckets capped at 64 smallest ids (size-1
    * kept), Hamming ≤ 6. Ends defining
    * `conf(batch_id, corpus_id, hamming)`. */
  private def cropInvariantScreenCte: String =
    s"""$cropInvariantFpCte,
      |hc AS (SELECT s.id, s.ahash FROM sah s JOIN imgs i USING (id)
      |  WHERE i.is_batch = 0),
      |hbt AS (SELECT s.id, s.ahash FROM sah s JOIN imgs i USING (id)
      |  WHERE i.is_batch = 1),
      |ci AS (SELECT id, unnest([
      |    'cbox:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'cbox:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'cbox:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'cbox:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hc),
      |cb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM ci GROUP BY bk),
      |bi AS (SELECT id AS batch_id, unnest([
      |    'cbox:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'cbox:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'cbox:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'cbox:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hbt),
      |cand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM bi JOIN cb USING (bk), unnest(ids) AS u(cid)),
      |conf AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.ahash, c.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN hbt b ON batch_id = b.id JOIN hc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.ahash, c.ahash)) <= 6)""".stripMargin

  /** Mirror-invariant canonical-thumb CTEs (r17, mirrors
    * `Multimodal.imageMirrorInvariantHash` over the mirrored-then-
    * NN-2×-upscaled fixtures): originals at 2e, composed copies of
    * every THIRD at 2e+1. Both orientations' thumbs replay over the
    * ORIGINAL pixel formulas — orientation 0 samples sx = ⌊x·w/8⌋,
    * orientation 1 its reflection w−1−sx — and the canonical hash is
    * the signed least() of the two (the engine's `math.min` over
    * Long). The copy rows carry the SAME formulas: mirror is an
    * involution, so the copy's orientation set equals the original's
    * (orbit lemma), and the NN 2× upscale cancels through the
    * double-floor inside each orientation (mirror∘upscale =
    * upscale∘mirror, spec-proven) — no per-copy arithmetic survives.
    * Ends defining `mah(id, ahash)` and `imgs(id, …, is_batch)`. */
  private def mirrorInvariantFpCte: String =
    """imgs AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 0 AS is_batch,
      |    4 + event_id % 5 AS w, 3 + event_id % 4 AS h FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 1,
      |    4 + event_id % 5, 3 + event_id % 4
      |  FROM events WHERE event_id % 3 = 0),
      |px AS (SELECT i.id, i.e, orient.o, ys.y * 8 + xs.x AS idx,
      |    CASE WHEN orient.o = 0 THEN (xs.x * i.w) // 8
      |         ELSE i.w - 1 - ((xs.x * i.w) // 8) END AS sx,
      |    (ys.y * i.h) // 8 AS sy
      |  FROM imgs i, generate_series(0, 7) AS xs(x),
      |    generate_series(0, 7) AS ys(y), generate_series(0, 1) AS orient(o)),
      |g AS (SELECT id, o, idx,
      |      (e + 7*sx + 13*sy) % 256
      |    + (2*e + 3*sx + 5*sy) % 256
      |    + (5*e + 11*sx + 17*sy) % 256 AS gray
      |  FROM px),
      |tt AS (SELECT id, o, sum(gray) AS total, count(*) AS n FROM g GROUP BY id, o),
      |oah AS (SELECT tt.id, tt.o,
      |    CAST(coalesce(sum(CASE WHEN g.gray * tt.n > tt.total
      |      THEN CASE WHEN g.idx = 63 THEN -9223372036854775808
      |           ELSE 1::BIGINT << g.idx::INT END
      |      ELSE 0::BIGINT END), 0) AS BIGINT) AS ahash
      |  FROM g JOIN tt ON g.id = tt.id AND g.o = tt.o GROUP BY tt.id, tt.o),
      |mah AS (SELECT id, min(ahash) AS ahash FROM oah GROUP BY id)""".stripMargin

  /** Capped-pair CTEs over [[mirrorInvariantFpCte]] (mirrors
    * `MediaKeys.ImageMirror.key.pairs`): one corpus-wide 'mthumb'
    * group, 4×16-bit bands, buckets capped at 64 smallest ids, exact
    * Hamming ≤ 6 confirms, 4 best partners per id_a. Ends defining
    * `pairs(id_a, id_b, hamming)`. */
  private def mirrorInvariantPairsCte: String =
    s"""$mirrorInvariantFpCte,
      |hb AS (SELECT id, unnest([
      |    'mthumb:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'mthumb:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'mthumb:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'mthumb:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM mah),
      |buckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM hb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |cand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b) WHERE x.a < y.b),
      |conf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN mah a ON id_a = a.id JOIN mah b ON id_b = b.id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 6),
      |pairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM conf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Incremental-screen CTEs over [[mirrorInvariantFpCte]] (mirrors
    * `MediaKeys.ImageMirror.key.screen` /
    * `MediaKeys.ImageMirror.stream`): corpus = the
    * originals' canonical signatures, batch = the mirrored upscaled
    * re-uploads, corpus band buckets capped at 64 smallest ids (size-1
    * kept), Hamming ≤ 6. Ends defining
    * `conf(batch_id, corpus_id, hamming)`. */
  private def mirrorInvariantScreenCte: String =
    s"""$mirrorInvariantFpCte,
      |hc AS (SELECT m.id, m.ahash FROM mah m JOIN imgs i USING (id)
      |  WHERE i.is_batch = 0),
      |hbt AS (SELECT m.id, m.ahash FROM mah m JOIN imgs i USING (id)
      |  WHERE i.is_batch = 1),
      |ci AS (SELECT id, unnest([
      |    'mthumb:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'mthumb:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'mthumb:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'mthumb:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hc),
      |cb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM ci GROUP BY bk),
      |bi AS (SELECT id AS batch_id, unnest([
      |    'mthumb:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'mthumb:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'mthumb:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'mthumb:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hbt),
      |cand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM bi JOIN cb USING (bk), unnest(ids) AS u(cid)),
      |conf AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.ahash, c.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN hbt b ON batch_id = b.id JOIN hc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.ahash, c.ahash)) <= 6)""".stripMargin

  /** Rotation-invariant (full dihedral orbit) canonical-thumb CTEs
    * (r18, VERDICT r17 #4 — mirrors
    * `Multimodal.imageRotationInvariantHash` over the rotated-then-
    * NN-2×-upscaled fixtures): originals at 2e, composed copies of
    * every FOURTH at 2e+1. All EIGHT orientations' thumbs replay over
    * the ORIGINAL pixel formulas — per orientation `o` the oriented
    * dims swap for the odd (90°/270°) turns, the NN grid map computes
    * (sx0, sy0) against the oriented dims, and the CASE table maps
    * back to original coordinates (o0 identity, o1 r90, o2 r180,
    * o3 r270, o4–o7 their mirrors: the engine's physical-array
    * `rot90`/`mirrorH` compositions, coordinate-derived in the
    * Scaladoc of `imageRotationInvariantHash`) — and the canonical
    * hash is the signed least() of the eight. Copy rows carry the SAME
    * formulas: D4 is a group, so a copy rotated/mirrored by any
    * element has the original's orientation SET (the orbit lemma), and
    * the NN 2× upscale cancels through the double-floor inside each
    * orientation (rot90∘upscale = upscale∘rot90, spec-proven) — no
    * per-copy arithmetic survives. Ends defining `rah(id, ahash)` and
    * `rimgs(id, …, is_batch)`. */
  private def rotationInvariantFpCte: String =
    """rimgs AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 0 AS is_batch,
      |    4 + event_id % 5 AS w, 3 + event_id % 4 AS h FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 1,
      |    4 + event_id % 5, 3 + event_id % 4
      |  FROM events WHERE event_id % 4 = 0),
      |rpx AS (SELECT i.id, i.e, i.w, i.h, oo.o, ys.y * 8 + xs.x AS idx,
      |    (xs.x * (CASE WHEN oo.o % 2 = 0 THEN i.w ELSE i.h END)) // 8 AS sx0,
      |    (ys.y * (CASE WHEN oo.o % 2 = 0 THEN i.h ELSE i.w END)) // 8 AS sy0
      |  FROM rimgs i, generate_series(0, 7) AS xs(x),
      |    generate_series(0, 7) AS ys(y), generate_series(0, 7) AS oo(o)),
      |rsc AS (SELECT id, e, o, idx,
      |    CASE o WHEN 0 THEN sx0 WHEN 1 THEN sy0
      |           WHEN 2 THEN w - 1 - sx0 WHEN 3 THEN w - 1 - sy0
      |           WHEN 4 THEN w - 1 - sx0 WHEN 5 THEN sy0
      |           WHEN 6 THEN sx0 ELSE w - 1 - sy0 END AS sx,
      |    CASE o WHEN 0 THEN sy0 WHEN 1 THEN h - 1 - sx0
      |           WHEN 2 THEN h - 1 - sy0 WHEN 3 THEN sx0
      |           WHEN 4 THEN sy0 WHEN 5 THEN sx0
      |           WHEN 6 THEN h - 1 - sy0 ELSE h - 1 - sx0 END AS sy
      |  FROM rpx),
      |rg AS (SELECT id, o, idx,
      |      (e + 7*sx + 13*sy) % 256
      |    + (2*e + 3*sx + 5*sy) % 256
      |    + (5*e + 11*sx + 17*sy) % 256 AS gray
      |  FROM rsc),
      |rtt AS (SELECT id, o, sum(gray) AS total, count(*) AS n
      |  FROM rg GROUP BY id, o),
      |roah AS (SELECT tt.id, tt.o,
      |    CAST(coalesce(sum(CASE WHEN g.gray * tt.n > tt.total
      |      THEN CASE WHEN g.idx = 63 THEN -9223372036854775808
      |           ELSE 1::BIGINT << g.idx::INT END
      |      ELSE 0::BIGINT END), 0) AS BIGINT) AS ahash
      |  FROM rg g JOIN rtt tt ON g.id = tt.id AND g.o = tt.o
      |  GROUP BY tt.id, tt.o),
      |rah AS (SELECT id, min(ahash) AS ahash FROM roah GROUP BY id)""".stripMargin

  /** Capped-pair CTEs over [[rotationInvariantFpCte]] (mirrors
    * `MediaKeys.ImageRotation.key.pairs`): one corpus-wide
    * 'rthumb' group, 4×16-bit bands, buckets capped at 64 smallest
    * ids, exact Hamming ≤ 6 confirms, 4 best partners per id_a. Ends
    * defining `pairs(id_a, id_b, hamming)`. */
  private def rotationInvariantPairsCte: String =
    s"""$rotationInvariantFpCte,
      |hb AS (SELECT id, unnest([
      |    'rthumb:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'rthumb:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'rthumb:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'rthumb:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM rah),
      |buckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM hb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |cand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b) WHERE x.a < y.b),
      |conf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN rah a ON id_a = a.id JOIN rah b ON id_b = b.id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 6),
      |pairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM conf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Incremental-screen CTEs over [[rotationInvariantFpCte]] (mirrors
    * `MediaKeys.ImageRotation.key.screen` /
    * `MediaKeys.ImageRotation.stream`): corpus = the
    * originals' canonical signatures, batch = the rotated upscaled
    * re-uploads, corpus band buckets capped at 64 smallest ids (size-1
    * kept), Hamming ≤ 6. Ends defining
    * `conf(batch_id, corpus_id, hamming)`. */
  private def rotationInvariantScreenCte: String =
    s"""$rotationInvariantFpCte,
      |hc AS (SELECT r.id, r.ahash FROM rah r JOIN rimgs i USING (id)
      |  WHERE i.is_batch = 0),
      |hbt AS (SELECT r.id, r.ahash FROM rah r JOIN rimgs i USING (id)
      |  WHERE i.is_batch = 1),
      |ci AS (SELECT id, unnest([
      |    'rthumb:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'rthumb:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'rthumb:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'rthumb:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hc),
      |cb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM ci GROUP BY bk),
      |bi AS (SELECT id AS batch_id, unnest([
      |    'rthumb:0:' || ((ahash >> 0) & 65535)::VARCHAR,
      |    'rthumb:1:' || ((ahash >> 16) & 65535)::VARCHAR,
      |    'rthumb:2:' || ((ahash >> 32) & 65535)::VARCHAR,
      |    'rthumb:3:' || ((ahash >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hbt),
      |cand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM bi JOIN cb USING (bk), unnest(ids) AS u(cid)),
      |conf AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.ahash, c.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN hbt b ON batch_id = b.id JOIN hc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.ahash, c.ahash)) <= 6)""".stripMargin

  /** Mirror-invariant VIDEO clip-signature CTEs (r18, VERDICT r17 #3 —
    * mirrors `Multimodal.videoMirrorInvariantHash` over the
    * frame-mirrored-then-NN-2×-rescaled `syntheticVideoMp4` fixtures):
    * originals at 2e, composed copies of every THIRD at 2e+1. Per
    * keyframe f ∈ {0,2,4} below nf, BOTH orientations' fixed 8×8 NN
    * thumbs replay over the original frame formulas (orientation 1
    * samples the reflected column w−1−sx0), each through the shared
    * `gray·64 > Σgray` aHash rule with the two's-complement bit-63
    * constant; the per-frame canonical hash is the SIGNED least() of
    * the two — taken BEFORE the 16-bit fold, the engine's exact order —
    * then folds pack by keyframe order (n_key ≤ 3: the sign slot never
    * packs). Copy rows carry the original's formulas: mirror is an
    * involution frame-wise and the NN 2× rescale cancels through the
    * double-floor inside each orientation (mirror∘upscale =
    * upscale∘mirror, spec-proven) — no per-copy arithmetic survives.
    * Ends defining `vmsig(id, nk, sig)` and `vmvids(id, …,
    * is_batch)`. */
  private def videoMiCte: String =
    """vmvids AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 0 AS is_batch FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 1
      |  FROM events WHERE event_id % 3 = 0),
      |vmdims AS (SELECT id, e // 4 AS c, e % 4 AS v,
      |    4 + (e // 4) % 5 AS w, 3 + (e // 4) % 4 AS h,
      |    3 + (e // 4) % 3 AS nf FROM vmvids),
      |vmkf AS (SELECT id, c, v, w, h, fs.f, fs.f // 2 AS k
      |  FROM vmdims, (SELECT unnest([0, 2, 4]) AS f) AS fs WHERE fs.f < nf),
      |vmpx AS (SELECT id, f, k, c, v, w, oo.o, ys.y * 8 + xs.x AS idx,
      |    CASE WHEN oo.o = 0 THEN (xs.x * w) // 8
      |         ELSE w - 1 - ((xs.x * w) // 8) END AS sx,
      |    (ys.y * h) // 8 AS sy
      |  FROM vmkf, generate_series(0, 7) AS xs(x),
      |    generate_series(0, 7) AS ys(y), generate_series(0, 1) AS oo(o)),
      |vmg AS (SELECT id, f, k, o, idx,
      |    (20 + (c + 7*sx + 13*sy + 19*f) % 149 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (2*c + 3*sx + 5*sy + 23*f) % 151 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (5*c + 11*sx + 17*sy + 29*f) % 150 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |    AS gray
      |  FROM vmpx),
      |vmtt AS (SELECT id, f, o, sum(gray) AS total FROM vmg GROUP BY id, f, o),
      |vmfh AS (SELECT g.id, g.k, g.o,
      |  CAST(coalesce(sum(CASE WHEN g.gray * 64 > t.total
      |    THEN CASE WHEN g.idx = 63 THEN -9223372036854775808
      |         ELSE 1::BIGINT << g.idx::INT END
      |    ELSE 0::BIGINT END), 0) AS BIGINT) AS fhash
      |  FROM vmg g JOIN vmtt t ON g.id = t.id AND g.f = t.f AND g.o = t.o
      |  GROUP BY g.id, g.k, g.o),
      |vmmin AS (SELECT id, k, min(fhash) AS mh FROM vmfh GROUP BY id, k),
      |vmsig AS (SELECT id, count(*) AS nk,
      |  CAST(sum(xor(xor(mh & 65535, (mh >> 16) & 65535),
      |      xor((mh >> 32) & 65535, (mh >> 48) & 65535))
      |    << (16 * k::INT)) AS BIGINT) AS sig
      |  FROM vmmin GROUP BY id)""".stripMargin

  /** Mirror-invariant video capped-pair CTEs over [[videoMiCte]]
    * (mirrors `MediaKeys.VideoMirror.key.pairs`): dimensions
    * dropped from the group ('vmthumb:' + n_key), 4×16-bit bands,
    * buckets capped at 64 smallest ids, exact Hamming ≤ 6 confirms,
    * 4 best partners per id_a. Ends defining
    * `svpairs(id_a, id_b, hamming)` — shared by the pairs gate and the
    * keep gate's closure. */
  private def videoMiPairsCte: String =
    s"""$videoMiCte,
      |svhb AS (SELECT id, unnest([
      |    'vmthumb:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vmthumb:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vmthumb:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vmthumb:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM vmsig),
      |svbuckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM svhb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |svcand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM svbuckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
      |  WHERE x.a < y.b),
      |svconf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |  FROM svcand JOIN vmsig a ON id_a = a.id JOIN vmsig b ON id_b = b.id
      |  WHERE bit_count(xor(a.sig, b.sig)) <= 6),
      |svpairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM svconf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Mirror-invariant video incremental-screen CTEs over [[videoMiCte]]
    * (mirrors `MediaKeys.VideoMirror.key.screen` /
    * `MediaKeys.VideoMirror.stream`): corpus = the
    * originals' signatures (even ids), batch = the mirrored transcodes
    * (odd ids), corpus band buckets capped at 64 smallest ids (size-1
    * kept), Hamming ≤ 6. Ends defining
    * `svconf2(batch_id, corpus_id, hamming)` — the batch gate caps at
    * 4 best partners on top; the streaming twin takes `svconf2`
    * whole. */
  private def videoMiScreenCte: String =
    s"""$videoMiCte,
      |svhc AS (SELECT * FROM vmsig WHERE id % 2 = 0),
      |svhbt AS (SELECT * FROM vmsig WHERE id % 2 = 1),
      |svci AS (SELECT id, unnest([
      |    'vmthumb:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vmthumb:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vmthumb:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vmthumb:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM svhc),
      |svcb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM svci GROUP BY bk),
      |svbi AS (SELECT id AS batch_id, unnest([
      |    'vmthumb:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vmthumb:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vmthumb:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vmthumb:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM svhbt),
      |svcand2 AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM svbi JOIN svcb USING (bk), unnest(ids) AS u(cid)),
      |svconf2 AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.sig, c.sig)) AS BIGINT) AS hamming
      |  FROM svcand2 JOIN svhbt b ON batch_id = b.id
      |    JOIN svhc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.sig, c.sig)) <= 6)""".stripMargin

  /** Rotation-invariant VIDEO clip-signature CTEs (r18 — mirrors
    * `Multimodal.videoRotationInvariantHash` over the frame-rotated-
    * then-NN-2×-rescaled `syntheticVideoMp4` fixtures): originals at
    * 2e, composed copies of every FOURTH at 2e+1. Per keyframe
    * f ∈ {0,2,4} below nf, all EIGHT orientations' fixed 8×8 NN thumbs
    * replay over the original frame formulas — the
    * [[rotationInvariantFpCte]] CASE table per frame (oriented dims
    * swap on odd turns) — each through the shared `gray·64 > Σgray`
    * rule with the bit-63 constant; per-frame canonical hash = SIGNED
    * least() of the eight BEFORE the 16-bit fold, folds packed by
    * keyframe order. Copy rows carry the original's formulas (the
    * group-orbit lemma frame-wise; the upscale cancels inside each
    * orientation). Ends defining `vrsig(id, nk, sig)` and
    * `vrvids(id, …, is_batch)`. */
  private def videoRotCte: String =
    """vrvids AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 0 AS is_batch FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 1
      |  FROM events WHERE event_id % 4 = 0),
      |vrdims AS (SELECT id, e // 4 AS c, e % 4 AS v,
      |    4 + (e // 4) % 5 AS w, 3 + (e // 4) % 4 AS h,
      |    3 + (e // 4) % 3 AS nf FROM vrvids),
      |vrkf AS (SELECT id, c, v, w, h, fs.f, fs.f // 2 AS k
      |  FROM vrdims, (SELECT unnest([0, 2, 4]) AS f) AS fs WHERE fs.f < nf),
      |vrpx0 AS (SELECT id, f, k, c, v, w, h, oo.o, ys.y * 8 + xs.x AS idx,
      |    (xs.x * (CASE WHEN oo.o % 2 = 0 THEN w ELSE h END)) // 8 AS sx0,
      |    (ys.y * (CASE WHEN oo.o % 2 = 0 THEN h ELSE w END)) // 8 AS sy0
      |  FROM vrkf, generate_series(0, 7) AS xs(x),
      |    generate_series(0, 7) AS ys(y), generate_series(0, 7) AS oo(o)),
      |vrpx AS (SELECT id, f, k, c, v, w, o, idx,
      |    CASE o WHEN 0 THEN sx0 WHEN 1 THEN sy0
      |           WHEN 2 THEN w - 1 - sx0 WHEN 3 THEN w - 1 - sy0
      |           WHEN 4 THEN w - 1 - sx0 WHEN 5 THEN sy0
      |           WHEN 6 THEN sx0 ELSE w - 1 - sy0 END AS sx,
      |    CASE o WHEN 0 THEN sy0 WHEN 1 THEN h - 1 - sx0
      |           WHEN 2 THEN h - 1 - sy0 WHEN 3 THEN sx0
      |           WHEN 4 THEN sy0 WHEN 5 THEN sx0
      |           WHEN 6 THEN h - 1 - sy0 ELSE h - 1 - sx0 END AS sy
      |  FROM vrpx0),
      |vrg AS (SELECT id, f, k, o, idx,
      |    (20 + (c + 7*sx + 13*sy + 19*f) % 149 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (2*c + 3*sx + 5*sy + 23*f) % 151 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (5*c + 11*sx + 17*sy + 29*f) % 150 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |    AS gray
      |  FROM vrpx),
      |vrtt AS (SELECT id, f, o, sum(gray) AS total FROM vrg GROUP BY id, f, o),
      |vrfh AS (SELECT g.id, g.k, g.o,
      |  CAST(coalesce(sum(CASE WHEN g.gray * 64 > t.total
      |    THEN CASE WHEN g.idx = 63 THEN -9223372036854775808
      |         ELSE 1::BIGINT << g.idx::INT END
      |    ELSE 0::BIGINT END), 0) AS BIGINT) AS fhash
      |  FROM vrg g JOIN vrtt t ON g.id = t.id AND g.f = t.f AND g.o = t.o
      |  GROUP BY g.id, g.k, g.o),
      |vrmin AS (SELECT id, k, min(fhash) AS mh FROM vrfh GROUP BY id, k),
      |vrsig AS (SELECT id, count(*) AS nk,
      |  CAST(sum(xor(xor(mh & 65535, (mh >> 16) & 65535),
      |      xor((mh >> 32) & 65535, (mh >> 48) & 65535))
      |    << (16 * k::INT)) AS BIGINT) AS sig
      |  FROM vrmin GROUP BY id)""".stripMargin

  /** Rotation-invariant video capped-pair CTEs over [[videoRotCte]]
    * (mirrors `MediaKeys.VideoRotation.key.pairs`): 'vrthumb:' +
    * n_key group, 4×16-bit bands, buckets capped at 64 smallest ids,
    * Hamming ≤ 6, 4 best partners. Ends defining
    * `svpairs(id_a, id_b, hamming)`. */
  private def videoRotPairsCte: String =
    s"""$videoRotCte,
      |svhb AS (SELECT id, unnest([
      |    'vrthumb:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vrthumb:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vrthumb:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vrthumb:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM vrsig),
      |svbuckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM svhb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |svcand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM svbuckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
      |  WHERE x.a < y.b),
      |svconf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |  FROM svcand JOIN vrsig a ON id_a = a.id JOIN vrsig b ON id_b = b.id
      |  WHERE bit_count(xor(a.sig, b.sig)) <= 6),
      |svpairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM svconf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Rotation-invariant video incremental-screen CTEs over
    * [[videoRotCte]] (mirrors
    * `MediaKeys.VideoRotation.key.screen` /
    * `MediaKeys.VideoRotation.stream`): corpus =
    * even ids, batch = odd ids, corpus band buckets capped at 64
    * smallest ids (size-1 kept), Hamming ≤ 6. Ends defining
    * `svconf2(batch_id, corpus_id, hamming)`. */
  private def videoRotScreenCte: String =
    s"""$videoRotCte,
      |svhc AS (SELECT * FROM vrsig WHERE id % 2 = 0),
      |svhbt AS (SELECT * FROM vrsig WHERE id % 2 = 1),
      |svci AS (SELECT id, unnest([
      |    'vrthumb:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vrthumb:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vrthumb:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vrthumb:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM svhc),
      |svcb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM svci GROUP BY bk),
      |svbi AS (SELECT id AS batch_id, unnest([
      |    'vrthumb:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vrthumb:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vrthumb:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vrthumb:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM svhbt),
      |svcand2 AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM svbi JOIN svcb USING (bk), unnest(ids) AS u(cid)),
      |svconf2 AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.sig, c.sig)) AS BIGINT) AS hamming
      |  FROM svcand2 JOIN svhbt b ON batch_id = b.id
      |    JOIN svhc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.sig, c.sig)) <= 6)""".stripMargin

  /** Crop/letterbox-invariant VIDEO thumb-signature CTEs (r17, mirrors
    * `Multimodal.videoCropInvariantHash` over the letterboxed-then-
    * NN-2×-rescaled `syntheticVideoMp4` fixtures): originals at 2e
    * (kk = 1), composed copies of every FIFTH at 2e+1 (kk = 2). The
    * per-keyframe contentBox trim cancels the pads and the box thumb's
    * offsets cancel under the 2× upscale, so the replay is the scale
    * family's double-floor over the original frame formulas. Ends
    * defining `vssig(id, nk, sig)`. */
  private def videoCiCte: String =
    """svids AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 1 AS kk FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 2
      |  FROM events WHERE event_id % 5 = 0),
      |svdims AS (SELECT id, kk, e // 4 AS c, e % 4 AS v,
      |    4 + (e // 4) % 5 AS w, 3 + (e // 4) % 4 AS h,
      |    3 + (e // 4) % 3 AS nf FROM svids),
      |svkf AS (SELECT id, kk, c, v, w, h, fs.f, fs.f // 2 AS k
      |  FROM svdims, (SELECT unnest([0, 2, 4]) AS f) AS fs WHERE fs.f < nf),
      |svpx AS (SELECT id, f, k, c, v, w, ys.y * 8 + xs.x AS idx,
      |    ((xs.x * kk * w) // 8) // kk AS sx,
      |    ((ys.y * kk * h) // 8) // kk AS sy
      |  FROM svkf, generate_series(0, 7) AS xs(x), generate_series(0, 7) AS ys(y)),
      |svg AS (SELECT id, f, k, idx,
      |    (20 + (c + 7*sx + 13*sy + 19*f) % 149 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (2*c + 3*sx + 5*sy + 23*f) % 151 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |  + (20 + (5*c + 11*sx + 17*sy + 29*f) % 150 + 16*v
      |       + CASE WHEN v >= 2 AND sx = c % w AND sy = 0 THEN 30 ELSE 0 END)
      |    AS gray
      |  FROM svpx),
      |svtt AS (SELECT id, f, sum(gray) AS total FROM svg GROUP BY id, f),
      |svfh AS (SELECT g.id, g.k,
      |  CAST(coalesce(sum(CASE WHEN g.gray * 64 > t.total
      |    THEN CASE WHEN g.idx = 63 THEN -9223372036854775808
      |         ELSE 1::BIGINT << g.idx::INT END
      |    ELSE 0::BIGINT END), 0) AS BIGINT) AS fhash
      |  FROM svg g JOIN svtt t ON g.id = t.id AND g.f = t.f
      |  GROUP BY g.id, g.k),
      |vssig AS (SELECT id, count(*) AS nk,
      |  CAST(sum(xor(xor(fhash & 65535, (fhash >> 16) & 65535),
      |      xor((fhash >> 32) & 65535, (fhash >> 48) & 65535))
      |    << (16 * k::INT)) AS BIGINT) AS sig
      |  FROM svfh GROUP BY id)""".stripMargin

  /** Capped-pair CTEs over [[videoCiCte]] (mirrors
    * `MediaKeys.VideoCrop.key.pairs`): 'vcbox:'+n_key group,
    * 4×16-bit bands, buckets capped at 64 smallest ids, Hamming ≤ 6,
    * 4 best partners. Ends defining `svpairs(id_a, id_b, hamming)`. */
  private def videoCiPairsCte: String =
    s"""$videoCiCte,
      |svhb AS (SELECT id, unnest([
      |    'vcbox:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vcbox:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vcbox:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vcbox:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM vssig),
      |svbuckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM svhb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |svcand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM svbuckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
      |  WHERE x.a < y.b),
      |svconf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |  FROM svcand JOIN vssig a ON id_a = a.id JOIN vssig b ON id_b = b.id
      |  WHERE bit_count(xor(a.sig, b.sig)) <= 6),
      |svpairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM svconf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Incremental-screen CTEs over [[videoCiCte]] (mirrors
    * `MediaKeys.VideoCrop.key.screen` /
    * `MediaKeys.VideoCrop.stream`): corpus = even
    * ids, batch = odd, buckets capped at 64 smallest ids (size-1
    * kept), Hamming ≤ 6. Ends defining
    * `svconf2(batch_id, corpus_id, hamming)`. */
  private def videoCiScreenCte: String =
    s"""$videoCiCte,
      |svhc AS (SELECT * FROM vssig WHERE id % 2 = 0),
      |svhbt AS (SELECT * FROM vssig WHERE id % 2 = 1),
      |svci AS (SELECT id, unnest([
      |    'vcbox:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vcbox:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vcbox:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vcbox:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM svhc),
      |svcb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM svci GROUP BY bk),
      |svbi AS (SELECT id AS batch_id, unnest([
      |    'vcbox:' || nk::VARCHAR || ':0:' || ((sig >> 0) & 65535)::VARCHAR,
      |    'vcbox:' || nk::VARCHAR || ':1:' || ((sig >> 16) & 65535)::VARCHAR,
      |    'vcbox:' || nk::VARCHAR || ':2:' || ((sig >> 32) & 65535)::VARCHAR,
      |    'vcbox:' || nk::VARCHAR || ':3:' || ((sig >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM svhbt),
      |svcand2 AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM svbi JOIN svcb USING (bk), unnest(ids) AS u(cid)),
      |svconf2 AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.sig, c.sig)) AS BIGINT) AS hamming
      |  FROM svcand2 JOIN svhbt b ON batch_id = b.id
      |    JOIN svhc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.sig, c.sig)) <= 6)""".stripMargin

  /** Trim-invariant audio fingerprint CTEs (r17, mirrors
    * `Multimodal.audioTrimInvariantHash` over the ZOH-2×-upsampled-
    * then-silence-padded `syntheticWavMixed` fixtures): originals at
    * 2e (k = 1), composed copies of every FIFTH at 2e+1 (k = 2).
    * Onset/tail scan over the closed-form per-frame energies
    * (f0 = first frame with energy > 0, f1 = last), span-anchored
    * double-floor slot map `f0 + ((w·k·n) // 64) // k` — the silence
    * pads AND the ZOH doubling both cancel (the copy's slot energy is
    * e(f0 + ⌊⌊2wn/64⌋/2⌋), spec-proven) — then strict delta-sign bits.
    * A clip with no positive-energy frame gets the empty signature 0
    * (the LEFT JOIN). Ends defining `trfp(id, h)` and
    * `tclips(id, …, is_batch)`. */
  private def trimInvariantFpCte: String =
    """tclips AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 1 AS k, 0 AS is_batch,
      |    1 + event_id % 2 AS ch, 32 + event_id % 33 AS nf FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 2, 1,
      |    1 + event_id % 2, 32 + event_id % 33
      |  FROM events WHERE event_id % 5 = 0),
      |ten AS (SELECT c.id, c.e, c.k, c.nf, fs.f,
      |    sum((((31*c.e + 17*fs.f + 29*cc.c) % 181)
      |         * ((7*c.e + 13*fs.f + 11*cc.c) % 179) - 16000)
      |      * (((31*c.e + 17*fs.f + 29*cc.c) % 181)
      |         * ((7*c.e + 13*fs.f + 11*cc.c) % 179) - 16000)) AS energy
      |  FROM tclips c, generate_series(0, 64) AS fs(f),
      |    generate_series(0, 1) AS cc(c)
      |  WHERE fs.f < c.nf AND cc.c < c.ch
      |  GROUP BY c.id, c.e, c.k, c.nf, fs.f),
      |tspan AS (SELECT id, min(f) FILTER (WHERE energy > 0) AS f0,
      |    max(f) FILTER (WHERE energy > 0) AS f1
      |  FROM ten GROUP BY id),
      |tse AS (SELECT t.id, ws.w,
      |    s.f0 + ((ws.w * t2.k * (s.f1 - s.f0 + 1)) // 64) // t2.k AS sf
      |  FROM (SELECT DISTINCT id FROM ten) t
      |    JOIN tspan s ON t.id = s.id
      |    JOIN tclips t2 ON t.id = t2.id,
      |    generate_series(0, 63) AS ws(w)
      |  WHERE s.f0 IS NOT NULL),
      |tde AS (SELECT se.id, se.w, en.energy,
      |    lead(en.energy) OVER (PARTITION BY se.id ORDER BY se.w) AS nxt
      |  FROM tse se JOIN ten en ON se.id = en.id AND se.sf = en.f),
      |trfp AS (
      |  SELECT c.id, CAST(coalesce(sum(CASE WHEN d.nxt > d.energy
      |      THEN 1::BIGINT << d.w::INT ELSE 0::BIGINT END), 0) AS BIGINT) AS h
      |  FROM tclips c LEFT JOIN tde d ON c.id = d.id
      |  GROUP BY c.id)""".stripMargin

  /** Capped-pair CTEs over [[trimInvariantFpCte]] (mirrors
    * `MediaKeys.AudioTrim.key.pairs`): one corpus-wide 'trim'
    * group, 4×16-bit bands, buckets capped at 64 smallest ids,
    * Hamming ≤ 6, 4 best partners. Ends defining
    * `pairs(id_a, id_b, hamming)`. */
  private def trimInvariantPairsCte: String =
    s"""$trimInvariantFpCte,
      |hb AS (SELECT id, unnest([
      |    'trim:0:' || ((h >> 0) & 65535)::VARCHAR,
      |    'trim:1:' || ((h >> 16) & 65535)::VARCHAR,
      |    'trim:2:' || ((h >> 32) & 65535)::VARCHAR,
      |    'trim:3:' || ((h >> 48) & 65535)::VARCHAR
      |  ]) AS band_key FROM trfp WHERE h <> 0),
      |buckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM hb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |cand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
      |  WHERE x.a < y.b),
      |conf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
      |  FROM cand JOIN trfp a ON id_a = a.id JOIN trfp b ON id_b = b.id
      |  WHERE bit_count(xor(a.h, b.h)) <= 6),
      |pairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM conf)
      |  WHERE rnk <= 4)""".stripMargin

  /** Incremental-screen CTEs over [[trimInvariantFpCte]] (mirrors
    * `MediaKeys.AudioTrim.key.screen` /
    * `MediaKeys.AudioTrim.stream`): corpus = the
    * originals' signatures, batch = the padded ZOH re-uploads, corpus
    * band buckets capped at 64 smallest ids (size-1 kept), Hamming
    * ≤ 6. Ends defining `conf(batch_id, corpus_id, hamming)`. */
  private def trimInvariantScreenCte: String =
    s"""$trimInvariantFpCte,
      |hc AS (SELECT r.id, r.h FROM trfp r JOIN tclips c USING (id)
      |  WHERE c.is_batch = 0 AND r.h <> 0),
      |hbt AS (SELECT r.id, r.h FROM trfp r JOIN tclips c USING (id)
      |  WHERE c.is_batch = 1 AND r.h <> 0),
      |ci AS (SELECT id, unnest([
      |    'trim:0:' || ((h >> 0) & 65535)::VARCHAR,
      |    'trim:1:' || ((h >> 16) & 65535)::VARCHAR,
      |    'trim:2:' || ((h >> 32) & 65535)::VARCHAR,
      |    'trim:3:' || ((h >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hc),
      |cb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM ci GROUP BY bk),
      |bi AS (SELECT id AS batch_id, unnest([
      |    'trim:0:' || ((h >> 0) & 65535)::VARCHAR,
      |    'trim:1:' || ((h >> 16) & 65535)::VARCHAR,
      |    'trim:2:' || ((h >> 32) & 65535)::VARCHAR,
      |    'trim:3:' || ((h >> 48) & 65535)::VARCHAR
      |  ]) AS bk FROM hbt),
      |cand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM bi JOIN cb USING (bk), unnest(ids) AS u(cid)),
      |conf AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.h, c.h)) AS BIGINT) AS hamming
      |  FROM cand JOIN hbt b ON batch_id = b.id JOIN hc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.h, c.h)) <= 6)""".stripMargin

  private def imageIncrementalCte: String =
    """hc AS (SELECT * FROM ah WHERE (id // 20) % 2 = 0),
      |hbt AS (SELECT * FROM ah WHERE (id // 20) % 2 = 1),
      |ci AS (SELECT id, unnest([
      |    w::VARCHAR || 'x' || h::VARCHAR || ':0:' || ((ahash >> 0) & 4095)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':1:' || ((ahash >> 12) & 4095)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':2:' || ((ahash >> 24) & 4095)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':3:' || ((ahash >> 36) & 4095)::VARCHAR
      |  ]) AS bk FROM hc),
      |cb AS (SELECT bk, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM ci GROUP BY bk),
      |bi AS (SELECT id AS batch_id, unnest([
      |    w::VARCHAR || 'x' || h::VARCHAR || ':0:' || ((ahash >> 0) & 4095)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':1:' || ((ahash >> 12) & 4095)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':2:' || ((ahash >> 24) & 4095)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':3:' || ((ahash >> 36) & 4095)::VARCHAR
      |  ]) AS bk FROM hbt),
      |cand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
      |  FROM bi JOIN cb USING (bk), unnest(ids) AS u(cid)),
      |conf AS (SELECT batch_id, corpus_id,
      |    CAST(bit_count(xor(b.ahash, c.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN hbt b ON batch_id = b.id JOIN hc c ON corpus_id = c.id
      |  WHERE bit_count(xor(b.ahash, c.ahash)) <= 4)""".stripMargin

  /** Shared banded-Hamming pair CTEs over the `ah` fingerprint CTE
    * (mirrors `Multimodal.imageAHashPairs` through
    * `bandedHammingPairs`): 4×12-bit bands keyed by dimensions, bucket
    * cap 64 smallest ids, exact Hamming ≤ 4 confirm, 4 best partners
    * per id_a. Ends defining `pairs(id_a, id_b, hamming)` — shared by
    * the pairs gate and the clusters gate's closure. */
  private def ahashPairsCte: String =
    """hb AS (SELECT id, unnest([
      |    w::VARCHAR || 'x' || h::VARCHAR || ':0:' || ((ahash >> 0) & 4095)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':1:' || ((ahash >> 12) & 4095)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':2:' || ((ahash >> 24) & 4095)::VARCHAR,
      |    w::VARCHAR || 'x' || h::VARCHAR || ':3:' || ((ahash >> 36) & 4095)::VARCHAR
      |  ]) AS band_key FROM ah),
      |buckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:64] AS ids
      |  FROM hb GROUP BY band_key HAVING count(DISTINCT id) > 1),
      |cand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
      |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b) WHERE x.a < y.b),
      |conf AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
      |  FROM cand JOIN ah a ON id_a = a.id JOIN ah b ON id_b = b.id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 4),
      |pairs AS (SELECT id_a, id_b, hamming FROM (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM conf)
      |WHERE rnk <= 4)""".stripMargin

  /** Min-label closure CTEs (VERDICT r17 #1 — the compare-wall fix):
    * component-minimum labels over an undirected pair graph WITHOUT
    * materializing the O(V·E) `reach` transitive closure the keep
    * oracles used through r17. Two changes, each independently
    * load-bearing (measured on the live `dedup_audio_rate_invariant_keep`
    * oracle at sf0.01):
    *
    *  1. `edges` is MATERIALIZED. DuckDB re-evaluates an
    *     un-materialized CTE referenced from a recursive member once
    *     PER FIXPOINT ITERATION, so the entire upstream pixel/energy
    *     fixture simulation re-ran dozens of times per oracle — the
    *     mechanism behind the judge-measured 761 s across six keep
    *     oracles (reach un-materialized ~50 s+, materialized 12.3 s
    *     for this one gate).
    *  2. `reach` (every connected (u,v) pair) is replaced by a
    *     MONOTONE LABEL FLOOD `lp(id, lab)`: a label `l` propagates to
    *     a neighbor `v` only while `l < v`. The component minimum `m`
    *     is smaller than every other node in its component, so the
    *     guard never blocks it and it floods the whole component;
    *     larger labels die early (that's the pruning — 12.3 s → 3.1 s
    *     on the same gate). Exactness: consumers aggregate
    *     `least(node, min(lab))`, and only the component min must
    *     arrive. Validated identical to the reach closure on the live
    *     gate and to union-find on randomized + adversarial-chain
    *     graphs (`tools/closure_check.py`).
    *
    * Ends defining `lp(id, lab)`; consumers LEFT JOIN on `lp.id` and
    * take `least(node_id, min(lab))`. Must sit inside a
    * `WITH RECURSIVE`. */
  private def minLabelFloodCte(pairsRel: String,
                               aCol: String = "id_a",
                               bCol: String = "id_b"): String =
    s"""edges AS MATERIALIZED (SELECT $aCol AS src, $bCol AS dst FROM $pairsRel
       |  UNION ALL SELECT $bCol, $aCol FROM $pairsRel),
       |lp(id, lab) AS (
       |  SELECT src, dst FROM edges WHERE dst < src
       |  UNION
       |  SELECT e.dst, l.lab FROM lp l JOIN edges e ON l.id = e.src
       |    WHERE l.lab < e.dst)""".stripMargin

  /** [[minLabelFloodCte]] + the keep-gate tail shared by every
    * `dedup_*_keep` / `dedup_*_clusters` oracle: per-node cluster =
    * `least(id, min flooded label)`, keep = being the representative. */
  private def minLabelClosureSql(pairsRel: String, nodesRel: String): String =
    s"""${minLabelFloodCte(pairsRel)},
       |lab AS (SELECT a.id, least(a.id, coalesce(min(l.lab), a.id)) AS cluster
       |  FROM $nodesRel a LEFT JOIN lp l ON a.id = l.id GROUP BY a.id)
       |SELECT id, cluster, cluster = id AS keep FROM lab""".stripMargin

  /** Media admission book oracle (mirrors the gate's composition):
    * three SELF-CONTAINED per-modality chains — each replaying fixture
    * decode formulas, the EXACT content fingerprint (pixel md5 /
    * PCM-sample md5 / payload md5) with its min-id keeper window, and
    * the PERCEPTUAL path (banded buckets → capped candidates → Hamming
    * confirm → recursive closure → keeper) — nested as derived tables
    * with their own WITH RECURSIVE so the shared CTE names (pairs,
    * edges, reach) cannot collide, then unioned. */
  /** With `withQuarantine`, the same book replayed over the POISONED
    * corpus (every 5th event contributes a corrupt asset per modality
    * at id 10⁷+event_id): good rows gain `reason=''` and stay otherwise
    * byte-identical (quarantined assets fail decode, so they seed no
    * fingerprint group and no pair bucket); corrupt rows are replayed
    * from the fixture rule — kind `(event_id // 5) % K` per modality,
    * matching the classified decoder guard each poison targets. */
  private def mediaAdmissionOracleSql(withQuarantine: Boolean = false): String = {
    def ind(s: String) = s.replace("\n", "\n  ")
    val closure = minLabelFloodCte("pairs")
    val imageSql = ahashOracleSql(
      s"""$ahashPairsCte,
         |$closure,
         |plab AS (SELECT a.id, least(a.id, coalesce(min(l.lab), a.id)) AS cluster
         |  FROM ah a LEFT JOIN lp l ON a.id = l.id GROUP BY a.id),
         |rgbx AS (SELECT i.id, i.w, i.h, ys.y * i.w + xs.x AS idx,
         |    (i.id + 7*xs.x + 13*ys.y) % 256 AS r,
         |    (2*i.id + 3*xs.x + 5*ys.y) % 256 AS g,
         |    (5*i.id + 11*xs.x + 17*ys.y) % 256 AS b
         |  FROM imgs i, generate_series(0, 7) AS xs(x), generate_series(0, 5) AS ys(y)
         |  WHERE xs.x < i.w AND ys.y < i.h),
         |efp AS (SELECT id, md5(w::VARCHAR || ':' || h::VARCHAR || ':' ||
         |    string_agg(r::VARCHAR || ',' || g::VARCHAR || ',' || b::VARCHAR,
         |      ':' ORDER BY idx)) AS fp
         |  FROM rgbx GROUP BY id, w, h),
         |ek AS (SELECT id, id = min(id) OVER (PARTITION BY fp) AS keep_exact
         |  FROM efp)
         |SELECT 'image' AS modality, ek.id, ek.keep_exact,
         |  p.cluster = p.id AS keep_perceptual,
         |  ek.keep_exact AND p.cluster = p.id AS admit
         |FROM ek JOIN plab p ON ek.id = p.id""".stripMargin,
      extraCte = true, recursive = true)
    val audioSql =
      s"""WITH RECURSIVE $audioPairsCte,
         |$closure,
         |plab AS (SELECT a.id, least(a.id, coalesce(min(l.lab), a.id)) AS cluster
         |  FROM af a LEFT JOIN lp l ON a.id = l.id GROUP BY a.id),
         |sv AS (SELECT c.id, c.ch, f.f * c.ch + cc.c AS idx,
         |    ((31*c.id + 17*f.f + 29*cc.c) % 65536) - 32768 AS v
         |  FROM clips c, generate_series(0, 64) AS f(f), generate_series(0, 1) AS cc(c)
         |  WHERE f.f < c.nf AND cc.c < c.ch),
         |efp AS (SELECT id, md5(ch::VARCHAR || ':' ||
         |    string_agg(v::VARCHAR, ':' ORDER BY idx)) AS fp
         |  FROM sv GROUP BY id, ch),
         |ek AS (SELECT id, id = min(id) OVER (PARTITION BY fp) AS keep_exact
         |  FROM efp)
         |SELECT 'audio' AS modality, ek.id, ek.keep_exact,
         |  p.cluster = p.id AS keep_perceptual,
         |  ek.keep_exact AND p.cluster = p.id AS admit
         |FROM ek JOIN plab p ON ek.id = p.id""".stripMargin
    val videoSql =
      s"""WITH RECURSIVE $videoFpCte,
         |$videoPerceptualCte,
         |$videoPerceptualPairsCte,
         |${minLabelFloodCte("vpairs")},
         |plab AS (SELECT v.id, least(v.id, coalesce(min(l.lab), v.id)) AS cluster
         |  FROM vsig v LEFT JOIN lp l ON v.id = l.id GROUP BY v.id),
         |ek AS (SELECT id, id = min(id) OVER (PARTITION BY fp) AS keep_exact
         |  FROM vfp)
         |SELECT 'video' AS modality, ek.id, ek.keep_exact,
         |  p.cluster = p.id AS keep_perceptual,
         |  ek.keep_exact AND p.cluster = p.id AS admit
         |FROM ek JOIN plab p ON ek.id = p.id""".stripMargin
    val quarantineCte =
      """,
        |q AS (
        |  SELECT m.modality, 10000000 + e.event_id AS id,
        |    false AS keep_exact, false AS keep_perceptual, false AS admit,
        |    CASE m.modality
        |      WHEN 'image' THEN CASE ((e.event_id // 5) % 3)
        |        WHEN 0 THEN 'decode:truncated' WHEN 1 THEN 'decode:bomb'
        |        ELSE 'decode:bad_crc' END
        |      WHEN 'audio' THEN CASE ((e.event_id // 5) % 2)
        |        WHEN 0 THEN 'decode:truncated' ELSE 'decode:bad_magic' END
        |      ELSE CASE ((e.event_id // 5) % 3)
        |        WHEN 0 THEN 'decode:truncated' WHEN 1 THEN 'decode:bomb'
        |        ELSE 'decode:bad_magic' END
        |    END AS reason
        |  FROM events e, (VALUES ('image'), ('audio'), ('video')) AS m(modality)
        |  WHERE e.event_id % 5 = 0)""".stripMargin
    val goodCols = "modality, id, keep_exact, keep_perceptual, admit" +
      (if (withQuarantine) ", '' AS reason" else "")
    val quarantineTail =
      if (withQuarantine)
        "\nUNION ALL SELECT modality, id, keep_exact, keep_perceptual, admit, reason FROM q"
      else ""
    s"""WITH im AS (SELECT * FROM (
       |  ${ind(imageSql)})),
       |au AS (SELECT * FROM (
       |  ${ind(audioSql)})),
       |vi AS (SELECT * FROM (
       |  ${ind(videoSql)}))${if (withQuarantine) quarantineCte else ""}
       |SELECT $goodCols FROM im
       |UNION ALL SELECT $goodCols FROM au
       |UNION ALL SELECT $goodCols FROM vi$quarantineTail""".stripMargin
  }

  /** Decoded-pixel statistics oracle for the baseline-JPEG fixtures
    * (`Multimodal.syntheticJpeg`): per-block constant YCbCr makes the
    * lossy pipeline exact, so the oracle replays block formula + the
    * fixed-point color conversion without a codec. */
  private def jpegStatsOracleSql: String =
    """WITH imgs AS (
      |  SELECT event_id AS id, 1 + event_id % 3 AS wb, 1 + event_id % 2 AS hb
      |  FROM events),
      |blk AS (
      |  SELECT i.id, i.wb, i.hb,
      |    (3*i.id + 5*bxs.x + 11*bys.y) % 256 AS yy,
      |    (7*i.id + 2*bxs.x + 3*bys.y) % 256 AS cb,
      |    (i.id + 13*bxs.x + 9*bys.y) % 256 AS cr
      |  FROM imgs i, generate_series(0, 2) AS bxs(x), generate_series(0, 1) AS bys(y)
      |  WHERE bxs.x < i.wb AND bys.y < i.hb),
      |rgb AS (
      |  SELECT id, wb, hb,
      |    greatest(0, least(255, yy + CAST(floor((91881*(cr-128) + 32768) / 65536.0) AS INT))) AS r,
      |    greatest(0, least(255, yy + CAST(floor((-22554*(cb-128) - 46802*(cr-128) + 32768) / 65536.0) AS INT))) AS g,
      |    greatest(0, least(255, yy + CAST(floor((116130*(cb-128) + 32768) / 65536.0) AS INT))) AS b
      |  FROM blk)
      |SELECT id, CAST(8*wb AS BIGINT) AS width, CAST(8*hb AS BIGINT) AS height,
      |  CAST(64*sum(r) AS BIGINT) AS sum_r, CAST(64*sum(g) AS BIGINT) AS sum_g,
      |  CAST(64*sum(b) AS BIGINT) AS sum_b,
      |  CAST(min(least(r, g, b)) AS BIGINT) AS px_min,
      |  CAST(max(greatest(r, g, b)) AS BIGINT) AS px_max
      |FROM rgb GROUP BY id, wb, hb""".stripMargin

  /** Decoded-pixel statistics oracle for the GIF fixtures
    * (`Multimodal.syntheticGif`): palette-index and palette-channel
    * formulas composed without a codec. */
  private def gifStatsOracleSql: String =
    """WITH imgs AS (
      |  SELECT event_id AS id, 4 + event_id % 6 AS w, 2 + event_id % 5 AS h
      |  FROM events),
      |px AS (
      |  SELECT i.id, i.w, i.h,
      |    (3*((5*i.id + 7*xs.x + 3*ys.y) % 256) + 7) % 256 AS r,
      |    (5*((5*i.id + 7*xs.x + 3*ys.y) % 256) + 11) % 256 AS g,
      |    (7*((5*i.id + 7*xs.x + 3*ys.y) % 256) + 13) % 256 AS b
      |  FROM imgs i, generate_series(0, 8) AS xs(x), generate_series(0, 5) AS ys(y)
      |  WHERE xs.x < i.w AND ys.y < i.h)
      |SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(min(least(r, g, b)) AS BIGINT) AS px_min,
      |  CAST(max(greatest(r, g, b)) AS BIGINT) AS px_max
      |FROM px GROUP BY id, w, h""".stripMargin

  /** The codec-quarantine gate's oracle: good rows are the two stats
    * oracles verbatim (plus ok/'' columns), corrupt rows replay the
    * poison-kind arithmetic. */
  private def codecQuarantineOracleSql: String = {
    def ind(s: String) = s.replace("\n", "\n  ")
    val zeros = (1 to 7).map(_ => "CAST(0 AS BIGINT)").zip(
      Seq("width", "height", "sum_r", "sum_g", "sum_b", "px_min", "px_max"))
      .map { case (z, n) => s"$z AS $n" }.mkString(", ")
    s"""WITH j AS (SELECT * FROM (
       |  ${ind(jpegStatsOracleSql)})),
       |g AS (SELECT * FROM (
       |  ${ind(gifStatsOracleSql)}))
       |SELECT 'jpeg' AS codec, id, true AS ok, '' AS reason,
       |  width, height, sum_r, sum_g, sum_b, px_min, px_max FROM j
       |UNION ALL SELECT 'gif', id, true, '',
       |  width, height, sum_r, sum_g, sum_b, px_min, px_max FROM g
       |UNION ALL SELECT 'jpeg', 10000000 + event_id, false,
       |  'decode:' || CASE ((event_id // 5) % 2)
       |    WHEN 0 THEN 'truncated' ELSE 'bomb' END,
       |  $zeros
       |FROM events WHERE event_id % 5 = 0
       |UNION ALL SELECT 'gif', 10000000 + event_id, false,
       |  'decode:' || CASE ((event_id // 5) % 3)
       |    WHEN 0 THEN 'truncated' WHEN 1 THEN 'bad_magic' ELSE 'bomb' END,
       |  $zeros
       |FROM events WHERE event_id % 5 = 0""".stripMargin
  }

  /** The composed multimodal book's oracle: the surgical text book and
    * the media admission book replayed as nested derived tables, the
    * closed-form doc→asset reference fixture regenerated, admit =
    * text-survives ∧ no-referenced-asset-dropped. */
  private def multimodalAdmissionOracleSql: String = {
    def ind(s: String) = s.replace("\n", "\n  ")
    s"""WITH tb AS (SELECT DISTINCT doc_id FROM (
       |  ${ind(pipelineSurgicalOracleSql)})),
       |mb AS (SELECT modality, id, admit FROM (
       |  ${ind(mediaAdmissionOracleSql())})),
       |nev AS (SELECT max(event_id) + 1 AS n FROM events),
       |refs AS (SELECT d.doc_id, i.i,
       |    CASE (i.i % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       |      ELSE 'video' END AS modality,
       |    (d.doc_id * 31 + i.i * 17) % nev.n AS asset_id
       |  FROM documents d, nev, generate_series(0, 2) AS i(i)
       |  WHERE i.i <= d.doc_id % 3),
       |bad AS (SELECT DISTINCT r.doc_id FROM refs r
       |  JOIN mb ON mb.modality = r.modality AND mb.id = r.asset_id
       |  WHERE NOT mb.admit),
       |nr AS (SELECT doc_id, count(*) AS n_refs FROM refs GROUP BY doc_id)
       |SELECT d.doc_id,
       |  (tb.doc_id IS NOT NULL) AS text_admit,
       |  nr.n_refs,
       |  (bad.doc_id IS NOT NULL) AS has_dropped_asset,
       |  (tb.doc_id IS NOT NULL AND bad.doc_id IS NULL) AS admit
       |FROM documents d JOIN nr USING (doc_id)
       |  LEFT JOIN tb ON tb.doc_id = d.doc_id
       |  LEFT JOIN bad ON bad.doc_id = d.doc_id""".stripMargin
  }

  /** Shared aHash CTE chain (mirrors `Multimodal.imageAHash` over the
    * closed-form BMP fixture pixels) + a caller-supplied tail query.
    * `extraCte = true` when the tail begins with additional CTEs;
    * `recursive = true` when one of those is a recursive CTE (the
    * clusters oracle's closure). */
  private def ahashOracleSql(tail: String, extraCte: Boolean = false,
                             recursive: Boolean = false): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}imgs AS (
       |  SELECT event_id AS id, 4 + event_id % 5 AS w, 3 + event_id % 4 AS h
       |  FROM events),
       |px AS (
       |  SELECT i.id, i.w, i.h, ys.y * i.w + xs.x AS idx,
       |      (i.id + 7*xs.x + 13*ys.y) % 256
       |    + (2*i.id + 3*xs.x + 5*ys.y) % 256
       |    + (5*i.id + 11*xs.x + 17*ys.y) % 256 AS gray
       |  FROM imgs i, generate_series(0, 7) AS xs(x), generate_series(0, 5) AS ys(y)
       |  WHERE xs.x < i.w AND ys.y < i.h),
       |tt AS (SELECT id, w, h, sum(gray) AS total, count(*) AS n
       |  FROM px GROUP BY id, w, h),
       |ah AS (SELECT tt.id, tt.w, tt.h,
       |  CAST(coalesce(sum(CASE WHEN p.gray * tt.n > tt.total
       |    THEN 1::BIGINT << p.idx::INT ELSE 0::BIGINT END), 0) AS BIGINT) AS ahash
       |  FROM px p JOIN tt ON p.id = tt.id GROUP BY tt.id, tt.w, tt.h)${if (extraCte) "," else ""}
       |$tail""".stripMargin

  /** HLL set algebra oracle: per-set registers over the overlapping
    * key sets (l_linenumber ≤ 4 / ≥ 2), max-merge union, integer
    * est_centi via the pinned constant, inclusion-exclusion pivot. */
  private def hllSetAlgebraOracleSql: String =
    s"""WITH v AS (SELECT l_linenumber,
       |  md5(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR) AS h
       |  FROM lineitem),
       |br AS (SELECT l_linenumber,
       |  ('0x' || substr(h, 1, 3))::BIGINT AS bucket,
       |  CASE WHEN ('0x' || substr(h, 4, 15))::BIGINT = 0 THEN 61
       |       ELSE 61 - length(bin(('0x' || substr(h, 4, 15))::BIGINT)) END AS rank
       |  FROM v),
       |ra AS (SELECT bucket, max(rank) AS max_rank FROM br
       |       WHERE l_linenumber <= 4 GROUP BY bucket),
       |rb AS (SELECT bucket, max(rank) AS max_rank FROM br
       |       WHERE l_linenumber >= 2 GROUP BY bucket),
       |allr AS (
       |  SELECT 'A' AS set_expr, bucket, max_rank FROM ra
       |  UNION ALL SELECT 'B', bucket, max_rank FROM rb
       |  UNION ALL SELECT 'A_union_B', bucket, max(max_rank) FROM (
       |    SELECT bucket, max_rank FROM ra
       |    UNION ALL SELECT bucket, max_rank FROM rb) GROUP BY bucket),
       |est AS (SELECT set_expr, count(*) AS buckets_hit,
       |  (sum(((1::BIGINT) << (61 - max_rank))::DECIMAL(25,0)))::DECIMAL(25,0) AS s_hit
       |  FROM allr GROUP BY set_expr),
       |est2 AS (SELECT set_expr,
       |  (s_hit + ((4096 - buckets_hit)::DECIMAL(10,0)
       |            * (1::BIGINT << 61)::DECIMAL(20,0))::DECIMAL(25,0)
       |  )::DECIMAL(25,0) AS s_prime
       |  FROM est),
       |e AS (SELECT set_expr,
       |  CASE WHEN s_prime < ${graft.ops.Sketch.HllSPrimeSafeMin}
       |       THEN 9223372036854775807::BIGINT
       |       ELSE ('${graft.ops.Sketch.HllEstC}'::HUGEINT
       |             // s_prime::HUGEINT)::BIGINT END AS est_centi FROM est2)
       |SELECT set_expr, est_centi FROM e
       |UNION ALL
       |SELECT 'A_intersect_B',
       |  greatest(max(CASE WHEN set_expr = 'A' THEN est_centi END)
       |         + max(CASE WHEN set_expr = 'B' THEN est_centi END)
       |         - max(CASE WHEN set_expr = 'A_union_B' THEN est_centi END),
       |    0) FROM e""".stripMargin

  // Bloom: 63 payload bits per word (bit 63 would go negative and
  // engines disagree about 1<<63 overflow); pos = md5(j:md5(text)) %
  // 65536, word = pos div 63, mask = 1 << (pos % 63), bits = OR
  private def bloomCte: String =
    """bpos AS (SELECT source AS shard,
      |  ('0x' || substr(md5(r.j::VARCHAR || ':' || md5(text)), 1, 8))::BIGINT
      |    % 65536 AS pos
      |  FROM documents, range(4) AS r(j) WHERE doc_id % 2 = 0),
      |bl AS (SELECT shard, pos // 63 AS word,
      |  bit_or(1::BIGINT << (pos % 63)::INT) AS bits
      |  FROM bpos GROUP BY shard, word)""".stripMargin

  private def bloomFilterOracleSql: String =
    s"""WITH $bloomCte
       |SELECT shard, word, bits FROM bl
       |UNION ALL
       |SELECT 'ALL' AS shard, word, bit_or(bits) AS bits
       |FROM bl GROUP BY word""".stripMargin

  private def bloomScreenOracleSql: String =
    s"""WITH $bloomCte,
       |m AS (SELECT word, bit_or(bits) AS bits FROM bl GROUP BY word),
       |pr AS (SELECT doc_id AS probe_id, r.j,
       |  ('0x' || substr(md5(r.j::VARCHAR || ':' || md5(text)), 1, 8))::BIGINT
       |    % 65536 AS pos
       |  FROM documents, range(4) AS r(j) WHERE doc_id % 2 = 1),
       |h AS (SELECT probe_id,
       |  sum(CASE WHEN m.bits IS NOT NULL
       |           AND (m.bits & (1::BIGINT << (pr.pos % 63)::INT)) != 0
       |      THEN 1 ELSE 0 END)::BIGINT AS hits
       |  FROM pr LEFT JOIN m ON m.word = pr.pos // 63
       |  GROUP BY probe_id)
       |SELECT probe_id, hits, hits = 4 AS maybe_seen FROM h""".stripMargin

  private def cmsHeavyHittersOracleSql: String =
    """WITH toks AS (
      |  SELECT tok FROM documents,
      |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(tok)
      |  WHERE tok != ''),
      |cms AS (
      |  SELECT j, ('0x' || substr(md5(j::VARCHAR || ':' || tok), 1, 8))::BIGINT
      |           % 1024 AS cell, count(*) AS cnt
      |  FROM toks, range(4) AS r(j) GROUP BY j, cell),
      |topk AS (
      |  SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok
      |  ORDER BY exact_cnt DESC, tok LIMIT 50),
      |probes AS (
      |  SELECT k.tok, k.exact_cnt, r.j,
      |    ('0x' || substr(md5(r.j::VARCHAR || ':' || k.tok), 1, 8))::BIGINT
      |      % 1024 AS cell
      |  FROM topk k, range(4) AS r(j))
      |SELECT p.tok AS token, p.exact_cnt, min(c.cnt) AS cms_est
      |FROM probes p JOIN cms c ON c.j = p.j AND c.cell = p.cell
      |GROUP BY p.tok, p.exact_cnt""".stripMargin
}
