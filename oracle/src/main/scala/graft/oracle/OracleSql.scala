package graft.oracle

/** The DuckDB oracle: one SQL text per gate of `graft.SparkEntry.queries`,
  * which `graft.Verify` writes to `oracle_sql.json` for the t2 compare
  * (DuckDB runs each text over the same parquet tables, and its
  * canonicalized rows are hash-compared with the Spark dump's).
  *
  * This module has no Spark jar and no product class on its classpath,
  * so every key, hash and sketch here is re-derived in closed form: the
  * compiler, not a comment, keeps the oracle independent of the engine
  * it checks. The few product constants the SQL embeds are restated
  * below; `OracleConstantsSpec` (root project, which sees both) pins
  * each copy to its product value.
  */
object OracleSql {

  /** FNV-1a offset basis, the primary hash seed (`Fnv.Basis1`). */
  val Basis1: Long = 0x811C9DC5L
  /** Second seed of the Carter-Wegman pair (`Fnv.Basis2`). */
  val Basis2: Long = 0x811C9DC5L ^ 0x5BD1E995L
  /** MinHash modulus (`Dedup.MinhashP`). */
  val MinhashP: Long = 1000000007L
  /** HLL estimate numerator α·m²·2^61·100 at m = 4096 (`Sketch.HllEstC`). */
  val HllEstC: BigInt = BigInt("2789659346160465465354889886")
  /** Smallest register sum whose quotient fits a BIGINT
    * (`Sketch.HllSPrimeSafeMin`). */
  val HllSPrimeSafeMin: BigInt = HllEstC / BigInt(Long.MaxValue) + 1

  /** FNV-1a 32-bit over the code points of SQL string `x`, in portable
    * DuckDB SQL: a left fold of the code-point list, 32-bit wrap via
    * `% 2^32`. */
  def fnvSql(x: String, seed: Long): String =
    s"list_reduce(list_prepend($seed::BIGINT, " +
      s"list_transform(range(1, length($x)+1), i -> unicode(substr($x, i, 1)))), " +
      "(h, c) -> (xor(h, c) * 16777619) % 4294967296)"

  /** DuckDB-equivalent SQL per query key; aliases match the Spark side
    * exactly (the driver sorts columns by name before hashing). */
  lazy val all: Map[String, String] = Map(
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
      (s"SELECT doc_id, ${fnvSql("text", Basis1)}" +
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
      val fnvG = fnvSql("g", Basis1)
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
         |        % ${MinhashP}))
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
      val fnvG = fnvSql("g", Basis1)
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
  ) ++ invariantFamilies

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
    val p = MinhashP
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
       |    ${fnvSql("t.sg", Basis1)} AS h1,
       |    ${fnvSql("t.sg", Basis2)} AS h2
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
       |    CASE WHEN ${fnvSql("word", Basis1)} % 8 = 0
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
       |  CASE WHEN s_prime < ${HllSPrimeSafeMin}
       |       THEN 9223372036854775807::BIGINT
       |       ELSE ('${HllEstC}'::HUGEINT
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

  // ---------------------------------------------------------------------
  // The twelve invariant-key media families. Each family's fingerprint
  // CTE chain below is its own closed-form replay of the fixtures; its
  // capped-pair and incremental-screen legs come from one template each.
  // This table is written apart from `graft.ops.MediaKeys` (which this
  // module cannot see): a family the engine adds needs its row here too,
  // and `MediaKeysSpec` fails until it has one.
  // ---------------------------------------------------------------------

  /** The family posture, stated once: 16-bit × 4 bands, buckets capped
    * at the 64 smallest ids, exact Hamming ≤ 6 confirms, 4 best
    * partners per id. */
  private final val BandBits = 16
  private final val NumBands = 4
  private final val BucketCap = 64
  private final val MaxHamming = 6
  private final val Partners = 4

  /** Screen split for fixtures that flag their copies: the batch is the
    * rows `rel` marks `is_batch = 1`. */
  private def flagged(rel: String): String =
    s"id IN (SELECT id FROM $rel WHERE is_batch = 1)"
  /** Screen split for fixtures whose copies are the odd ids. */
  private final val OddIds = "id % 2 = 1"

  /** The four gates of one family: `dedup_<stem>_invariant` (capped
    * pairs), `_keep` (min-label closure over those pairs), `_incremental`
    * (the batch screen, [[Partners]] best per batch id) and its
    * streaming twin `stream` (every confirmed hit — row_number windows
    * are illegal on streams).
    *
    * `fp` is the fingerprint CTE chain; it defines `sigRel`, whose
    * `hashCol` is the 64-bit signature. `groupSql` (over `sigRel`'s
    * columns) is the band group, `batch` the predicate that picks the
    * screen's batch rows (the corpus is the rest), and `valid` an
    * optional filter on the rows that enter the bands (the closure
    * still counts every `sigRel` row as a node). */
  private def invariantFamily(stem: String, stream: String, fp: String,
                              sigRel: String, hashCol: String,
                              groupSql: String, batch: String,
                              valid: Option[String] = None): Seq[(String, String)] = {
    val mask = (1 << BandBits) - 1
    val bands = (0 until NumBands).map(b =>
      s"    grp || ':$b:' || ((h >> ${b * BandBits}) & $mask)::VARCHAR")
      .mkString("unnest([\n", ",\n", "\n  ])")
    val ksig =
      s"""$fp,
         |ksig AS (SELECT id, $hashCol AS h, $groupSql AS grp
         |  FROM $sigRel${valid.fold("")(v => s" WHERE $v")})""".stripMargin
    // ends defining pairs(id_a, id_b, hamming)
    val pairs =
      s"""$ksig,
         |kb AS (SELECT id, $bands AS band_key FROM ksig),
         |buckets AS (SELECT band_key, list_sort(list(DISTINCT id))[1:$BucketCap] AS ids
         |  FROM kb GROUP BY band_key HAVING count(DISTINCT id) > 1),
         |cand AS (SELECT DISTINCT x.a AS id_a, y.b AS id_b
         |  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
         |  WHERE x.a < y.b),
         |conf AS (SELECT id_a, id_b,
         |    CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |  FROM cand JOIN ksig a ON id_a = a.id JOIN ksig b ON id_b = b.id
         |  WHERE bit_count(xor(a.h, b.h)) <= $MaxHamming),
         |pairs AS (SELECT id_a, id_b, hamming FROM (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY id_a ORDER BY hamming, id_b) AS rnk FROM conf)
         |  WHERE rnk <= $Partners)""".stripMargin
    // corpus buckets keep size-1 entries (a lone corpus asset can still
    // match a batch asset); ends defining conf(batch_id, corpus_id, hamming)
    val screen =
      s"""$ksig,
         |hc AS (SELECT * FROM ksig WHERE NOT ($batch)),
         |hbt AS (SELECT * FROM ksig WHERE $batch),
         |ci AS (SELECT id, $bands AS bk FROM hc),
         |cb AS (SELECT bk, list_sort(list(DISTINCT id))[1:$BucketCap] AS ids
         |  FROM ci GROUP BY bk),
         |bi AS (SELECT id AS batch_id, $bands AS bk FROM hbt),
         |cand AS (SELECT DISTINCT batch_id, u.cid AS corpus_id
         |  FROM bi JOIN cb USING (bk), unnest(ids) AS u(cid)),
         |conf AS (SELECT batch_id, corpus_id,
         |    CAST(bit_count(xor(b.h, c.h)) AS BIGINT) AS hamming
         |  FROM cand JOIN hbt b ON batch_id = b.id JOIN hc c ON corpus_id = c.id
         |  WHERE bit_count(xor(b.h, c.h)) <= $MaxHamming)""".stripMargin
    Seq(
      s"dedup_${stem}_invariant" ->
        s"""WITH $pairs
           |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
      s"dedup_${stem}_invariant_keep" ->
        s"""WITH RECURSIVE $pairs,
           |${minLabelClosureSql("pairs", sigRel)}""".stripMargin,
      s"dedup_${stem}_invariant_incremental" ->
        s"""WITH $screen
           |SELECT batch_id, corpus_id, hamming FROM (
           |  SELECT *, row_number()
           |    OVER (PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rnk
           |  FROM conf)
           |WHERE rnk <= $Partners""".stripMargin,
      stream ->
        s"""WITH $screen
           |SELECT batch_id, corpus_id, hamming FROM conf""".stripMargin)
  }

  /** One row per family. Every copy lands in its original's cluster at
    * Hamming 0 and the smaller (original) id is the representative, so
    * the keep gates drop copies and keep originals. */
  private def invariantFamilies: Seq[(String, String)] = Seq(
    // fixed 8×8 NN thumbs of NN-2× re-uploads (every 7th)
    invariantFamily("image_scale", "streaming_scale_invariant_dedup",
      thumbFpCte("event_id % 7 = 0"), "sah", "ahash", "'thumb'", flagged("imgs")),
    // thumbs of letterboxed, upscaled re-uploads (every 5th)
    invariantFamily("image_crop", "streaming_crop_invariant_dedup",
      thumbFpCte("event_id % 5 = 0"), "sah", "ahash", "'cbox'", flagged("imgs")),
    // canonical (least) thumb of both orientations, mirrored copies
    invariantFamily("image_mirror", "streaming_mirror_invariant_dedup",
      mirrorInvariantFpCte, "mah", "ahash", "'mthumb'", flagged("imgs")),
    // canonical thumb of all eight D4 orientations, rotated copies
    invariantFamily("image_rotation", "streaming_rotation_invariant_dedup",
      rotationInvariantFpCte, "rah", "ahash", "'rthumb'", flagged("rimgs")),
    // 64-slot NN energy sampling, strict delta-sign bits, ZOH-2× copies
    invariantFamily("audio_rate", "streaming_rate_invariant_dedup",
      rateInvariantFpCte("event_id % 7 = 0"), "rfp", "h", "'rate'", flagged("clips")),
    // the rate key over channel-summed energies (the L/R swap cancels
    // inside the sum); only the copy cadence differs: the stereo odd
    // events, every 4th
    invariantFamily("audio_channel_swap", "streaming_channel_swap_invariant_dedup",
      rateInvariantFpCte("event_id % 4 = 1"), "rfp", "h", "'rate'", flagged("clips")),
    // onset/span-anchored slot map; a clip with no energy (h = 0) bands
    // nothing
    invariantFamily("audio_trim", "streaming_trim_invariant_dedup",
      trimInvariantFpCte, "trfp", "h", "'trim'", flagged("tclips"),
      valid = Some("h <> 0")),
    // per-keyframe thumbs, 16-bit folds by keyframe order; dimensions
    // dropped from the group, the keyframe count kept
    invariantFamily("video_scale", "streaming_video_scale_invariant_dedup",
      videoSiCte, "vssig", "sig", "'vthumb:' || nk::VARCHAR", OddIds),
    // content-timeline slots (stride-free), one corpus-wide group
    invariantFamily("video_scale_time", "streaming_video_scale_time_invariant_dedup",
      videoStiCte, "stsig", "sig", "'vthumb_t'", OddIds),
    invariantFamily("video_crop", "streaming_video_crop_invariant_dedup",
      videoCiCte, "vssig", "sig", "'vcbox:' || nk::VARCHAR", OddIds),
    invariantFamily("video_mirror", "streaming_video_mirror_invariant_dedup",
      videoMiCte, "vmsig", "sig", "'vmthumb:' || nk::VARCHAR", OddIds),
    invariantFamily("video_rotation", "streaming_video_rotation_invariant_dedup",
      videoRotCte, "vrsig", "sig", "'vrthumb:' || nk::VARCHAR", OddIds),
  ).flatten

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

  /** Scale+stride-invariant video signature CTEs (mirrors
    * `Multimodal.videoScaleInvariantHashTimeAligned` over the
    * keyStride-varying `syntheticVideoMp4T` fixtures): originals at 2e
    * (kk = 1), NN-2×
    * re-muxed rescales of every 7th at 2e+1 (kk = 2, double-floor
    * thumb index map). Slot k of 4 samples frame `(k·nf) // 4` — the
    * dts-fraction rule with uniform frame durations cancelled, valid
    * for BOTH the stride-varying originals and the timing-normalized
    * copies — then the fixed 8×8 NN thumb, the `gray·64 > Σgray` rule,
    * per-slot 16-bit folds with the aligned key's SIGNED slot-3 pack
    * (bits 48-63 wrap the sign; DuckDB's << raises on signed overflow,
    * so the replay multiplies a sign-adjusted fold by 2^48 — exact in
    * HUGEINT, in-range by construction). One corpus-wide 'vthumb_t'
    * group. Ends defining `stsig(id, sig)`. */
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

  /** Rate-invariant audio fingerprint CTEs (mirrors
    * `Multimodal.audioRateInvariantHash` over the closed-form WAV
    * fixtures): originals at id 2e; a ZOH-2× upsampled
    * copy of every 7th at id 2e+1 (k = 2 rows read source frames
    * through the double-floor `((w·k·nf // 64) // k)` — the
    * floor-composition identity makes them collide with their
    * originals), per-slot channel-folded exact energies, strict
    * delta-sign bits (≤62, sign-safe). Ends defining `rfp(id, h)` and
    * `clips(id, …, is_batch)`. */
  private def rateInvariantFpCte(batchPred: String): String =
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

  /** Thumb-fingerprint CTEs of the scale and crop image families over
    * the closed-form BMP fixtures: originals at id 2e (k = 1), a copy
    * of every event matching `copyPred` at id 2e+1 (k = 2), fixed 8×8
    * NN thumbs, the shared integer aHash threshold rule (bit 63 as the
    * two's-complement constant). Ends defining `sah(id, ahash)` and
    * `imgs(id, …, is_batch)`.
    *  - Scale (`Multimodal.imageScaleInvariantHash`, every 7th): the
    *    copies are NN-2× re-uploads, so k = 2 rows read source pixels
    *    through the double-floor `((x·k·w // 8) // k)` — the
    *    floor-composition identity makes them collide with their
    *    originals; id spaces provably disjoint at any sweep scale.
    *  - Crop (`Multimodal.imageCropInvariantHash`, every FIFTH): the
    *    copies are letterboxed then NN-2×-upscaled. The contentBox trim
    *    provably recovers the exact original rectangle (no content row
    *    or column of the coprime-stride formulas is uniform —
    *    spec-proven), and the NN box thumb's offsets cancel under the
    *    trim+2×-upscale composition (⌊(2bx + ⌊x·2bw/8⌋)/2⌋ =
    *    bx + ⌊x·bw/8⌋), so the replay is the same double-floor over the
    *    ORIGINAL pixel formulas with NO border arithmetic at all. */
  private def thumbFpCte(copyPred: String): String =
    s"""imgs AS (
      |  SELECT event_id * 2 AS id, event_id AS e, 1 AS k, 0 AS is_batch,
      |    4 + event_id % 5 AS w, 3 + event_id % 4 AS h FROM events
      |  UNION ALL
      |  SELECT 2 * event_id + 1, event_id, 2, 1,
      |    4 + event_id % 5, 3 + event_id % 4
      |  FROM events WHERE $copyPred),
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

  /** Incremental image screen CTEs over the `ah` fingerprint CTE:
    * corpus = even id-blocks of 20, batch = odd blocks, corpus band
    * buckets capped at 64 smallest ids (size-1 buckets KEPT — a lone
    * corpus asset can still match a batch asset), exact Hamming ≤ 4.
    * Ends defining `conf(batch_id, corpus_id, hamming)` — the batch
    * gate caps at 4 best partners on top; the streaming twin takes
    * `conf` whole. */
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
       |  CASE WHEN s_prime < ${HllSPrimeSafeMin}
       |       THEN 9223372036854775807::BIGINT
       |       ELSE ('${HllEstC}'::HUGEINT
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
