package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Design-for-scale audits: filters and projections must reach the
  * parquet scan (pushdown/pruning), aggregates must be partial+final,
  * top-k must compile to TakeOrderedAndProject, and no declared query may
  * plan a cartesian product. */
class PlanAuditSpec extends SparkTestBase {

  /** Guard against VACUOUS negative assertions (ADVICE r14):
    * `spark.sql.maxPlanStringLength` (1 MB, session-global in
    * [[graft.Sessions]]) silently elides the tail of an over-long plan
    * string with a "... N more characters" marker — and every
    * `!plan.contains("Exchange")`-style check below would then pass on
    * the missing tail (several iterative-closure gates DO render past
    * 1 MB). Every plan string this suite asserts against must flow
    * through here: render under a raised cap (the conf is runtime-
    * settable; the 1 MB session default still guards AQE's
    * execution-time re-renders, which completed before this render),
    * then fail loud if even 64 MB truncated. */
  private def renderFully(qe: org.apache.spark.sql.execution.QueryExecution): String = {
    val key = "spark.sql.maxPlanStringLength"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (64 << 20).toString)
    val plan = try qe.executedPlan.toString finally spark.conf.set(key, prev)
    assert(!plan.contains("more characters") &&
      !plan.contains("Truncated plan of"),
      s"plan string truncated even at 64 MB (len=${plan.length}) — " +
        "negative contains-assertions would be vacuous")
    plan
  }

  private def executedPlan(name: String): String = {
    // shared construction (GateFrames): eager gates — streaming runs,
    // iterative closures — execute once per JVM across the spec suites
    val df = GateFrames(name, spark, sf)
    // run df's OWN QueryExecution (a noop write executes a separate one,
    // leaving this AdaptiveSparkPlanExec at its initial plan) so the
    // assertions read the FINAL adaptive plan
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ())
    renderFully(qe)
  }

  test("keyset scan pushes its predicate into the parquet scan (S1)") {
    val plan = executedPlan("s1_keyset_scan")
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("GreaterThan(l_orderkey,300"),
      s"predicate not pushed:\n$plan")
  }

  test("projection prunes the read schema to selected columns (P1)") {
    val plan = executedPlan("p1_projection")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q1 aggregate is partial+final (map-side combine before the shuffle)") {
    val plan = executedPlan("q1_agg")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"no partial aggregation:\n$plan")
  }

  test("sort+limit compiles to TakeOrderedAndProject (O1/O2)") {
    val plan = executedPlan("o1_sort_limit")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not optimized:\n$plan")
  }

  test("priority sample compiles to TakeOrderedAndProject (no corpus shuffle)") {
    val plan = executedPlan("sample_priority_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"min-k sample not a top-k:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"sample shuffles the corpus:\n$plan")
  }

  test("token-budget admission is one window over one source shuffle") {
    val plan = executedPlan("sample_token_budget")
    // exactly one data exchange: the window's hashpartitioning(source);
    // a second would mean the running sum re-shuffles what the window
    // already co-located. The AQE string repeats the plan under
    // "== Initial Plan ==" — count only the final section.
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(exchanges == 1, s"expected 1 window shuffle, got $exchanges:\n$plan")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      s"no window operator:\n$plan")
  }

  test("banded-Hamming all-pairs scans the hash frame ONCE (carry shape)") {
    // VERDICT r10 #6: the hash rides through the bucket explode as a
    // (doc_id, h) struct payload, so the corpus — a full decode at
    // 100 TB — is read once; the old join-back shape re-read it twice
    // (three FileScans + three decode subtrees in this very plan).
    val plan = executedPlan("dedup_image_pairs").split("== Initial Plan ==")(0)
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 scan of the hash frame, got $scans:\n$plan")
    val decodes = "MapPartitions".r.findAllIn(plan).size
    assert(decodes == 2, // synthetic-image gen + aHash decode, once each
      s"decode subtree duplicated ($decodes MapPartitions):\n$plan")
  }

  test("incremental image screen is equi-joins only (band key + corpus hash)") {
    val plan = executedPlan("dedup_image_incremental")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental screen must stay equi-join:\n$plan")
  }

  test("rate-invariant audio pairs keep the one-scan carry shape; the incremental screen stays equi-join") {
    // the audio leg of the scale-invariant family rides the SAME
    // banded-Hamming machinery — assert it inherits the r10 carry
    // shape (decode once) and the screen's equi-join-only contract
    val pairs = executedPlan("dedup_audio_rate_invariant").split("== Initial Plan ==")(0)
    val scans = "FileScan parquet".r.findAllIn(pairs).size
    assert(scans <= 2, // originals + the 7th-multiples side of the union
      s"expected <=2 scans of the signature frame, got $scans:\n$pairs")
    assert(!pairs.contains("CartesianProduct") &&
      !pairs.contains("BroadcastNestedLoopJoin"),
      s"rate-invariant pairs must stay equi-join:\n$pairs")
    val screen = executedPlan("dedup_audio_rate_invariant_incremental")
    assert(!screen.contains("CartesianProduct") &&
      !screen.contains("BroadcastNestedLoopJoin"),
      s"rate-invariant screen must stay equi-join:\n$screen")
  }

  test("span dedup frequency stage is partial-aggregated; join-back equi; islands reuse doc_id") {
    // audit the LAZY core (the public spanDedup checkpoints its output,
    // collapsing the visible plan to a LogicalRDD scan). VERDICT r10 #1:
    // the frequency stage must be a groupBy (map-side partial combine),
    // NOT a count-over-window on g — a window partition puts a hot
    // boilerplate gram's whole occurrence list on one task at 100×.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val core = graft.ops.Curation.spanDedupFromGrams(
      graft.ops.Curation.stride1Grams(docs, 10), 10)
    val qe = core.queryExecution
    qe.toRdd.foreach(_ => ())
    // count in the FINAL adaptive plan only — the AQE plan string
    // repeats the tree under "== Initial Plan ==" and would double it
    val plan = renderFully(qe).split("== Initial Plan ==")(0)
    assert(plan.contains("partial_count"),
      s"gram frequency not map-side partial (skew hazard):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span join-back must stay equi-join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // 3 data exchanges max: groupBy(g), join-back on g (elided when AQE
    // broadcasts the repeated-gram set), doc_id island window (the
    // island aggregation reuses the doc_id partitioning)
    assert(exchanges >= 2 && exchanges <= 3,
      s"expected 2-3 hash exchanges, got $exchanges:\n$plan")
  }

  test("span decontamination screens via a broadcast of the benchmark gram set") {
    val plan = executedPlan("text_decontaminate_spans")
    assert(plan.contains("BroadcastExchange"),
      s"benchmark gram set not broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"),
      s"corpus screen is not a broadcast semi-join:\n$plan")
  }

  test("no declared query plans a cartesian product") {
    // brute-force ANN intentionally broadcasts a tiny query set (a
    // BroadcastNestedLoopJoin over 10 rows); CartesianProduct — a
    // shuffled all-pairs product — must appear nowhere.
    for (name <- SparkEntry.queries.keys if !name.startsWith("transfer")) {
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
  }

  test("whole-stage codegen covers the hot paths") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), s"q1 not codegen'd:\n$codegen")
  }

  test("Fnv1a32 runs INSIDE generated code, not as a black-box UDF") {
    import org.apache.spark.sql.functions._
    val df = graft.sources.Tables(spark, sf, "documents")
      .select(graft.functions.Fnv.fnv32(col("text"), graft.functions.Fnv.Basis1).as("h"))
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("graft.functions.Fnv.hash32"),
      s"fnv not in generated code:\n${codegen.take(2000)}")
  }

  test("minhash signatures: partial min-agg before the doc_id shuffle, codegen'd fnv") {
    // The per-document min over shingle hashes is taken whole inside the
    // map-side signer, so none of it waits for a shuffle keyed by doc_id:
    // between the signer and its documents scan sits no hash exchange.
    val plan = executedPlan("dedup_minhash_lsh")
    val lines = plan.split("== Initial Plan ==").head.split("\n").toSeq
    val signer = lines.indexWhere(_.contains("graft_minhash"))
    assert(signer >= 0, s"signer missing from the plan:\n${plan.take(3000)}")
    val below = lines.drop(signer + 1)
    val toScan = below.take(below.indexWhere(_.contains("FileScan parquet")) + 1)
    assert(toScan.exists(_.contains("documents.parquet")),
      s"signer does not read the documents:\n${plan.take(3000)}")
    assert(!toScan.exists(_.contains("hashpartitioning")),
      s"a hash shuffle sits under the signer:\n${toScan.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"))
    // the FNV-1a shingle hashing runs in the kernel, called from generated code
    import org.apache.spark.sql.functions._
    val df = graft.sources.Tables(spark, sf, "documents")
      .select(graft.functions.MinHash.signatures(split(col("text"), " "), 12, 3).as("g"))
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("graft.functions.MinHash.sign("),
      s"signer not in generated code:\n${codegen.take(2000)}")
  }

  test("minhash signatures: one codegen'd signer over one documents scan, no doc_id aggregation") {
    val plan = executedPlan("dedup_minhash_lsh")
    assert(plan.contains("graft_minhash"), s"signer missing from the plan:\n${plan.take(3000)}")
    assert(!plan.contains("partial_min"),
      s"signatures must not aggregate per doc_id:\n${plan.take(3000)}")
    // the confirm's shingle sets come from the signer's words exchange
    // (reused), so the final plan reads the documents once
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(finalPlan).length
    assert(scans == 1 && finalPlan.contains("documents.parquet"),
      s"$scans file scans in the final plan:\n$finalPlan")
  }

  test("ANN cosine is the native codegen'd kernel, not a HOF lambda chain") {
    val plan = executedPlan("ann_cosine_topk")
    assert(plan.contains("graft_cosine"),
      s"native cosine expression missing from the plan:\n${plan.take(3000)}")
    // the kernel call must land in generated code (HOFs are CodegenFallback)
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val df = emb.select(graft.functions.VecMath.cosine(col("emb"), col("emb")).as("c"))
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("graft.functions.VecMath.cosineBoxed"),
      s"cosine not in generated code:\n${codegen.take(2000)}")
  }

  test("Lloyd training's plan grows linearly: every extra round adds the same number of jobs") {
    // a round that re-reads an unmaterialized previous round doubles the
    // plan, and the job count with it, on every iteration
    val emb = graft.sources.Tables(spark, sf, "embeddings")
    val sc = spark.sparkContext
    val jobs = (1 to 4).map { iters =>
      org.apache.spark.TestBus.drain(sc)
      val counter = graft.util.JobCounter.install(sc)
      try {
        graft.ops.Similarity.trainCentroids(emb, k = 8, iters = iters, scale = Some(6))
          .collect()
        org.apache.spark.TestBus.drain(sc)
        counter.count
      } finally sc.removeSparkListener(counter)
    }
    val steps = jobs.zip(jobs.tail).map { case (a, b) => b - a }
    assert(steps.distinct.size == 1, s"jobs for 1..4 rounds: ${jobs.mkString(" / ")}")
  }

  test("a closure whose pass-0 edges fit the broadcast bound finishes in 4 jobs") {
    // pass 0's checkpoint, the driver collect, the labels' broadcast and
    // the labelled output's checkpoint: the neighborhood exchanges and
    // the canonical distinct of the seeding never run
    import spark.implicits._
    val ids = (0L until 200L).toDF("doc_id").localCheckpoint(true)
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .localCheckpoint(true)
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    val counter = graft.util.JobCounter.install(sc)
    val jobs = try {
      val out = graft.ops.Dedup.propagateMinLabels(ids, pairs, maxIters = 15)
      org.apache.spark.TestBus.drain(sc)
      graft.ops.Dedup.releaseOwnCheckpoint(out)
      counter.count
    } finally sc.removeSparkListener(counter)
    assert(jobs == 4, s"closure of a 200-node path ran $jobs jobs")
  }

  test("EXISTS/NOT EXISTS subqueries decorrelate to semi + anti joins") {
    val plan = executedPlan("join_exists_subquery")
    assert(plan.contains("LeftSemi"), s"EXISTS did not become a semi join:\n${plan.take(2000)}")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n${plan.take(2000)}")
    assert(!plan.toLowerCase.contains("subquery"),
      "correlated subquery survived into the physical plan")
  }

  test("bucketed co-located join runs with ZERO exchanges (join + keyed agg)") {
    val plan = executedPlan("join_bucketed_colocated")
    assert(!plan.contains("Exchange"),
      s"bucketed join still shuffles:\n${plan.take(4000)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a non-broadcast join over the bucketed layout:\n${plan.take(2000)}")
  }

  test("native expressions are SQL-callable via GraftExtensions injection") {
    import org.apache.spark.sql.functions._
    graft.sources.Tables(spark, sf, "embeddings")
      .select(col("embedding").cast("array<double>").as("e"))
      .createOrReplaceTempView("ext_emb")
    val r = spark.sql(
      """SELECT round(graft_cosine(e, e), 6) AS c, graft_sqdist(e, e) AS d
        |FROM ext_emb LIMIT 5""".stripMargin).collect()
    r.foreach { row =>
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-9)
      assert(row.getDouble(1) == 0.0)
    }
    // -1 reaches the builder as UnaryMinus(Literal) and 2+1 as Add —
    // foldable-constant seeds must resolve, not just bare literals
    val h = spark.sql(
      """SELECT graft_fnv1a32('abc') AS h1, graft_fnv1a32('abc', 99) AS h2,
        |  graft_fnv1a32('abc', -1) AS h3, graft_fnv1a32('abc', 2+1) AS h4""".stripMargin)
      .collect()(0)
    assert(h.getLong(0) == graft.functions.Fnv.hash32("abc", graft.functions.Fnv.Basis1))
    assert(h.getLong(1) == graft.functions.Fnv.hash32("abc", 99L))
    assert(h.getLong(2) == graft.functions.Fnv.hash32("abc", -1L))
    assert(h.getLong(3) == graft.functions.Fnv.hash32("abc", 3L))
  }

  test("nested-field projection prunes the parquet read schema (struct pruning)") {
    import org.apache.spark.sql.functions._
    val work = tempDir("nestprune")
    graft.sources.Tables(spark, sf, "events").select(
      col("event_id"),
      struct(col("event_type").as("etype"),
        struct(col("user_id").as("uid")).as("who")).as("meta"),
      array(col("value")).as("vals"))
      .write.parquet(s"$work/n.parquet")
    val q = spark.read.parquet(s"$work/n.parquet")
      .select(col("event_id"), col("meta.who.uid").as("uid"))
    q.write.format("noop").mode("overwrite").save()
    val readSchema = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("uid") && !readSchema.contains("vals") &&
      !readSchema.contains("etype"),
      s"nested pruning failed — scan reads more than meta.who.uid: $readSchema")
  }

  test("contamination joins the corpus against a BROADCAST benchmark side") {
    val plan = executedPlan("text_contamination")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side not broadcast — corpus would shuffle:\n${plan.take(3000)}")
  }

  test("ngram jaccard candidates come from an equi-join on the shingle hash") {
    val plan = executedPlan("dedup_ngram_jaccard")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"jaccard fell back to a nested-loop join:\n${plan.take(3000)}")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      "shared-shingle count not map-side partial")
  }

  test("z-order stats join is a broadcast; interleave stays out of any shuffle") {
    val plan = executedPlan("layout_zorder")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"min/max stats frame not broadcast:\n${plan.take(3000)}")
    // one shuffle-free main side: the only Exchange allowed is the
    // broadcast of the single-row stats frame
    assert(!plan.contains("Exchange hashpartitioning"),
      s"z-value computation shuffles the collection:\n${plan.take(3000)}")
  }

  test("BPE pair stats: vocab and pair aggs are partial+final; top-k is TakeOrdered") {
    val plan = executedPlan("text_bpe_pairs")
    assert(plan.contains("partial_count"), "vocabulary agg not map-side partial")
    assert(plan.contains("partial_sum"), "pair agg not map-side partial")
    assert(plan.contains("TakeOrderedAndProject"),
      s"deterministic top-k did not compile to TakeOrdered:\n${plan.take(3000)}")
  }

  test("LM scorers: dot kernel SQL-callable; bigram expansion is narrow (no window exchange)") {
    // graft_dot joins the injected-function family
    val r = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0)
    assert(r.getDouble(0) == 11.0)
    // bigram expansion must come from the doc's own array — a window/lag
    // formulation would add a per-doc sort exchange before any agg
    val plan = executedPlan("text_bigram_logprob")
    assert(!plan.contains("Window"),
      s"bigram expansion uses a window (extra sort/shuffle):\n${plan.take(3000)}")
  }

  test("jdbc roundtrip reads back through a range-partitioned JDBCRelation scan") {
    val df = SparkEntry.queries("transfer_jdbc_roundtrip")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("JDBCRelation") && plan.contains("numPartitions="),
      s"read-back is not a partitioned JDBC scan:\n$plan")
  }

  test("HLL registers: partial max before the one (shard,bucket) shuffle, codegen'd") {
    // the whole point of the sketch: fold per-partition, shuffle KBs.
    // partial_max is the per-partition register fold; a plan that
    // shuffles raw (bucket, rank) rows would move the corpus instead
    val plan = executedPlan("agg_hll_registers")
    assert(plan.contains("partial_max"), s"no map-side register fold:\n$plan")
    // AQE plan strings repeat the tree under "== Initial Plan ==" —
    // count exchanges in the final section only
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).size == 1,
      s"register build should shuffle exactly once:\n$finalPlan")
  }

  test("Bloom screen probes via a BROADCAST of the filter, never a shuffle of it") {
    val plan = executedPlan("dedup_bloom_screen")
    assert(plan.contains("BroadcastHashJoin"),
      s"filter side not broadcast:\n${plan.take(3000)}")
    // probe rows themselves shuffle only for the final per-probe count
    assert(!plan.contains("SortMergeJoin"),
      s"probe join degraded to sort-merge (filter side shuffled):\n${plan.take(3000)}")
  }

  test("CMS sketch side of the heavy-hitter check is broadcast; aggs are partial+final") {
    val plan = executedPlan("text_cms_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"),
      s"cell table not broadcast:\n${plan.take(3000)}")
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      s"no partial aggregation in the sketch build:\n${plan.take(3000)}")
  }

  test("DSIR selection: broadcast ratio table, TakeOrdered threshold, no global sort") {
    val plan = executedPlan("text_dsir_select")
    // the bucket-ratio model joins map-side (256 rows broadcast), the
    // k-th-entry threshold compiles to TakeOrderedAndProject, and the
    // verdict is a scalar broadcast — a single-partition global Sort
    // anywhere would be the 100 TB failure mode
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"ratio table / threshold not broadcast:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"k-th-entry selection not a top-k:\n${plan.take(3000)}")
    assert(!plan.contains("Sort [lw"),
      s"global sort on the score column:\n${plan.take(3000)}")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"bucket/model aggs not partial+final:\n${plan.take(3000)}")
  }

  test("streaming DSIR scorer is map-only: no exchange, no join, no state") {
    // audit the BATCH equivalent of the per-micro-batch plan (the
    // streaming sink table is already materialized by GateFrames): the
    // scorer folds each row's grams through a LITERAL map — any
    // Exchange or Join in this plan means the artifact stopped being
    // a broadcast-shaped literal
    val docs = graft.sources.Tables(spark, sf, "documents")
      .where(org.apache.spark.sql.functions.col("doc_id") % 2 === 1)
    val ratios = graft.ops.TextAnalysis.dsirBucketRatios(
        graft.sources.Tables(spark, sf, "documents")
          .where(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
        org.apache.spark.sql.functions.col("source").isin("src0", "src1"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1)))
    val qe = graft.ops.TextAnalysis.dsirScoreWith(docs, ratios).queryExecution
    qe.toRdd.foreach(_ => ())
    val plan = renderFully(qe)
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"map-only scorer plans a shuffle or join:\n${plan.take(3000)}")
  }
}
