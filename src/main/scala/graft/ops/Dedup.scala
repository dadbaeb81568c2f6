package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents(doc_id, text, ...)` — the
  * LLM-training-pipeline extensions (north star in SURVEY §0(b); nothing
  * analogous exists in the reference, whose only dedup is keyed upsert).
  *
  * Every construction here is deterministic and reproducible in portable
  * SQL (md5 + string/array ops), so the DuckDB oracle can run the SAME
  * pipeline and the t2 gate hash-compares full result sets — no "trust
  * me" randomized sketches.
  *
  * 100 TB posture: everything is shuffle-on-key; candidate generation is
  * banded LSH (join on band key), NEVER an all-pairs cartesian. The only
  * per-doc state is a bounded shingle set / signature.
  */
object Dedup {

  import graft.functions.Portable.fx


  /** (doc_id, shingle set) with the words array MATERIALIZED behind a
    * repartition boundary. Two reasons, both measured: (a) an inline
    * `split()` inside the transform lambda is re-evaluated per element
    * (CollapseProject inlines projections — O(len²) work per doc);
    * (b) small single-file tables arrive as one input split, so the
    * CPU-heavy shingling would run in a single task. The exchange fixes
    * both: split computes once per row, and downstream work spreads
    * across the cluster. */
  private[graft] def shingleSets(docs: DataFrame, n: Int): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val cnt = size(col("w")) - (n - 1)
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .repartition(parts)
      .select(col("doc_id"),
        when(cnt > lit(0),
          array_distinct(transform(sequence(lit(0), cnt - 1),
            i => concat_ws(" ", (0 until n).map(j => element_at(col("w"), i + j + 1)): _*))))
          .otherwise(array().cast("array<string>")).as("sh"))
  }

  /** Exact dedup: group by content hash, keep the smallest doc_id as the
    * canonical representative (hash-groupBy — one shuffle on md5(text),
    * the design that holds at any scale). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Carter-Wegman hash family base: two independent FNV-1a 32-bit
    * hashes of the shingle (native codegen'd `Fnv1a32` expression —
    * replaced md5+hex-conv, the engine's hottest inner loop);
    * h_j = (h1 + j·h2) mod P. 32-bit values keep j·h2 inside BIGINT
    * for any j, portable to plain SQL. */
  private[graft] val MinhashP = 1000000007L

  /** The LSH index rows `(doc_id, bk)` — one band key per (doc, band).
    * Factored out so [[minhashLsh]] (all-pairs within one corpus) and
    * [[incrementalNearDups]] (new batch vs existing corpus) share one
    * signature pipeline; a production flow persists this frame as the
    * corpus index and re-reads it per batch.
    *
    * Signature side: explode a cheap INTEGER sequence and build each
    * shingle string once per output row. Building the shingle ARRAY
    * and exploding it re-evaluates the whole array construction in the
    * Filter and again inside Generate (CollapseProject inlining) —
    * measured 14× slower at sf0.1. Duplicate shingles are kept: the
    * min-aggregation over a multiset equals the min over its set, so
    * signatures are unchanged and the oracle stays as-is. */
  private[graft] def bandedKeys(docs: DataFrame, numHashes: Int, bands: Int,
                                shingleLen: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val cnt = size(col("w")) - (shingleLen - 1)
    val shingled = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .repartition(parts) // materialize w; spread single-split sources
      .where(cnt > 0)
      .select(col("doc_id"), col("w"), explode(sequence(lit(0), cnt - 1)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until shingleLen).map(j => element_at(col("w"), col("i") + j + 1)): _*).as("s"))
    val hashed = shingled.select(col("doc_id"),
      graft.functions.Fnv.fnv32(col("s"), graft.functions.Fnv.Basis1).as("h1"),
      graft.functions.Fnv.fnv32(col("s"), graft.functions.Fnv.Basis2).as("h2"))
    val sigAggs = (0 until numHashes).map { j =>
      min(pmod(col("h1") + lit(j.toLong) * col("h2"), lit(MinhashP))).as(s"g$j")
    }
    val sig = hashed.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val bandKeys = (0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until r).map(i => col(s"g${b * r + i}").cast("string")) :+ lit(b.toString): _*))
    }
    sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
  }

  /** Aggregation-free band rows for STREAMING inputs: the same 12
    * minhashes and 4 band keys as [[bandedKeys]], but each signature is
    * an `array_min` over the row's own shingle multiset instead of a
    * `groupBy(doc_id)` min — a streaming frame can band its rows in
    * append mode (a streaming aggregation could not feed a join).
    * Returns one row per (doc, band): `(doc_id, sh, bk)` where `sh` is
    * the DISTINCT shingle set carried for the exact-Jaccard confirm.
    *
    * CollapseProject discipline (the batch pipeline's measured 14×
    * hazard, here with three expensive stages): the first repartition
    * materializes `w` so the shingle lambda references an attribute;
    * the shingle set and the hash-pair array are each bound as LAMBDA
    * VARIABLES (`transform(array(expr), v -> …)` — a lambda argument
    * evaluates once however often the body references it), so
    * shingles→hash-pairs→signatures is single-evaluation end to end
    * without extra shuffles; the second repartition materializes the
    * (sh, g) struct before the 4 band keys reference `g` 12 times. */
  private[graft] def narrowBandRows(docs: DataFrame, numHashes: Int = 12,
                                    bands: Int = 4,
                                    shingleLen: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val cnt = size(col("w")) - (shingleLen - 1)
    val shExpr = array_distinct(
      transform(sequence(lit(0), cnt - 1),
        i => concat_ws(" ",
          (0 until shingleLen).map(j => element_at(col("w"), i + j + 1)): _*)))
    def hpExpr(sh: Column): Column = transform(sh, s => struct(
      graft.functions.Fnv.fnv32(s, graft.functions.Fnv.Basis1).as("h1"),
      graft.functions.Fnv.fnv32(s, graft.functions.Fnv.Basis2).as("h2")))
    // g = the 12 signatures, with the hash-pair array lambda-bound so
    // it evaluates once per row, not once per signature
    def sigsExpr(sh: Column): Column = element_at(
      transform(array(hpExpr(sh)), hp =>
        transform(sequence(lit(0), lit(numHashes - 1)),
          j => array_min(transform(hp,
            h => pmod(h.getField("h1") + j.cast("long") * h.getField("h2"),
              lit(MinhashP)))))), 1)
    val sigs = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .repartition(parts)
      .where(cnt > 0)
      .select(col("doc_id"), element_at(
        transform(array(shExpr), sh =>
          struct(sh.as("sh"), sigsExpr(sh).as("g"))), 1).as("t"))
      .repartition(parts)
      .select(col("doc_id"), col("t.sh").as("sh"), col("t.g").as("g"))
    val bandKeys = (0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until r).map(i => element_at(col("g"), b * r + i + 1).cast("string"))
          :+ lit(b.toString): _*))
    }
    sigs.select(col("doc_id"), col("sh"),
      explode(array(bandKeys: _*)).as("bk"))
  }

  /** Gated recall of the banded-minhash SCREEN against the exhaustive
    * exact-Jaccard pair set — the text-dedup sibling of
    * `Similarity.annRecall` (round 11): "more bands → more recall" as
    * an INTEGER the driver hash-checks every round, instead of the
    * S-curve argument in a comment. For each `bands` setting (rows =
    * numHashes/bands shrink as bands grow, so the per-band match
    * probability `s^rows` rises) × each Jaccard threshold (integer
    * per-cent, VERDICT r11 #7: production tuning needs recall at the
    * threshold the corpus will be screened at, not one point), how
    * many of the exhaustive op's threshold-passing pairs
    * ([[graft.ops.Curation.ngramJaccardPairs]] — the df-capped
    * precision tool, the same truth set `dedup_jaccard_screened`
    * confirms against) the capped band buckets surface as candidates.
    * One row per cell: `(method, bands, threshold_pct, n_truth,
    * hits)` — all integers, portable by construction; the oracle
    * recomputes both sides from scratch.
    *
    * Measured (hits/n_truth). The sf0.01 documents corpus is
    * threshold-FLAT — its exhaustive truth pairs all sit at
    * Jaccard ≥ 0.7 (25 pairs at every threshold, 24-25 recalled at
    * every band setting) — so the spec adds a GRADED corpus (six
    * pairs each at j ≈ 0.30/0.50/0.71, pair-private vocabularies)
    * where the sweep separates:
    *
    *   bands (of 12 hashes):   2     3     4     6
    *   t=0.30 (18 pairs):    2/18  6/18  7/18 15/18
    *   t=0.50 (12 pairs):    2/12  6/12  6/12 12/12
    *   t=0.70 ( 6 pairs):     2/6   5/6   5/6   6/6
    *
    * The production guidance these integers pin: replicated corpora
    * (high-Jaccard dups, the common case) are caught even at few
    * bands once bands ≥ 3; a 0.3-threshold screen MUST raise the
    * band count (2 bands recall 11%, 6 bands 83% of its truth set)
    * or it silently misses most of what it claims to screen.
    *
    * Scale shape: the truth side is the exhaustive op (its own
    * refusal-bounded cost) built ONCE — the scored frame is
    * checkpointed and each threshold applies only the cheap
    * filter+cap tail; each band screen is the linear-ish signature
    * pipeline + capped bucket expansion, also built once and reused
    * across thresholds; the hit joins are pair-set-sized. A
    * production recall estimate runs this on a SAMPLE — the operator
    * shape is identical. */
  def lshRecall(docs: DataFrame, bandsList: Seq[Int] = Seq(2, 3, 4, 6),
                numHashes: Int = 12, shingleLen: Int = 3,
                bucketCap: Int = 256,
                thresholdsPct: Seq[Int] = Seq(50)): DataFrame = {
    val scored = graft.ops.Curation.ngramJaccardScored(docs)
      .localCheckpoint(true)
    val cands = bandsList.map { b =>
      b -> lshCandidatePairs(docs, numHashes, b, shingleLen, bucketCap,
        s"lsh_recall_b${b}_buckets")
        .select("doc_a", "doc_b").localCheckpoint(true)
    }
    val totals = thresholdsPct.map { t =>
      graft.ops.Curation.ngramJaccardPairsAt(scored, t / 100.0)
        .agg(count(lit(1)).as("n_truth"))
        .select(lit(t.toLong).as("threshold_pct"), col("n_truth"))
    }.reduce(_ unionByName _)
    val cells = (for (t <- thresholdsPct; (b, cand) <- cands) yield {
      graft.ops.Curation.ngramJaccardPairsAt(scored, t / 100.0)
        .select("doc_a", "doc_b")
        .join(cand, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(t.toLong).as("threshold_pct"),
          lit(b.toLong).as("bands"), col("hits"))
    }).reduce(_ unionByName _)
    val out = cells.join(totals, "threshold_pct")
      .select(lit("minhash_lsh").as("method"), col("bands"),
        col("threshold_pct"), col("n_truth"), col("hits"))
      .localCheckpoint(true) // few rows; lets the pinned frames release
    releaseOwnCheckpoint(scored)
    cands.foreach { case (_, c) => releaseOwnCheckpoint(c) }
    out
  }

  /** MinHash + banded LSH near-dup pairs with an exact n-gram Jaccard
    * confirmation on the candidates.
    *
    * shingle → k minhashes (Carter-Wegman over the shingle md5, min over
    * ints) → b bands of r rows; docs sharing a band key become
    * candidates (equi-join on the band key = the bucket-join; with
    * k=12, b=4, r=3 a 0.9-Jaccard pair is missed with probability
    * (1-0.9³)⁴ ≈ 5e-3, a 0.98 pair with ≈ 1.3e-5) → exact Jaccard on
    * candidate pairs only, threshold filter kills LSH false positives.
    *
    * Shape at scale: explode shingles → per-shingle hash ONCE → map-side
    * partial min-agg, one shuffle on doc_id → band explode → shuffle
    * equi-join on band key. No cartesian anywhere.
    */
  def minhashLsh(docs: DataFrame, numHashes: Int = 12, bands: Int = 4,
                 shingleLen: Int = 3, threshold: Double = 0.5,
                 bucketCap: Int = 256): DataFrame = {
    val cand = lshCandidatePairs(docs, numHashes, bands, shingleLen,
      bucketCap, "minhash_lsh_buckets")

    // Exact-Jaccard confirm needs DISTINCT shingle sets — but only for
    // docs that actually appear in a candidate pair (a small fraction of
    // the corpus): semi-join down first, then build the sets.
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val shc = shingleSets(docs.join(candIds, Seq("doc_id"), "left_semi"), shingleLen)
    val sa = shc.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val sb = shc.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard", fx(
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Capped-bucket LSH candidate pairs `(doc_a < doc_b)` — the SCREEN
    * stage shared by [[minhashLsh]] and the band-screened exact-pair
    * confirms in [[Curation]].
    *
    * Candidate pairs via group-by-band + in-bucket pair expansion: the
    * same candidate set as a band-key self-join, but the (md5+agg-heavy)
    * signature pipeline runs ONCE instead of once per join side.
    *
    * Degenerate bands (boilerplate-heavy corpora collapse thousands of
    * docs onto one band key) are CAPPED: each bucket keeps its
    * `bucketCap` smallest doc_ids, so a pathological bucket expands to
    * at most cap² pairs in one task instead of an unbounded O(n²)
    * blow-up (VERDICT r2 #1). Deterministic (sorted ids, smallest kept)
    * and mirrored verbatim in the oracle SQL. Docs cut from an
    * oversized bucket still pair via their other `bands-1` band keys;
    * truly identical docs are exact-dedup's job, not LSH's. The drop
    * count rides the write as an observable metric. */
  private[ops] def lshCandidatePairs(docs: DataFrame, numHashes: Int,
                                     bands: Int, shingleLen: Int,
                                     bucketCap: Int, tag: String): DataFrame =
    bandedKeys(docs, numHashes, bands, shingleLen).groupBy("bk")
      .agg(sort_array(collect_set(col("doc_id"))).as("all_ids"))
      .where(size(col("all_ids")) > 1)
      .select(slice(col("all_ids"), 1, bucketCap).as("ids"),
        greatest(size(col("all_ids")) - bucketCap, lit(0)).as("dropped"))
      .observe(tag + "_" + java.util.UUID.randomUUID().toString.replace("-", ""),
        sum(col("dropped")).as("ids_over_cap"))
      .select(explode(expr(
        "filter(flatten(transform(ids, a -> transform(ids, b -> " +
          "struct(a AS doc_a, b AS doc_b)))), p -> p.doc_a < p.doc_b)")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()

  /** The capped corpus-side band buckets of [[incrementalNearDups]]
    * (sorted ids, smallest `bucketCap` kept). `observed = false` for
    * use as the STATIC side of a streaming query, where a batch-side
    * `observe` is not reportable. */
  private[graft] def cappedBuckets(corpus: DataFrame, numHashes: Int,
                                   bands: Int, shingleLen: Int,
                                   bucketCap: Int,
                                   observed: Boolean): DataFrame =
    cappedBucketsFromIndex(bandedKeys(corpus, numHashes, bands, shingleLen),
      bucketCap, observed)

  /** [[cappedBuckets]] over an ALREADY-MATERIALIZED index frame
    * `(doc_id, bk)` — the production read path: the standing corpus
    * index is loaded from storage instead of re-deriving every corpus
    * signature per batch. Shared by every banded-bucket consumer (LSH,
    * incremental, image aHash) so the cap/sort/drop-count contract has
    * ONE implementation.
    *
    * `idExpr` lets a caller collect a STRUCT whose FIRST field is
    * doc_id (e.g. `struct(doc_id, hash)`, the carry shape of
    * [[graft.ops.Multimodal]]'s all-pairs path — VERDICT r10 #6):
    * struct arrays sort lexicographically field-by-field, so with
    * doc_id leading and any payload a pure function of doc_id, the
    * "smallest `bucketCap` ids kept" contract is unchanged. */
  private[graft] def cappedBucketsFromIndex(index: DataFrame, bucketCap: Int,
                                            observed: Boolean,
                                            metricPrefix: String =
                                              "incr_lsh_buckets_",
                                            idExpr: Column = col("doc_id"))
      : DataFrame = {
    val b = index
      .groupBy("bk")
      .agg(sort_array(collect_set(idExpr)).as("all_ids"))
      .select(col("bk"), slice(col("all_ids"), 1, bucketCap).as("ids"),
        greatest(size(col("all_ids")) - bucketCap, lit(0)).as("dropped"))
    if (observed)
      b.observe(metricPrefix +
          java.util.UUID.randomUUID().toString.replace("-", ""),
        sum(col("dropped")).as("ids_over_cap"))
    else b
  }

  /** Incremental near-dup screening of a NEW batch against an EXISTING
    * corpus — the steady-state production shape at 100 TB: the daily
    * delta is checked against the standing corpus index instead of
    * re-running all-pairs dedup over corpus+delta (which re-pays the
    * full-corpus signature and pair cost every day for an unchanged
    * prefix). Only batch↔corpus pairs are produced; batch-internal and
    * corpus-internal duplicates are deliberately out of scope (the
    * former is a [[minhashLsh]] pass over the small batch, the latter
    * was settled when the corpus was admitted).
    *
    * Shape: the corpus side of the band join is bucketed and CAPPED
    * exactly like the LSH path (sorted ids, smallest `bucketCap` kept,
    * drop count observable) — a boilerplate band key shared by the
    * whole corpus must not fan every batch doc out against millions of
    * ids. Candidates equi-join on the band key; exact Jaccard over the
    * two sides' shingle sets confirms. The corpus band index
    * ([[bandedKeys]]) is the persistable artifact: write it once, read
    * it per batch — batch cost is then proportional to the BATCH, not
    * the corpus. */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame,
                          numHashes: Int = 12, bands: Int = 4,
                          shingleLen: Int = 3, threshold: Double = 0.5,
                          bucketCap: Int = 256): DataFrame =
    incrementalNearDupsWithIndex(
      bandedKeys(corpus, numHashes, bands, shingleLen), corpus, batch,
      numHashes, bands, shingleLen, threshold, bucketCap)

  /** [[incrementalNearDups]] screening against a PERSISTED index frame
    * `(doc_id, bk)` instead of re-deriving the corpus signatures — the
    * true steady-state read path (the index is written once by
    * [[bandedKeys]], maintained by [[indexAppend]]/[[indexCompact]],
    * and re-read per batch). `corpus` is still needed for the exact-
    * Jaccard confirm's shingle sets, but only candidate docs are read
    * from it (semi-join down first). */
  def incrementalNearDupsWithIndex(index: DataFrame, corpus: DataFrame,
                                   batch: DataFrame,
                                   numHashes: Int = 12, bands: Int = 4,
                                   shingleLen: Int = 3,
                                   threshold: Double = 0.5,
                                   bucketCap: Int = 256): DataFrame = {
    val cBuckets = cappedBucketsFromIndex(index, bucketCap, observed = true)
    val cand = bandedKeys(batch, numHashes, bands, shingleLen)
      .join(cBuckets, "bk")
      .select(col("doc_id").as("batch_id"), explode(col("ids")).as("corpus_id"))
      .distinct()
    // confirm only the docs that appear in candidates (semi-join down
    // before the shingle-set build, same as the LSH confirm stage)
    val shB = shingleSets(batch.join(
        cand.select(col("batch_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"), shingleLen)
      .select(col("doc_id").as("batch_id"), col("sh").as("shb"))
    val shC = shingleSets(corpus.join(
        cand.select(col("corpus_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"), shingleLen)
      .select(col("doc_id").as("corpus_id"), col("sh").as("shc"))
    cand.join(shB, "batch_id").join(shC, "corpus_id")
      .withColumn("jaccard", fx(
        size(array_intersect(col("shb"), col("shc"))).cast("double") /
          size(array_union(col("shb"), col("shc"))).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /** Index MAINTENANCE, append side (VERDICT r6 #4): after a batch is
    * screened and its non-duplicate docs admitted, their band keys must
    * join the standing index so tomorrow's screen sees today's
    * admissions. Band keys are a pure per-doc function of the text, so
    * appending freshly-derived keys is EXACTLY what a from-scratch
    * rebuild over corpus∪admitted would produce — the lifecycle gate
    * proves that equality. Cost: signatures for the BATCH only, plus
    * an append write. */
  def indexAppend(index: DataFrame, admitted: DataFrame,
                  numHashes: Int = 12, bands: Int = 4,
                  shingleLen: Int = 3): DataFrame =
    index.unionByName(bandedKeys(admitted, numHashes, bands, shingleLen))

  /** Index MAINTENANCE, compact side: removes dropped docs' rows (a
    * retention pass, a takedown, a dedup decision reversed) so screens
    * stop matching against ghosts. One anti-join on doc_id; at scale
    * this runs as a periodic rewrite of the index files. */
  def indexCompact(index: DataFrame, removedIds: DataFrame): DataFrame =
    index.join(removedIds.select("doc_id"), Seq("doc_id"), "left_anti")

  /** The dedup RESULT: documents surviving near-dedup. Greedy keep rule:
    * a doc is dropped iff it appears as the larger id of a confirmed
    * near-dup pair — deterministic, one anti-join, and every dropped doc
    * has a kept (or transitively kept) near-duplicate with a smaller id. */
  def nearDedupKeep(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val drops = minhashLsh(docs, threshold = threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(drops, Seq("doc_id"), "left_anti").select("doc_id")
  }

  /** Transitive near-dup CLUSTERS: connected components over the LSH
    * pair graph, every doc labeled with the SMALLEST doc_id reachable
    * through confirmed near-dup pairs (singletons label themselves).
    * This is the production dedup rule — keep one representative per
    * duplicate cluster — and strictly subsumes the greedy pairwise rule
    * in [[nearDedupKeep]] for chains A~B~C where the A~C pair was
    * band-missed. The closure is [[propagateMinLabels]], the one
    * connected-components core that text and media clusters share. */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.5,
                      maxIters: Int = 15): DataFrame =
    propagateMinLabels(docs.select("doc_id"),
      minhashLsh(docs, threshold = threshold).select("doc_a", "doc_b"), maxIters)

  /** Cluster-size histogram over [[nearDupClusters]] — the corpus-
    * health report a dedup pass ends with: how much of the corpus sits
    * in duplicate clusters, and how large they run (a fat tail means
    * boilerplate or mirror domains; mass at size 1 means the corpus is
    * already clean). Two hash aggregations over the cluster labels;
    * output is at most |distinct sizes| rows. */
  def clusterSizeHistogram(docs: DataFrame,
                           threshold: Double = 0.5): DataFrame =
    nearDupClusters(docs, threshold)
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** The ONE connected-components core, shared by text
    * ([[nearDupClusters]]) and media (`Multimodal.mediaNearDupClusters`)
    * clusters. Labels every id of `ids` (one id column) with the
    * smallest id reachable through the undirected `pairs` (two id
    * columns); an id with no edge labels itself. Returns
    * `(doc_id, cluster)` as a self-contained local checkpoint the
    * caller owns. (The name predates the star core; the benchmark
    * harness calls it by this name.)
    *
    * 1. Seeding: [[contractEdges]]' union-find passes rewrite the pairs
    *    as a near-star forest with the same components; its canonical
    *    edge set (a < b, deduped, self-loops dropped) is checkpointed.
    * 2. Driver finish: the checkpoint's observed probe carries the
    *    residual edge count. Once 16 bytes × count fits
    *    `spark.sql.autoBroadcastJoinThreshold` — the conf that already
    *    bounds what a broadcast may carry; -1 disables the finish — the
    *    residual edges are collected, [[ufStarEdges]] labels them on the
    *    driver and the labels go back by broadcast join. Near-dup graphs
    *    of a few thousand edges finish here, right after the seeding.
    * 3. Above that size, ALTERNATING STAR CONTRACTION rounds (Kiveris
    *    et al. 2014, "Connected Components in MapReduce and Beyond"):
    *    large-star points every node's strictly-larger neighbors at its
    *    neighborhood minimum, small-star points the node and its smaller
    *    neighbors at that minimum. Components halve per round pair, so
    *    any topology converges in O(log² n) rounds; every round re-checks
    *    the driver finish (the residual only shrinks). At the edge
    *    fixpoint every component is a star rooted at its minimum, and a
    *    node's label is `min(self, neighbors)`.
    *
    * Every round is one fused large-star + small-star plan whose edge
    * frame is localCheckpointed (the rewrite embeds the previous plan
    * several times — truncation keeps the plan bounded), and the
    * superseded round's blocks are released explicitly. Convergence
    * probe: (count, Σa, Σb, Σ of a 60-bit md5 per edge) of the
    * canonical edge set, observed on the checkpoint itself — a
    * deterministic rewrite with an unchanged probe is the fixpoint.
    * Labels are partition-independent (spec-tested against an
    * independent union-find under several shuffle layouts). A closure
    * still unconverged after `maxIters` rounds throws
    * `IllegalStateException`: its labels would not be the closure. */
  private[graft] def propagateMinLabels(ids: DataFrame, pairs: DataFrame,
                                        maxIters: Int): DataFrame = {
    val ss = pairs.sparkSession
    import ss.implicits._
    def adj(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
    def canonical(e: DataFrame): DataFrame =
      e.select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .where(col("a") =!= col("b"))
        .distinct()

    // Edge sets carry no monotonicity argument, so the probe must make
    // collisions between DIFFERENT edge sets negligible: on top of
    // (count, Σa, Σb) it sums a 60-bit md5-derived integer per canonical
    // edge, as DECIMAL so billion-id sums stay exact.
    val probeDec = org.apache.spark.sql.types.DecimalType(38, 0)
    val probeExprs: Seq[Column] = {
      val edgeHash = conv(substring(
        md5(concat_ws(":", col("a"), col("b"))), 1, 15), 16, 10).cast(probeDec)
      Seq(count(lit(1)).as("cnt"), sum(col("a").cast(probeDec)).as("sa"),
        sum(col("b").cast(probeDec)).as("sb"), sum(edgeHash).as("sh"))
    }
    // The probe rides the checkpoint as observed metrics: `Observation`
    // fires when localCheckpoint(true) materializes the frame, so it
    // costs no extra job. If the metrics ever fail to post, fall back
    // LOUDLY to the aggregation job rather than hang on Observation.get.
    def checkpointed(e: DataFrame): (DataFrame, (Long, BigDecimal, BigDecimal, BigDecimal)) = {
      val obs = org.apache.spark.sql.Observation(
        "graft-contract-" + java.util.UUID.randomUUID().toString)
      val c = e.observe(obs, probeExprs.head, probeExprs.tail: _*)
        .localCheckpoint(true)
      val m = try observationGet(obs) catch { case scala.util.control.NonFatal(e2) =>
        System.err.println("[dedup] WARNING: checkpoint-observed probe " +
          s"unavailable (${e2.getMessage}); falling back to an aggregation job")
        c.agg(probeExprs.head, probeExprs.tail: _*).head
          .getValuesMap[Any](Seq("cnt", "sa", "sb", "sh"))
      }
      def d(k: String): BigDecimal = m(k) match {
        case null => BigDecimal(0)
        case v: java.math.BigDecimal => BigDecimal(v)
        case v => BigDecimal(v.toString)
      }
      (c, (m("cnt").asInstanceOf[Long], d("sa"), d("sb"), d("sh")))
    }
    // m(u) = min(Γ(u) ∪ {u}) as a WINDOW over the adjacency rows: one
    // exchange + an in-partition sort per star, where groupBy-min +
    // join-back cost two. Either shape routes a star root's whole
    // neighborhood to one reducer task.
    def withM(a: DataFrame): DataFrame =
      a.withColumn("m", least(col("u"), min(col("v")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("u")))))
    // one fused round. LARGE-STAR: (v, m(u)) for every strictly-larger
    // neighbor v of u, not deduped (min over a multiset equals min over
    // its set, and canonical() dedups the round's final edge set).
    // SMALL-STAR: (v, m(u)) for every ≤ neighbor v ≠ m, plus (u, m).
    def starRound(e: DataFrame): DataFrame = {
      val large = withM(adj(e)).where(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .where(col("a") =!= col("b"))
      val s2 = withM(adj(large))
      canonical(s2.where(col("v") <= col("u") && col("v") =!= col("m"))
        .select(col("v").as("x"), col("m").as("y"))
        .union(s2.select(col("u").as("x"), col("m").as("y"))))
    }
    val broadcastMax = {
      val t = ss.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
      if (t.startsWith("-")) t.toLong
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(t)
    }
    def fitsDriver(edgeCount: Long): Boolean = 16L * edgeCount <= broadcastMax

    var (edges, probe) = checkpointed(canonical(contractEdges(pairs).toDF("x", "y")))
    var converged = probe._1 == 0L // no edges: everything is a singleton
    var it = 0
    while (!converged && !fitsDriver(probe._1) && it < maxIters) {
      val (next, nextProbe) = checkpointed(starRound(edges))
      releaseLocalCheckpoint(edges)
      edges = next
      converged = nextProbe == probe
      probe = nextProbe
      it += 1
    }
    // (node, its component minimum) for every node of a residual edge
    val lab =
      if (converged)
        adj(edges).groupBy("u").agg(min(col("v")).as("mn"))
          .select(col("u").as("doc_id_l"), col("mn"))
      else if (fitsDriver(probe._1))
        broadcast(ufStarEdges(edges.as[(Long, Long)].collect().iterator)
          .toSeq.toDF("mn", "doc_id_l"))
      else {
        releaseLocalCheckpoint(edges)
        throw new IllegalStateException(s"closure hit maxIters=$maxIters " +
          s"with ${probe._1} residual edges unconverged; its labels would " +
          "not be the transitive closure (raise maxIters)")
      }
    val out = ids.toDF("doc_id")
      .join(lab, col("doc_id") === col("doc_id_l"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("mn"), col("doc_id"))).as("cluster"))
      .localCheckpoint(true)
    releaseLocalCheckpoint(edges)
    out
  }

  /** One union-find pass over an edge multiset, rewriting it as star
    * edges `(root, node)` to each component's minimum — one edge per
    * non-root node. State is bounded by the input's node count. Runs
    * per partition in [[contractEdges]] and over the collected residual
    * in [[propagateMinLabels]]' driver finish. */
  private[graft] def ufStarEdges(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    // parent(x) always points at a STRICTLY smaller node, so the
    // map's keys are exactly the non-root nodes
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrElse(p, p)
        parent(x) = gp
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    it.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val ks = parent.keysIterator.toArray
    ks.iterator.map(x => (find(x), x))
  }

  /** UNION-FIND SEEDING of [[propagateMinLabels]]: rewrite a (possibly
    * huge) edge multiset as near-star edges whose components equal the
    * input's, so the closure starts from a near-converged forest
    * instead of raw pair chains.
    *
    * Pass 0 ("aggregate before you shuffle" applied to connected
    * components): [[ufStarEdges]] over each INPUT partition's edges —
    * one narrow mapPartitions pass, NO shuffle.
    *
    * Passes 1-2 (NEIGHBORHOOD passes): duplicate both edge orientations
    * and hash-shuffle by the first endpoint, so EVERY edge incident to
    * a node lands in that node's partition, then union-find again — any
    * two partition-local stars sharing a node merge (a single-column
    * shuffle provably misses root-to-child links: stars (1,2),(1,3) and
    * (3,4),(3,5) connect through node 3 yet no (a) or (b) hash
    * co-locates the witnessing edges; the orientation duplicate does).
    * Each pass is one exchange of the (long, long) edge frame riding
    * inside the closure's first checkpoint (measured ledgers in
    * OPTIMIZATION_r19.md).
    *
    * Correctness: replacing a partition's edge multiset with a star
    * over the same nodes preserves global connectivity (outputs only
    * connect nodes witnessed connected — a—root—b replaces a—b — and
    * every input edge (u,v) is witnessed in u's partition, where both
    * orientations co-locate); the node set is preserved (every node of
    * an input edge appears in some output edge of its partition);
    * min-root union is deterministic regardless of edge order, and
    * hash partitioning on a deterministic column is retry-safe. The
    * closure's labels are partition-independent (spec-tested against an
    * independent union-find under several shuffle layouts). Null-id
    * edges are dropped explicitly (a bare `.as[(Long, Long)]` turns a
    * null id into an encoder crash). The neighborhood passes' partition
    * count follows `spark.sql.shuffle.partitions`. */
  private[graft] def contractEdges(pairs: DataFrame): DataFrame = {
    val ss = pairs.sparkSession
    import ss.implicits._
    def neighborhoodPass(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
        .repartition(col("u"))
        .as[(Long, Long)]
        .mapPartitions(ufStarEdges)
        .toDF("a", "b")
    neighborhoodPass(neighborhoodPass(pairs.toDF("a", "b")
      .select(col("a").cast("long"), col("b").cast("long"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .as[(Long, Long)]
      .mapPartitions(ufStarEdges)
      .toDF("a", "b")))
  }

  /** Suppress ONLY the three benign WARN texts an intentional release
    * of a local checkpoint produces, leaving every other message of the
    * two loggers (failed fetches, replication, memory pressure) at
    * their configured levels — ADVICE r10 #1: the previous
    * whole-logger ERROR demotion hid genuine BlockManager warnings
    * process-wide. A DENY-on-match / NEUTRAL-otherwise filter is also
    * correct under async unpersist (blocking = false): the stray WARNs
    * fire on executor threads after the release call returns, so a
    * save-set-restore window around the call could not catch them.
    * Installed once, lazily (not at session build: Spark re-applies its
    * own log4j profile during context startup, which would drop a
    * LoggerConfig added earlier). */
  private lazy val benignReleaseNoiseFilter: Unit = try {
    import org.apache.logging.log4j.core.{Filter, LogEvent}
    import org.apache.logging.log4j.core.filter.AbstractFilter
    // exact substrings from the Spark 4.1 sources (verified against the
    // shipped jar): intentional-release noise and nothing else
    val benign = Seq(
      "truncated and cannot be recomputed after unpersisting",
      "Asked to remove block",
      "could not be dropped from memory as it does not exist")
    val filter = new AbstractFilter(Filter.Result.NEUTRAL, Filter.Result.NEUTRAL) {
      override def filter(event: LogEvent): Filter.Result = {
        val m = Option(event.getMessage).map(_.getFormattedMessage).getOrElse("")
        if (benign.exists(m.contains)) Filter.Result.DENY else Filter.Result.NEUTRAL
      }
    }
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val cfg = ctx.getConfiguration
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.storage.BlockManager").foreach { name =>
      val ancestor = cfg.getLoggerConfig(name)
      if (ancestor.getName == name) ancestor.addFilter(filter)
      else {
        // getLoggerConfig returned an ancestor (often root) — attaching
        // there would filter unrelated loggers. Create a dedicated
        // additive config at the exact name, inheriting the effective
        // level, and filter only it.
        val dedicated = new org.apache.logging.log4j.core.config.LoggerConfig(
          name, ancestor.getLevel, true)
        dedicated.addFilter(filter)
        cfg.addLogger(name, dedicated)
      }
    }
    ctx.updateLoggers()
  } catch { case _: Throwable => () } // logging backend absent: cosmetic only

  /** Explicitly drop the cached blocks behind a `localCheckpoint(true)`
    * frame. `Dataset.unpersist` cannot do this — it asks the
    * cacheManager, which never registered the checkpoint RDD — so
    * iterative loops that truncate lineage per round must release each
    * superseded round themselves or leak storage until GC (ADVICE r9).
    *
    * ==Deep-release contract (read before calling)==
    * This releases EVERY `LogicalRDD` anywhere in the frame's analyzed
    * plan, not just the frame's own checkpoint — and a released local
    * checkpoint can never be recomputed (its lineage was severed at
    * materialization). Passing a derived frame whose lineage embeds a
    * caller-owned checkpoint that something else still reads would drop
    * that input's blocks and make later reads throw. The deep walk is
    * deliberate: `bpeTrainState` releases a superseded round through a
    * derived projection and relies on the embedded round checkpoint
    * being swept. Callers that own only the frame itself should use
    * [[releaseOwnCheckpoint]] instead (ADVICE r10 #2). ONLY call either
    * once nothing will read the released blocks again. */
  private[graft] def releaseLocalCheckpoint(df: DataFrame): Unit = {
    benignReleaseNoiseFilter
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Shallow sibling of [[releaseLocalCheckpoint]]: releases the
    * checkpoint blocks ONLY when the frame's plan root is itself a
    * `LogicalRDD` (i.e. the frame IS the checkpoint), leaving any
    * checkpoints embedded deeper in a derived lineage untouched. Safe
    * for callers that own just the frame they pass. */
  private[graft] def releaseOwnCheckpoint(df: DataFrame): Unit = {
    benignReleaseNoiseFilter
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Bounded, INTERRUPTIBLE `Observation.get`: runs the blocking get on
    * a fresh single-thread DAEMON executor and `shutdownNow()`s it in
    * `finally`. `Observation.get` parks in an interruptible
    * `Object.wait()`, so on timeout the interrupt actually RELEASES the
    * worker thread — the previous `Await(Future(obs.get))` on the global
    * `ExecutionContext` left one permanently parked pool thread behind
    * every time the 60 s fallback fired (ADVICE r14 #1: in the
    * pathological metrics-never-post scenario this code defends against,
    * each propagation/contraction round leaked a thread). Throws
    * `TimeoutException` (or whatever the get threw) so callers keep
    * their loud aggregation-job fallback. */
  private[graft] def observationGet(obs: org.apache.spark.sql.Observation,
                                    timeoutSec: Long = 60L): Map[String, Any] = {
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-observation-probe")
        t.setDaemon(true)
        t
      })
    try {
      val fut = exec.submit(new java.util.concurrent.Callable[Map[String, Any]] {
        def call(): Map[String, Any] = obs.get
      })
      fut.get(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    } finally exec.shutdownNow()
  }

  /** 64-bit SimHash carried as FOUR 16-bit band integers (VERDICT r2
    * #2: the old 32-bit/2-band form had only 2^17 band keys — at
    * billions of docs the in-bucket self-join goes quadratic; 64 bits +
    * 4 bands of 16 restore selectivity). Bit j of a token is bit
    * `j mod 4` of hex nibble `j div 4` of its md5 (the first 16 nibbles,
    * all four bits each — the full 64 bits of md5 entropy); the
    * fingerprint bit is the sign of the token-sum. Band values stay in
    * [0, 65535], so every intermediate fits a 32-bit int in ANY engine —
    * no signed-64 overflow games in the oracle. */
  private[graft] def simhashBands(docs: DataFrame): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val words = docs
      .select(col("doc_id"), col("text"))
      .repartition(parts) // spread single-split sources before CPU-heavy explode+md5
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
    // PACKED per-row decode (VERDICT r3 #6 — the old form ran
    // conv(substring(h, j, 1)) 64 times per token, one string decode per
    // BIT, and doubled wall time when r2's 32-bit hash grew to 64): the
    // 16 hex chars decode with FOUR conv calls (16 bits each); the
    // per-bit work is then integer shift/mask inside codegen. Bit j of a
    // token is still bit `j mod 4` of hex nibble `j div 4` (MSB-first
    // string order), so band values — and the DuckDB oracle — are
    // unchanged: nibble q = j/4 lives in word j/16 at nibble slot
    // 3 - (q mod 4), giving shift 4*(3 - (j/4 mod 4)) + j mod 4.
    val packed = words.select(col("doc_id") +:
      (0 until 4).map(k =>
        conv(substring(col("h"), 4 * k + 1, 4), 16, 10).cast("int").as(s"h$k")): _*)
    // Popcount aggregation: sum of the 0/1 bit plus one token count —
    // the sign of the classic ±1 bit-sum is `2*popcount - n > 0`,
    // identically (no when() per row, half the branching).
    val aggs = count(lit(1)).as("n") +: (0 until 64).map { j =>
      val shift = 4 * (3 - (j / 4) % 4) + j % 4
      sum(shiftright(col(s"h${j / 16}"), shift).bitwiseAND(lit(1))).as(s"p$j")
    }
    val bandCols = (0 until 4).map { k =>
      (0 until 16)
        .map(i => when(col(s"p${16 * k + i}") * 2 > col("n"), lit(1 << i))
          .otherwise(lit(0)))
        .reduce(_ + _).as(s"band$k")
    }
    packed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id") +: bandCols: _*)
  }

  /** SimHash fingerprints, rendered as a 16-hex-char string (bands in
    * MSB→LSB order) — a 64-bit value without BIGINT-overflow hazards. */
  def simhash(docs: DataFrame): DataFrame =
    simhashBands(docs).select(col("doc_id"),
      format_string("%04x%04x%04x%04x",
        col("band3"), col("band2"), col("band1"), col("band0")).as("simhash"))

  /** SimHash near-dup pairs: candidates share at least one of the four
    * 16-bit bands (a pair within Hamming distance 3 always shares a
    * band by pigeonhole; NO cartesian), confirmed by exact Hamming
    * distance summed across bands.
    *
    * Degenerate bands are CAPPED exactly like [[minhashLsh]] (VERDICT r6
    * #1): a boilerplate-heavy corpus collapses many docs onto one band
    * value, and an uncapped in-bucket self-join expands quadratically in
    * one task. Each bucket keeps its `bucketCap` smallest doc_ids
    * (deterministic; mirrored verbatim in the oracle SQL); docs cut from
    * an oversized bucket still pair via their other three bands; the
    * drop count rides the write as an observable metric. The four band
    * values travel INSIDE the bucket struct so the agg-heavy
    * [[simhashBands]] pipeline runs once — no join-back for the Hamming
    * confirm. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6,
                   bucketCap: Int = 256): DataFrame = {
    val fp = simhashBands(docs)
    val bandKeys = (0 until 4).map(k =>
      concat(lit(s"$k:"), col(s"band$k").cast("string")))
    val keyed = fp.select(
      struct(col("doc_id") +: (0 until 4).map(k => col(s"band$k")): _*).as("m"),
      explode(array(bandKeys: _*)).as("band_key"))
    // struct ordering is field-by-field, doc_id first, and band values
    // are a function of the doc — so sort_array + slice keeps exactly
    // the bucketCap smallest doc_ids, same rule as minhashLsh
    keyed.groupBy("band_key")
      .agg(sort_array(collect_set(col("m"))).as("all_ms"))
      .where(size(col("all_ms")) > 1)
      .select(slice(col("all_ms"), 1, bucketCap).as("ms"),
        greatest(size(col("all_ms")) - bucketCap, lit(0)).as("dropped"))
      .observe("simhash_pairs_buckets_" +
          java.util.UUID.randomUUID().toString.replace("-", ""),
        sum(col("dropped")).as("ids_over_cap"))
      .select(explode(expr(
        "filter(flatten(transform(ms, a -> transform(ms, b -> " +
          "struct(a AS a, b AS b)))), p -> p.a.doc_id < p.b.doc_id)")).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        (0 until 4)
          .map(k => bit_count(col(s"p.a.band$k").bitwiseXOR(col(s"p.b.band$k"))))
          .reduce(_ + _).cast("bigint").as("hamming"))
      // filter BEFORE the dedup shuffle: over-threshold pairs (the
      // majority) never enter the distinct
      .where(col("hamming") <= maxHamming)
      .distinct()
      .select("doc_a", "doc_b", "hamming")
  }
}
