package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond the dedup/ANN families:
  * exact n-gram Jaccard similarity, benchmark-contamination checks, PII
  * redaction, and sequence packing. All formulas stay portable (array
  * lambdas, md5 shingles, RE2-safe regexes, exact ratios pinned to
  * 6 dp via [[graft.functions.Portable.fx]] — `round` is engine-
  * divergent) so the DuckDB oracle reproduces them bit-for-bit.
  *
  * Scale shapes: the Jaccard and contamination ops are inverted-index
  * joins on shingle hashes (equi-join, no cartesian) with a document-
  * frequency cap on pathological shingles; redaction and packing are
  * single-pass narrow transforms (packing shuffles once on its grouping
  * key for the window).
  */
object Curation {

  import graft.functions.Portable.fx

  private def words: Column = split(col("text"), " ")

  /** Distinct word n-gram shingles over a MATERIALIZED words column,
    * md5-keyed (fixed-width join key — the inverted index hashes
    * shingles, never raw text). A document shorter than n words has NO
    * n-grams → empty array (under Spark's ANSI default an unguarded
    * element_at past the end would THROW, not return null). Callers
    * must pass a words column materialized behind a repartition —
    * referencing `split(text)` inline would let CollapseProject re-run
    * the split once per window (the O(len²) pathology
    * `Dedup.shingleSets` measured at 14×). */
  private def shingleHashes(w: Column, n: Int): Column = {
    val cnt = size(w) - (n - 1)
    when(cnt > 0, array_distinct(transform(
      sequence(lit(0), cnt - 1),
      i => md5(concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*)))))
      .otherwise(array().cast("array<string>"))
  }

  /** (doc_id, words) with the split materialized behind a shuffle
    * boundary so downstream per-window lambdas reference the ARRAY, not
    * the split expression. */
  private def withWords(docs: DataFrame): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    docs.select(col("doc_id"), words.as("w")).repartition(parts)
  }

  /** Exact n-gram Jaccard near-duplicate pairs — the exact counterpart
    * of MinHash-LSH (which estimates precisely this similarity):
    * inverted index on shingle hash → shared-shingle count per candidate
    * pair → `|A∩B| / (|A|+|B|-|A∩B|)` ≥ threshold.
    *
    * `dfCap` removes shingles appearing in more than that many
    * documents from BOTH the intersection and the set sizes (the
    * rare-subuniverse contract, see [[sharedShinglePairs]]): at corpus
    * scale a ubiquitous shingle makes the index join quadratic in its
    * document frequency, exactly the degenerate-bucket hazard the LSH
    * path caps the same way. The drop is part of the operator contract
    * (the oracle applies the same cap to both).
    *
    * `candCap` bounds RESULT pairs per document (VERDICT r5 #3): an
    * m-doc duplicate cluster passes all m(m-1)/2 pairs, so output grows
    * quadratically in cluster size. Each doc_a keeps its `candCap`
    * strongest passing pairs (shared-shingle count desc, doc_b as the
    * total tie-break); the drop count rides the write as an observable
    * metric (same pattern as the LSH bucket cap).
    *
    * NOT fully lazy: the `maxPairs` pre-flight runs one small Spark
    * job (a shingle-frequency pass) AT CONSTRUCTION time, before any
    * action on the returned frame — the refusal must fire before the
    * quadratic expansion is ever planned for execution. Two
    * consequences callers should know: building the frame costs one
    * corpus scan even if the result is never executed, and on a
    * mutable source the estimate pass and the main query read at
    * different times (TOCTOU) — irrelevant for immutable parquet
    * snapshots, but pin a snapshot/version when reading a live table.
    *
    * Shape: the candidate pipeline is [[sharedShinglePairs]] — a
    * narrow (doc_a, doc_b) pair stream through the aggregation, sizes
    * rejoined after it with the join strategy left to AQE, threshold
    * and result cap applied last. The pair stream itself is Σ df²
    * over shingles — the inherent cost of an EXACT all-pairs operator;
    * on a k-fold near-duplicated corpus it grows ~k² (measured
    * honestly in BENCH_SCALE.md). Corpora at that scale should run
    * [[graft.ops.Dedup.minhashLsh]], which estimates this same
    * similarity with a linear-ish plan. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                        dfCap: Int = 256, candCap: Int = 64,
                        maxPairs: Long = DefaultMaxPairs): DataFrame =
    ngramJaccardPairsAt(ngramJaccardScored(docs, n, dfCap, maxPairs),
      threshold, candCap)

  /** The threshold-INDEPENDENT front of [[ngramJaccardPairs]]: every
    * candidate pair with its exact Jaccard score, no threshold filter
    * and no per-doc cap. Factored out (round 12) so a threshold SWEEP
    * ([[graft.ops.Dedup.lshRecall]]) pays the Σ df² candidate cost
    * once and re-applies only the cheap tail per threshold. */
  private[graft] def ngramJaccardScored(docs: DataFrame, n: Int = 3,
                                        dfCap: Int = 256,
                                        maxPairs: Long = DefaultMaxPairs): DataFrame =
    sharedShinglePairs(docs, n, dfCap, maxPairs)
      .withColumn("jaccard", fx(col("common").cast("double") /
        (col("sa") + col("sb") - col("common")).cast("double"), 6))

  /** Threshold + per-doc-cap tail over a [[ngramJaccardScored]] frame. */
  private[graft] def ngramJaccardPairsAt(scored: DataFrame, threshold: Double,
                                         candCap: Int = 64): DataFrame = {
    // per-doc result cap — only threshold-passing pairs reach this
    // window, so the sort is over the (small) result set
    val wCand = Window.partitionBy(col("doc_a"))
      .orderBy(col("common").desc, col("doc_b"))
    scored
      .where(col("jaccard") >= threshold)
      .withColumn("rnk", row_number().over(wCand))
      .observe("ngram_jaccard_cands_" +
          java.util.UUID.randomUUID().toString.replace("-", ""),
        sum(when(col("rnk") > candCap, 1L).otherwise(0L)).as("pairs_over_cap"))
      .where(col("rnk") <= candCap)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Shared pair-candidate pipeline for the exact n-gram family:
    * inverted index on md5 shingle hashes, df-capped, equi-joined
    * against itself → one row per unordered candidate pair
    * `(doc_a < doc_b, common, sa, sb)`. The df cap removes
    * ubiquitous (boilerplate) shingles from the universe ENTIRELY:
    * `common` counts shared rare shingles and `sa`/`sb` are the
    * rare-subuniverse set sizes — numerator and denominator agree, so
    * a short doc embedded in boilerplate-heavy context still scores
    * its full containment over the shingles that remain (counting
    * capped shingles in the denominator but not the numerator would
    * bias every similarity downward, silently past thresholds). The
    * narrow pair stream carries only (doc_a, doc_b); sizes rejoin
    * AFTER the aggregation (one row per doc — small next to the pair
    * set, but corpus-sized, so the join strategy is left to AQE: it
    * broadcasts at test scale and degrades to a shuffle join on a
    * corpus too big to broadcast, instead of hitting the 8 GB
    * broadcast hard limit). */
  /** Default refusal bound for the exhaustive exact-pair ops: ~50M
    * candidate rows (≈ a GB-scale shuffle) — generous for any corpus
    * these precision tools should ever see, tiny next to what an
    * unguarded Σ df² would happily try to materialize at 100×. */
  val DefaultMaxPairs: Long = 50000000L

  private def sharedShinglePairs(docs: DataFrame, n: Int, dfCap: Int,
                                 maxPairs: Long = DefaultMaxPairs): DataFrame = {
    val ws = withWords(docs)
    // (doc_id, one row per shingle) — one explode
    val idx = ws.select(col("doc_id"),
      explode(shingleHashes(col("w"), n)).as("s"))
    // df cap: ubiquitous (boilerplate) shingles leave the universe —
    // part of the operator + oracle contract, as before
    val dfs = idx.groupBy("s").agg(count(lit(1)).as("df"))
    val rareIdx = idx.join(dfs.where(col("df") <= dfCap).select("s"), "s")
    // Pre-flight refusal (VERDICT r7 #5): Σ df·(df−1)/2 over the rare
    // universe upper-bounds the candidate pair stream, so check it
    // BEFORE the quadratic expansion is ever paid for — one small
    // explicit job over the shingle-frequency table (the same shape a
    // production cost check runs; its cost is one df pass, re-run by
    // the main query — trivial next to the Σ df² it protects against).
    // An in-plan assert was tried first, but any guard joined on a
    // constant key is folded/pushed by Catalyst into a nested-loop
    // cross join, polluting an otherwise equi-join-only plan; the
    // explicit action also surfaces the error unwrapped, at call time.
    val estPairs = dfs.where(col("df") <= dfCap)
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L))).head.getLong(0)
    require(estPairs <= maxPairs,
      s"exact n-gram pair expansion refused: ~$estPairs candidate pairs > " +
        s"maxPairs=$maxPairs; run the band-screened variant " +
        "(screenedJaccardPairs / screenedContainmentPairs) or raise " +
        "maxPairs explicitly")
    val a = rareIdx.select(col("doc_id").as("doc_a"), col("s"))
    val b = rareIdx.select(col("doc_id").as("doc_b"), col("s"))
    // sizes over the SAME rare universe the intersection counts
    val sizes = rareIdx.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    a.join(b, "s")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
  }

  /** Asymmetric containment near-duplicate pairs — catches the case
    * symmetric Jaccard structurally misses: a short document embedded
    * verbatim inside a much longer one (quote farms, aggregator pages,
    * doc-plus-boilerplate wrappers). For such a pair Jaccard ≈
    * |A|/|B| → 0 as the container grows, while containment
    * `|A∩B| / min(|A|,|B|)` stays ≈ 1.
    *
    * Output is DIRECTED: `contained_id` is the smaller shingle set
    * (ties → the lower doc_id, since doc_a < doc_b), `container_id`
    * the larger. Same df cap (capped shingles leave the universe, so
    * containment is computed over the rare-shingle subuniverse — same
    * contract as [[ngramJaccardPairs]], oracle applies the identical
    * cap) and the same per-contained-doc result cap with an observable
    * drop counter. Shares [[ngramJaccardPairs]]'s construction-time
    * `maxPairs` pre-flight job (see its scaladoc for the laziness and
    * TOCTOU caveats). */
  def ngramContainmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                            dfCap: Int = 256, candCap: Int = 64,
                            maxPairs: Long = DefaultMaxPairs): DataFrame = {
    val directed = sharedShinglePairs(docs, n, dfCap, maxPairs)
      .withColumn("contained_id",
        when(col("sa") <= col("sb"), col("doc_a")).otherwise(col("doc_b")))
      .withColumn("container_id",
        when(col("sa") <= col("sb"), col("doc_b")).otherwise(col("doc_a")))
      .withColumn("containment", fx(col("common").cast("double") /
        least(col("sa"), col("sb")).cast("double"), 6))
      .where(col("containment") >= threshold)
    val wCand = Window.partitionBy(col("contained_id"))
      .orderBy(col("common").desc, col("container_id"))
    directed
      .withColumn("rnk", row_number().over(wCand))
      .observe("ngram_containment_cands_" +
          java.util.UUID.randomUUID().toString.replace("-", ""),
        sum(when(col("rnk") > candCap, 1L).otherwise(0L)).as("pairs_over_cap"))
      .where(col("rnk") <= candCap)
      .select("contained_id", "container_id", "containment")
  }

  /** Band-SCREENED exact-pair confirm (VERDICT r6 #2) — the bounded
    * variant of the exact-pair family for corpora where the exhaustive
    * inverted-index join is output-bound: candidates come from the
    * capped MinHash band buckets ([[Dedup.lshCandidatePairs]] — the
    * `dedup_incremental` shape applied corpus-internally), and only
    * those pairs pay the exact confirm. Cost is linear-ish in the
    * corpus (signature pipeline + capped buckets) plus the candidate
    * count, instead of Σ df² over the shingle universe.
    *
    * The confirm reproduces the exhaustive contract exactly: df-capped
    * rare-shingle subuniverse, set semantics, 6-dp rounding — so the
    * output IS the exhaustive op's output restricted to band-screened
    * candidates (the recall trade is the LSH miss probability, ~5e-3
    * at jaccard 0.9 with 12 hashes / 4 bands). Shared-shingle counts
    * come from `array_intersect` over per-doc rare sets built ONLY for
    * docs that survived into a candidate pair (semi-join down first). */
  private def screenedCommonPairs(docs: DataFrame, n: Int, dfCap: Int,
                                  numHashes: Int, bands: Int,
                                  bucketCap: Int): DataFrame = {
    val cand = Dedup.lshCandidatePairs(docs, numHashes, bands, n,
      bucketCap, "screened_pairs_buckets")
    val ws = withWords(docs)
    val idx = ws.select(col("doc_id"), explode(shingleHashes(col("w"), n)).as("s"))
    // df cap over the FULL corpus — the rare subuniverse must match the
    // exhaustive op's, not shrink to the candidate docs'
    val dfs = idx.groupBy("s").agg(count(lit(1)).as("df"))
    val rareIdx = idx.join(dfs.where(col("df") <= dfCap).select("s"), "s")
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val sets = rareIdx.join(candIds, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("bigint").as("common"),
        size(col("sha")).cast("bigint").as("sa"),
        size(col("shb")).cast("bigint").as("sb"))
      .where(col("common") >= 1)
  }

  /** [[ngramJaccardPairs]] restricted to band-screened candidates — the
    * 100 TB path for exact-Jaccard verification. Same thresholds, caps,
    * and rounding as the exhaustive op. */
  def screenedJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                           dfCap: Int = 256, candCap: Int = 64,
                           numHashes: Int = 12, bands: Int = 4,
                           bucketCap: Int = 256): DataFrame = {
    val common = screenedCommonPairs(docs, n, dfCap, numHashes, bands, bucketCap)
    val wCand = Window.partitionBy(col("doc_a"))
      .orderBy(col("common").desc, col("doc_b"))
    common
      .withColumn("jaccard", fx(col("common").cast("double") /
        (col("sa") + col("sb") - col("common")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .withColumn("rnk", row_number().over(wCand))
      .observe("screened_jaccard_cands_" +
          java.util.UUID.randomUUID().toString.replace("-", ""),
        sum(when(col("rnk") > candCap, 1L).otherwise(0L)).as("pairs_over_cap"))
      .where(col("rnk") <= candCap)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** [[ngramContainmentPairs]] restricted to band-screened candidates.
    * Note the recall caveat is SHARPER here than for Jaccard: a short
    * doc inside a much larger container has low Jaccard, so MinHash
    * bands (which screen BY Jaccard) under-sample exactly the pairs
    * containment exists to find — this variant is for corpus-scale
    * sweeps where the exhaustive op's Σ df² is unpayable and partial
    * recall beats none. The exhaustive op remains the precision tool. */
  def screenedContainmentPairs(docs: DataFrame, n: Int = 3,
                               threshold: Double = 0.8, dfCap: Int = 256,
                               candCap: Int = 64, numHashes: Int = 12,
                               bands: Int = 4, bucketCap: Int = 256): DataFrame = {
    val directed = screenedCommonPairs(docs, n, dfCap, numHashes, bands, bucketCap)
      .withColumn("contained_id",
        when(col("sa") <= col("sb"), col("doc_a")).otherwise(col("doc_b")))
      .withColumn("container_id",
        when(col("sa") <= col("sb"), col("doc_b")).otherwise(col("doc_a")))
      .withColumn("containment", fx(col("common").cast("double") /
        least(col("sa"), col("sb")).cast("double"), 6))
      .where(col("containment") >= threshold)
    val wCand = Window.partitionBy(col("contained_id"))
      .orderBy(col("common").desc, col("container_id"))
    directed
      .withColumn("rnk", row_number().over(wCand))
      .observe("screened_containment_cands_" +
          java.util.UUID.randomUUID().toString.replace("-", ""),
        sum(when(col("rnk") > candCap, 1L).otherwise(0L)).as("pairs_over_cap"))
      .where(col("rnk") <= candCap)
      .select("contained_id", "container_id", "containment")
  }

  /** Benchmark-contamination check: which corpus documents share ≥
    * `minShared` word n-grams with a benchmark/eval document (the
    * standard pre-training decontamination pass). The benchmark side is
    * small by construction → broadcast; the corpus side is one scan +
    * one aggregation. Benchmark here = `doc_id < benchMaxId` (a stand-in
    * for an external eval set; the operator only cares that the two
    * sides are DataFrames of (id, text)). */
  def contamination(docs: DataFrame, benchMaxId: Long = 20, n: Int = 3,
                    minShared: Long = 2): DataFrame = {
    val shingled = withWords(docs)
      .select(col("doc_id"), explode(shingleHashes(col("w"), n)).as("sh"))
    val bench = shingled.where(col("doc_id") < benchMaxId)
      .select(col("doc_id").as("bench_id"), col("sh"))
    shingled.where(col("doc_id") >= benchMaxId)
      .join(broadcast(bench), "sh")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("shared_ngrams"))
      .where(col("shared_ngrams") >= minShared)
      .select("doc_id", "bench_id", "shared_ngrams")
  }

  /** RE2-safe PII patterns (identical semantics in Java regex and
    * DuckDB's RE2: character classes + bounded repetition only). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumRe = "[0-9]{7,}"

  /** PII redaction: emails → `<EMAIL>`, 7+-digit runs → `<NUM>`, with
    * per-document redaction counts (the audit trail a curation pipeline
    * keeps). One narrow pass, fully codegen'd. */
  def piiRedact(docs: DataFrame): DataFrame = {
    val nEmails = size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
    val deEmailed = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val nNums = size(regexp_extract_all(deEmailed, lit(LongNumRe), lit(0)))
    docs.select(col("doc_id"),
      regexp_replace(deEmailed, LongNumRe, "<NUM>").as("clean_text"),
      nEmails.cast("bigint").as("n_emails"),
      nNums.cast("bigint").as("n_longnums"))
  }

  /** Repetition statistics — the Gopher/RefinedWeb-style intra-document
    * repetition filters: fraction of duplicated words and the fraction
    * of all bigrams taken by the single most frequent bigram (high
    * values flag boilerplate/spam for removal before training). One
    * explode + two hash aggregations, shuffled on (doc_id[, bigram]). */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val w = docs.select(col("doc_id"), words.as("w")).repartition(parts)
    val base = w.select(col("doc_id"),
      size(col("w")).cast("bigint").as("n_words"),
      fx(lit(1.0) - size(array_distinct(col("w"))).cast("double") /
        size(col("w")).cast("double"), 6).as("dup_word_frac"))
    // single-word docs have NO bigrams: filter before the explode
    // (sequence(0, -1) would step backwards and index element 0), and
    // left-join them back with a 0.0 fraction
    val bigrams = w.where(size(col("w")) >= 2)
      .select(col("doc_id"), size(col("w")).as("n"),
        explode(sequence(lit(0), size(col("w")) - 2)).as("i"), col("w"))
      .select(col("doc_id"), (col("n") - 1).cast("bigint").as("n_bigrams"),
        concat_ws(" ", element_at(col("w"), col("i") + 1),
          element_at(col("w"), col("i") + 2)).as("bg"))
    val top = bigrams.groupBy("doc_id", "n_bigrams", "bg")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_bigrams").agg(max(col("c")).as("top"))
      .select(col("doc_id"),
        fx(col("top").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("top_bigram_frac"))
    base.join(top, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Deterministic weighted mixture sampling + shuffle — training-set
    * assembly: each source keeps `rate` of its documents, decided by a
    * seeded md5 of the doc id (reproducible across engines, runs, and
    * cluster layouts — no RNG, no per-partition state), and survivors
    * carry a seeded shuffle key that orders the mixture independently
    * of source order. One narrow pass; the sort, when a consumer wants
    * it, is a normal range-partitioned ORDER BY on `shuffle_key`. */
  def mixSample(docs: DataFrame, rates: Seq[(String, Double)],
                defaultRate: Double = 1.0, seed: String = "mix1"): DataFrame = {
    val h = conv(substring(md5(concat(lit(seed), col("doc_id").cast("string"))),
      1, 8), 16, 10).cast("bigint")
    val rate = rates.foldRight(lit(defaultRate): Column) { case ((s, r), acc) =>
      when(col("source") === s, lit(r)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("source"), (h % 10000).as("mix_hash"),
        rate.as("rate"))
      .where(col("mix_hash") < col("rate") * 10000)
      .select(col("doc_id"), col("source"),
        md5(concat(lit(seed), lit(":"), col("doc_id").cast("string")))
          .as("shuffle_key"))
  }

  /** Per-source length-quantile trim — outlier removal where the
    * cutoffs ADAPT to each source's own length distribution instead of
    * one corpus-wide bound (a crawl's p95 is a curated source's p50):
    * documents outside `(lo, hi]` of their source's token-count
    * cumulative distribution are dropped. `cume_dist` is the
    * SQL-standard (rows ≤ value)/n — deterministic under ties in both
    * engines, and the division is exact small-integer IEEE math, so no
    * cross-engine drift at the cut boundary.
    *
    * Scale shape: one narrow pass + one window per source (shuffle
    * keyed on source). A corpus dominated by ONE giant source makes
    * that window's sort the bottleneck — at that scale pre-aggregate
    * the length histogram (tokens are small ints) and join the cutoffs
    * back instead; the windowed form is the exact-oracle variant. */
  def lengthTrim(docs: DataFrame, lo: Double = 0.05,
                 hi: Double = 0.95): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_tokens"))
    docs.select(col("doc_id"), col("source"),
        size(words).cast("bigint").as("n_tokens"))
      .withColumn("pct", cume_dist().over(w))
      .where(col("pct") > lo && col("pct") <= hi)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        fx(col("pct"), 6).as("pct"))
  }

  /** Perplexity-band filtering (the CCNet/Wenzek et al. move, on the
    * engine's own unigram LM): score every document with
    * [[graft.ops.TextAnalysis.unigramLogProb]] (mean per-token log
    * probability — the deterministic perplexity proxy), then keep the
    * middle per-source quantile band by `cume_dist`, exactly
    * [[lengthTrim]]'s mechanics on a different axis. Both tails carry
    * signal worth dropping: the low-logprob tail is noise/garbled
    * text, the high tail is repetitive boilerplate the LM finds too
    * easy. Per-SOURCE banding matters because sources have different
    * base perplexities — a global cut would empty the hardest source.
    *
    * Scale shape: the LM pass is two hash aggregations (term counts,
    * per-doc DECIMAL sums) + the same one-window-per-source trim as
    * [[lengthTrim]]; same giant-source caveat, same
    * histogram-pre-aggregation escape hatch at that scale. */
  def logprobTrim(docs: DataFrame, lo: Double = 0.05,
                  hi: Double = 0.95): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("logprob"))
    TextAnalysis.unigramLogProb(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .withColumn("pct", cume_dist().over(w))
      .where(col("pct") > lo && col("pct") <= hi)
      .select(col("doc_id"), col("source"), col("logprob"),
        col("n_tokens"), fx(col("pct"), 6).as("pct"))
  }

  /** Size-aware temperature sampling — the Gopher/LLaMA-style mixing
    * rule where a source's keep probability is DERIVED from its size
    * instead of hand-set per source ([[mixSample]]'s contract): tiny
    * curated sources are kept whole, giant crawls are downsampled as
    * `p_s = min(1, c / √n_s)` (inverse-sqrt ≡ temperature α = 0.5 up
    * to the fixed constant `c`). The per-doc keep decision reuses the
    * seeded md5 fraction of mixSample, so sampling is deterministic
    * and reproducible on any partitioning.
    *
    * Cross-engine exactness: `√`, `/`, and `×` are each single
    * correctly-rounded IEEE-754 ops on both engines — no sum over
    * sources whose ordering could drift (the normalizing denominator
    * of textbook temperature sampling is deliberately folded into
    * `c`).
    *
    * Scale shape: one tiny per-source count aggregate (map-side
    * combine), broadcast back over the corpus (AQE picks broadcast —
    * sources are few by construction), one narrow filter. */
  def temperatureMix(docs: DataFrame, c: Double = 10.0,
                     seed: String = "temp1"): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
    val h = conv(substring(md5(concat(lit(seed), col("doc_id").cast("string"))),
      1, 8), 16, 10).cast("bigint") % 10000
    docs.join(counts, "source")
      .withColumn("p_keep", least(lit(1.0), lit(c) / sqrt(col("n_source"))))
      .where(h < col("p_keep") * 10000)
      .select(col("doc_id"), col("source"), col("n_source"),
        fx(col("p_keep"), 6).as("p_keep"))
  }

  /** Corpus snapshot diff — what changed between two crawls/ingests:
    * every doc_id in either snapshot is labeled `added` / `removed` /
    * `changed` / `unchanged` by content hash. The ops report a corpus
    * refresh needs before re-running the expensive dedup/curation
    * passes (only `added`+`changed` docs need re-screening — feeds
    * [[graft.ops.Dedup.incrementalNearDups]]).
    *
    * Scale shape: each side collapses to (doc_id, md5) narrowly, then
    * ONE full-outer shuffle join on doc_id; no text moves through the
    * shuffle. */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("old_hash"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select("doc_id", "status", "old_hash", "new_hash")
  }

  /** Paragraph-level (chunk) deduplication statistics — the C4/
    * RefinedWeb-style pass that removes REPEATED SPANS across a corpus
    * rather than whole near-duplicate documents: each document is cut
    * into fixed `chunkWords`-word chunks, chunks are keyed corpus-wide
    * by md5, and every document reports how much of it is made of
    * chunks that occur elsewhere (a chunk instance counts as duplicated
    * when its corpus-wide frequency is > 1, its own occurrence
    * included).
    *
    * Scale shape: one explode over chunk indices, one hash aggregation
    * on the chunk key, one equi-join back — shuffles keyed on the md5
    * chunk hash (uniform by construction), never on raw text; no
    * cartesian, no driver-side state. */
  def paragraphDedup(docs: DataFrame, chunkWords: Int = 10): DataFrame = {
    val ws = withWords(docs).where(size(col("w")) >= 1)
    val chunks = ws
      .select(col("doc_id"),
        explode(sequence(lit(0),
          floor((size(col("w")) - 1) / lit(chunkWords)).cast("int"))).as("i"),
        col("w"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(col("w"), col("i") * chunkWords + 1, lit(chunkWords)))).as("ch"))
    // corpus frequency via a window over the chunk key: ONE pass over
    // the chunking lineage and one shuffle on ch (a groupBy + join back
    // would re-execute the whole explode+md5 subtree for each side)
    chunks
      .withColumn("cf", count(lit(1)).over(Window.partitionBy(col("ch"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cf") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        fx(col("n_dup_chunks").cast("double") /
          col("n_chunks").cast("double"), 6).as("dup_chunk_frac"))
  }

  /** Exact substring-span deduplication — the STRIDE-1 exact pass of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499) at word granularity: every
    * `gramWords`-word window (stride 1, so a repeated span is found at
    * ANY offset, unlike [[paragraphDedup]]'s fixed grid) is keyed
    * corpus-wide by md5; a window occurring more than once anywhere
    * (any document, any position — a within-document repeat counts) is
    * duplicated, and per document the overlapping duplicated windows
    * merge into MAXIMAL spans via gaps-and-islands (consecutive
    * positions share `pos - row_number`). Output: one row per maximal
    * duplicated span — `(doc_id, span_start, span_end, span_words,
    * n_grams)`, word positions 1-based inclusive.
    *
    * Scale shape: the paper's suffix array is replaced by what Spark
    * does well — one explode to ~n_words stride-1 grams (checkpointed
    * once so it is computed once), a PARTIAL-aggregated
    * `groupBy(g).count()` for corpus frequency, and a semi-join back on
    * the gram key; then one shuffle on doc_id for the island merge.
    * The frequency stage deliberately is NOT a `count over (partition
    * by g)` window (VERDICT r10 #1): window partitions get no map-side
    * combine, so a hot boilerplate gram — licence headers, templated
    * pages, exactly what span dedup exists to find — would land its
    * entire corpus-wide occurrence list on ONE task. Partial
    * aggregation reduces each hot gram to one row per map task before
    * the shuffle, and the join-back keys stay uniform md5. Gram volume
    * is `16 bytes × n_words` — the known price of EXACT substring
    * dedup; the cheaper screens ([[paragraphDedup]] grid,
    * [[cdcChunkDedup]] content-defined boundaries) are the first-pass
    * filters at 100 TB, this pass runs on what they flag. No
    * cartesian, no driver state. */
  def spanDedup(docs: DataFrame, gramWords: Int = 10): DataFrame = {
    // checkpoint the exploded gram frame so frequency + join-back read
    // it from blocks instead of re-executing the explode+md5 subtree
    // per side; released once the spans are materialized
    val grams = stride1Grams(docs, gramWords).localCheckpoint(true)
    val out = spanDedupFromGrams(grams, gramWords).localCheckpoint(true)
    graft.ops.Dedup.releaseOwnCheckpoint(grams)
    out
  }

  /** Frequency + join-back + island merge over a `(doc_id, pos, g)`
    * gram frame — the lazy core of [[spanDedup]], split out so plan
    * audits can inspect the partial-aggregated frequency stage (the
    * public entry checkpoints its output, which collapses the visible
    * plan to a LogicalRDD scan). */
  private[graft] def spanDedupFromGrams(grams: DataFrame,
                                        gramWords: Int): DataFrame = {
    val repeated = grams.groupBy("g").agg(count(lit(1)).as("gf"))
      .where(col("gf") > 1).select("g")
    islandSpans(
      grams.join(repeated, Seq("g"), "left_semi")
        .select(col("doc_id"), col("pos")),
      gramWords)
  }

  /** Every `gramWords`-word window at EVERY offset (stride 1) of every
    * document, md5-keyed: `(doc_id, pos, g)`, `pos` 1-based. The shared
    * front half of the span family. */
  private[graft] def stride1Grams(docs: DataFrame, gramWords: Int): DataFrame =
    withWords(docs).where(size(col("w")) >= gramWords)
      .select(col("doc_id"),
        explode(sequence(lit(1),
          (size(col("w")) - lit(gramWords) + 1))).as("pos"),
        col("w"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(concat_ws(" ",
          slice(col("w"), col("pos"), lit(gramWords)))).as("g"))

  /** Gaps-and-islands merge of flagged gram positions into MAXIMAL
    * per-document spans (consecutive positions share `pos -
    * row_number`): `(doc_id, span_start, span_end, span_words,
    * n_grams)`, boundaries 1-based inclusive. One shuffle on doc_id;
    * the follow-on aggregation reuses that partitioning. */
  private[graft] def islandSpans(dup: DataFrame, gramWords: Int): DataFrame =
    dup
      .withColumn("island", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(gramWords.toLong) - 1L).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_words"),
        col("n_grams"))

  /** Steady-state span screen — which spans of a NEW batch duplicate
    * the STANDING corpus: the incremental sibling of [[spanDedup]]
    * (the same relationship `incrementalNearDups` bears to the LSH
    * pass). The corpus side collapses to its DISTINCT gram set — the
    * persistable index artifact; screening a delta batch never
    * re-reads corpus text — and batch gram positions that hit it merge
    * into maximal spans. Within-batch repeats are spanDedup's job on
    * the batch alone; this pass reports batch-vs-corpus duplication
    * only. Output schema = [[spanDedup]]'s, restricted to batch docs.
    *
    * Scale shape: batch explode is delta-sized; the semi-join shuffles
    * on the uniform md5 gram key (the index side is corpus-scale but
    * carries ONE 16 B column — too big to broadcast, cheap to
    * shuffle); islands as the batch pass. */
  def incrementalSpanDedup(corpus: DataFrame, batch: DataFrame,
                           gramWords: Int = 10): DataFrame = {
    val index = stride1Grams(corpus, gramWords).select("g").distinct()
    val dup = stride1Grams(batch, gramWords)
      .join(index, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    islandSpans(dup, gramWords)
  }

  /** The span-gram index as a MAINTAINED artifact: `(g, df)` —
    * corpus-wide stride-1 gram frequencies. Unlike the LSH band index
    * (per-doc rows, compaction = anti-join), gram frequencies are the
    * right standing shape here — the screen only needs membership, and
    * counts make append and takedown EXACT merges with no per-doc
    * provenance rows (the index stays ~one row per distinct gram, not
    * per occurrence). Append adds a batch's counts; compact subtracts
    * removed docs' counts and drops grams at df ≤ 0. Callers must only
    * compact docs actually PRESENT in the indexed set — subtraction has
    * no way to detect a ghost (the lifecycle gate derives removals from
    * corpus ∪ admitted for exactly this reason). Append/compact ≡
    * rebuild over the final doc set, by arithmetic. */
  def spanIndexBuild(docs: DataFrame, gramWords: Int = 10): DataFrame =
    stride1Grams(docs, gramWords).groupBy("g").agg(count(lit(1)).as("df"))

  def spanIndexAppend(index: DataFrame, admitted: DataFrame,
                      gramWords: Int = 10): DataFrame =
    index.unionByName(spanIndexBuild(admitted, gramWords))
      .groupBy("g").agg(sum(col("df")).as("df"))

  def spanIndexCompact(index: DataFrame, removed: DataFrame,
                       gramWords: Int = 10): DataFrame =
    index.unionByName(spanIndexBuild(removed, gramWords)
        .select(col("g"), (-col("df")).as("df")))
      .groupBy("g").agg(sum(col("df")).as("df"))
      .where(col("df") > 0)

  /** Span-trim rewrite — applies [[spanDedup]]'s findings to the text:
    * every word position covered by a maximal duplicated span is
    * removed from EVERY document holding it (the aggressive variant of
    * Lee et al. 2022 §3 — removing all copies rather than electing an
    * owner keeps the pass deterministic and order-free, the property a
    * distributed rewrite needs), and the survivors re-join into
    * `clean_text`. Every input document appears in the output —
    * documents with nothing removed pass through verbatim, fully
    * trimmed documents emit an empty string — with
    * `n_kept_words`/`n_removed_words` as the audit counters.
    *
    * Scale shape: spanDedup's shuffles plus one explode of covered
    * positions (bounded by span volume, not corpus volume), one
    * doc_id+pos anti-join, and one doc_id aggregation whose
    * `array_sort(collect_list(struct(pos, word)))` rebuild is
    * per-document memory — the same bound any whole-document operator
    * (the split itself) already imposes. */
  def spanTrim(docs: DataFrame, gramWords: Int = 10): DataFrame = {
    val covered = spanDedup(docs, gramWords)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    trimByCoverage(docs, covered)
  }

  /** Rewrite `base` with every (doc_id, covered word position) removed
    * and survivors re-joined — the shared back half of [[spanTrim]] and
    * [[decontaminateSpans]]. Every `base` document appears in the
    * output (verbatim when uncovered, empty when fully covered), with
    * kept/removed word counters. Duplicate coverage rows are harmless
    * (anti-join semantics). */
  private def trimByCoverage(base: DataFrame, covered: DataFrame): DataFrame = {
    val positioned = withWords(base)
      .select(col("doc_id"), posexplode(col("w")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("word"))
    val kept = positioned.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x("word"))).as("clean_text"),
        count(lit(1)).as("n_kept_words"))
    base.select(col("doc_id"), size(words).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept_words"), lit(0L)).as("n_kept_words"),
        (col("n_words") - coalesce(col("n_kept_words"), lit(0L)))
          .as("n_removed_words"))
  }

  /** Span-level benchmark decontamination — the SURGICAL sibling of
    * [[contamination]]: instead of flagging whole corpus documents that
    * overlap the benchmark, every corpus word position covered by a
    * `gramWords`-word window that ALSO occurs anywhere in the benchmark
    * slice (`doc_id < benchMaxId`, stand-in for an external eval set)
    * is removed, overlapping hits merged into maximal spans first
    * (gaps-and-islands, as [[spanDedup]]). Output: every CORPUS
    * document (benchmark docs are the eval set, not training data) with
    * `clean_text` + kept/removed counters — contaminated docs keep
    * their un-leaked remainder instead of being dropped wholesale.
    *
    * Scale shape: the benchmark gram set is small by construction →
    * one `broadcast` semi-join marks hit positions in a single corpus
    * pass (no corpus-wide frequency shuffle — this is CHEAPER than
    * [[spanDedup]]); islands + trim as the span pass. */
  def decontaminateSpans(docs: DataFrame, benchMaxId: Long = 20,
                         gramWords: Int = 5): DataFrame = {
    val grams = stride1Grams(docs, gramWords)
    val bench = grams.where(col("doc_id") < benchMaxId)
      .select("g").distinct()
    val dup = grams.where(col("doc_id") >= benchMaxId)
      .join(broadcast(bench), Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val covered = islandSpans(dup, gramWords)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    trimByCoverage(docs.where(col("doc_id") >= benchMaxId), covered)
  }

  /** Content-defined chunk deduplication — the SHIFT-ROBUST sibling of
    * [[paragraphDedup]] (the LBFS/rsync boundary trick applied to
    * corpus dedup): chunk boundaries fall after "trigger" words
    * (`fnv1a32(word) % boundaryMod == 0`) instead of at fixed
    * word-count multiples. Inserting one word near the top of a
    * document shifts EVERY fixed window after it (paragraphDedup sees
    * ~0% duplication against the original), but leaves all
    * content-defined chunks after the next trigger identical — the
    * repeated spans still key-match corpus-wide. Expected chunk length
    * is `boundaryMod` words (trigger density 1/boundaryMod).
    *
    * Same output contract and scale shape as paragraphDedup: one
    * explode to tokens, one window cumsum per doc for chunk ids, one
    * window on the md5 chunk key for corpus frequency — shuffles keyed
    * on doc_id then md5, no cartesian, no driver state. */
  def cdcChunkDedup(docs: DataFrame, boundaryMod: Int = 8): DataFrame = {
    import graft.functions.Fnv
    val ws = withWords(docs).where(size(col("w")) >= 1)
    val tok = ws.select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "word")))
      .withColumn("trig",
        when(Fnv.fnv32(col("word"), Fnv.Basis1) % boundaryMod === 0, 1L)
          .otherwise(0L))
    // chunk id = number of triggers BEFORE this word (boundary cuts
    // after the trigger word, so the trigger closes its own chunk)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = tok
      .withColumn("chunk", coalesce(sum(col("trig")).over(wCum), lit(0L)))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word")))).as("ch"))
    chunks
      .withColumn("cf", count(lit(1)).over(Window.partitionBy(col("ch"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cf") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        fx(col("n_dup_chunks").cast("double") /
          col("n_chunks").cast("double"), 6).as("dup_chunk_frac"))
  }

  /** Cross-source duplicate resolution with source priority — the
    * "prefer the curated copy" rule (keep the Wikipedia copy, drop the
    * CommonCrawl one): documents are grouped by a content key (md5 of
    * the first `prefixWords` words — the cheap first-pass key; the
    * near-dup families refine it), and within each group the copy from
    * the highest-priority source wins, doc_id as the total tie-break.
    * Priority = the numeric suffix of `source` (src0 outranks src7);
    * unrecognized sources sort last.
    *
    * Scale shape: one narrow pass to key, one window over the content
    * key (shuffle on md5 — uniform), survivors only. */
  def crossSourceDedup(docs: DataFrame, prefixWords: Int = 10): DataFrame = {
    // NULL text must key as NULL (DuckDB's array_to_string(NULL) → NULL
    // → md5(NULL) → NULL), not as md5('') — Spark's concat_ws swallows a
    // null array, which would group null-text docs with empty-text ones
    val key = when(col("text").isNotNull,
      md5(concat_ws(" ", slice(words, 1, prefixWords))))
    // try_cast, exactly like the oracle: "" (no match) and out-of-range
    // digit runs (src99999999999999999999) both fall to the sort-last
    // sentinel instead of throwing under ANSI
    val m = regexp_extract(col("source"), "^src([0-9]+)$", 1)
    val pri = coalesce(m.try_cast("bigint"), lit(Long.MaxValue))
    val keyed = docs.select(col("doc_id"), col("source"),
      key.as("content_key"), pri.as("pri"))
    val w = Window.partitionBy(col("content_key"))
      .orderBy(col("pri"), col("doc_id"))
    keyed
      .withColumn("rn", row_number().over(w))
      .withColumn("n_copies", count(lit(1))
        .over(Window.partitionBy(col("content_key"))))
      .where(col("rn") === 1)
      .select("doc_id", "source", "content_key", "n_copies")
  }

  /** Deterministic hashed-feature linear quality classifier — the
    * fastText-shaped scoring pass a curation pipeline runs over every
    * document (here with a FIXED pseudo-random weight vector so the
    * score is a pure function of the text and both engines reproduce it
    * bit-for-bit; swapping in trained weights changes the lookup table,
    * not the dataflow). Token → feature bucket via md5 (mod `buckets`);
    * bucket → integer weight in [-half, half) via a Knuth
    * multiplicative hash; document score = mean token weight, scaled to
    * [-1, 1]. The weight sum stays in INTEGER arithmetic until the
    * final division, so summation order cannot move the result.
    *
    * Scale shape: explode + one hash aggregation on doc_id; fully
    * codegen'd expressions, no UDF, no vocabulary on the driver. */
  def qualityClassifier(docs: DataFrame, buckets: Int = 1024,
                        half: Int = 1024): DataFrame = {
    val bucket = conv(substring(md5(col("tok")), 1, 8), 16, 10)
      .cast("bigint") % buckets
    val iw = (bucket * 2654435761L) % (2L * half) - half
    docs.select(col("doc_id"), explode(words).as("tok"))
      .select(col("doc_id"), iw.as("iw"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("iw")).as("sw"))
      .select(col("doc_id"), col("n_tokens"),
        fx(col("sw").cast("double") /
          (col("n_tokens").cast("double") * half), 6).as("score"),
        when(col("sw") > 0, 1).otherwise(0).as("keep"))
  }

  /** Quality-aware SURVIVORSHIP over near-dup clusters — the policy a
    * real curation pipeline applies after dedup finds the clusters:
    * instead of keeping each cluster's arbitrary min-id member
    * (`Dedup.nearDupClusters`' representative), keep its HIGHEST-
    * QUALITY member ([[graft.ops.TextAnalysis.quality]] score, doc_id
    * as the total tie-break), so deduplication never throws away the
    * best copy of duplicated content. Output: one row per doc with
    * its cluster, quality, and the keep verdict (exactly one keeper
    * per cluster; singletons keep themselves).
    *
    * Scale shape: the closure's cost is [[graft.ops.Dedup.nearDupClusters]]'
    * (the shared connected-components core over the capped pair graph:
    * union-find seeding, a driver finish once the residual fits a
    * broadcast, star-contraction rounds above that); the
    * survivorship choice itself is one quality pass (narrow, codegen'd)
    * + one window over the cluster key — a single extra shuffle. */
  def keepBestInClusters(docs: DataFrame, threshold: Double = 0.5,
                         clusters: Option[DataFrame] = None): DataFrame = {
    // `clusters` injection is the production shape: a pipeline that
    // also runs the LSH pass elsewhere (e.g. curationPipeline's
    // near-dup signal) computes the pair graph ONCE, persists the
    // closure, and feeds it to every consumer — recomputing it here is
    // gate-convenience, not a cost model
    val cl = clusters.getOrElse(Dedup.nearDupClusters(docs, threshold))
    val q = TextAnalysis.quality(docs)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality").desc, col("doc_id"))
    cl.join(q, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "cluster", "quality", "keep")
  }

  /** End-to-end corpus admission — the signals composed into ONE
    * keep/drop decision per document with machine-readable reason
    * codes, the driver a real curation run ends with: length bounds
    * ([[repetitionStats]]' word count), repetition
    * (top-bigram / duplicate-word fractions), learned quality
    * ([[qualityClassifier]] score), and near-duplication (the greedy
    * drop side of [[graft.ops.Dedup.minhashLsh]] pairs). A document
    * survives iff NO reason fires; `reasons` is the sorted
    * comma-joined code list (`""` for keepers) so downstream audits
    * can group drops by cause.
    *
    * Scale shape: each signal is its own gated operator's pipeline
    * (no new shuffle classes); the composition is three equi-joins on
    * doc_id. Thresholds are calibration knobs, not contracts — the
    * defaults fire meaningfully on the synthetic corpus and the
    * oracle pins whatever is configured. */
  def curationPipeline(docs: DataFrame,
                       minWords: Int = 15, maxWords: Int = 90,
                       maxTopBigram: Double = 0.1, maxDupWord: Double = 0.68,
                       minScore: Double = -0.25): DataFrame = {
    val none = array().cast("array<string>")
    val rep = repetitionStats(docs)
    val q = qualityClassifier(docs).select(col("doc_id"), col("score"))
    val nd = Dedup.minhashLsh(docs)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("ndup", lit(1))
    rep.join(q, "doc_id")
      .join(nd, Seq("doc_id"), "left_outer")
      .withColumn("reasons", concat_ws(",", array_sort(flatten(array(
        when(col("n_words") < minWords || col("n_words") > maxWords,
          array(lit("length"))).otherwise(none),
        when(col("top_bigram_frac") > maxTopBigram ||
            col("dup_word_frac") > maxDupWord,
          array(lit("repetition"))).otherwise(none),
        when(col("score") < minScore, array(lit("quality"))).otherwise(none),
        when(col("ndup") === 1, array(lit("near_dup"))).otherwise(none))))))
      .select(col("doc_id"),
        when(col("reasons") === "", 1).otherwise(0).as("keep"),
        col("reasons"))
  }

  /** Balanced shard assignment — split a corpus into `shards` training
    * shards with near-equal token budgets: documents are ranked by size
    * (descending, doc_id tie-break) WITHIN `parts` independent rank
    * groups (group = doc_id mod parts), and ranks deal round-robin
    * across shards — the parallel form of longest-processing-time
    * round-robin. A single global rank would balance marginally better
    * but serializes the sort through one partition; `parts` windows
    * keep the shuffle parallel at any corpus size, and each group's
    * round-robin stays size-balanced.
    *
    * Scale shape: one narrow pass + `parts` parallel windows (shuffle
    * keyed on doc_id mod parts — uniform); output is one row per
    * document. */
  def shardAssign(docs: DataFrame, shards: Int = 8, parts: Int = 16): DataFrame = {
    val w = Window.partitionBy(col("part"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    // shard = (rank + part) mod shards: within a group, consecutive
    // size-ranks land on consecutive shards (the round-robin dealing);
    // the +part staggers group starting points. NOT (rn-1)*parts + part:
    // when shards divides parts the rank term cancels and the dealing
    // degenerates to doc_id mod shards, ignoring size entirely.
    docs.select(col("doc_id"), size(words).cast("bigint").as("n_tokens"),
        pmod(col("doc_id"), lit(parts)).as("part"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("n_tokens"),
        pmod(col("rn") - 1 + col("part"), lit(shards))
          .cast("bigint").as("shard"))
  }

  /** Sequence packing: assign documents to fixed-token-budget packs,
    * filling contiguously in (source, doc_id) order — the deterministic
    * contiguous-fill approximation of bin packing used to build training
    * context windows. A document starts in the pack its cumulative
    * offset falls into (`floor(offset / budget)`); packs are per-source
    * so the window shuffles once on a key with source-count parallelism.
    */
  /** Sliding-window document chunking — the context-window prep step
    * for training and retrieval corpora: split each document's token
    * stream into windows of `window` tokens advancing by `stride`
    * (overlap = window − stride preserves cross-boundary context). A
    * document shorter than one window yields one (partial) chunk; the
    * final window may be partial. Chunk count is exact integer
    * arithmetic (`(n − window + stride − 1) div stride + 1`), so chunk
    * boundaries are deterministic on both engines.
    *
    * Shape: one narrow codegen'd expansion per document (no shuffle —
    * windows come straight off the doc's own token array), output rows
    * ≈ corpus tokens / stride. */
  def chunkWindows(docs: DataFrame, window: Int = 32, stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    // the token array is bound as a LAMBDA VARIABLE (transform over a
    // one-element array): inline, the per-chunk slice would re-evaluate
    // split(text) once per window — the O(len²) pathology withWords
    // exists to prevent, avoided here without its shuffle
    val chunks = element_at(transform(array(split(col("text"), " ")), w => {
      val n = size(w)
      val nChunks = when(n > window,
        floor(((n - window + stride - 1).cast("double")) / stride).cast("int") + 1)
        .otherwise(lit(1))
      transform(sequence(lit(0), nChunks - 1), i =>
        struct(i.cast("int").as("idx"),
          slice(w, i * stride + 1, lit(window)).as("toks")))
    }), 1)
    docs.select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.idx").as("chunk_idx"),
        concat_ws(" ", col("c.toks")).as("chunk_text"),
        size(col("c.toks")).cast("bigint").as("n_chunk_tokens"))
  }

  /** Corpus report card: per-source curation metrics plus a ROLLUP
    * corpus-total row (`source = '__all__'`) — the one-glance health
    * check a pipeline runs between stages (doc counts, exact-dup share,
    * token volume, distinct-text count, mean length). Every aggregate
    * is an integer count/sum (the mean divides two exact integers and
    * rounds once), so the distributed result is partitioning-proof.
    * Shape: narrow per-doc metrics → ONE window over the content hash
    * (the copy count, no self-join) → rollup hash aggregation. */
  def corpusReport(docs: DataFrame): DataFrame = {
    val h = docs.select(col("source"), md5(col("text")).as("h"),
      size(split(col("text"), " ")).cast("bigint").as("toks"))
    h.withColumn("c", count(lit(1)).over(Window.partitionBy(col("h"))))
      .rollup("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum("toks").as("n_tokens"),
        countDistinct("h").as("n_distinct_texts"),
        fx(sum("toks").cast("double") / count(lit(1)), 2).as("avg_tokens"),
        grouping(col("source")).as("g"))
      // grouping() distinguishes the grand-total row from a NULL source
      // GROUP (coalesce alone would conflate them into two '__all__'
      // rows with different counts)
      .select(when(col("g") === 1, lit("__all__"))
          .otherwise(coalesce(col("source"), lit("__null__"))).as("src"),
        col("n_docs"), col("n_dup_docs"), col("n_tokens"),
        col("n_distinct_texts"), col("avg_tokens"))
  }

  def packSequences(docs: DataFrame, budget: Int = 512): DataFrame = {
    val tokens = size(words).cast("bigint")
    // ROWS frame pinned explicitly: the default RANGE frame sums ALL
    // peers of a duplicate (source, doc_id) at once, diverging from the
    // oracle's row-at-a-time running sum
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("source"), tokens.as("tokens"))
      .withColumn("pack_offset",
        coalesce(sum(col("tokens")).over(w) - col("tokens"), lit(0L)))
      .withColumn("pack_id", floor(col("pack_offset") / budget).cast("bigint"))
      .select("doc_id", "source", "tokens", "pack_id", "pack_offset")
  }
}
