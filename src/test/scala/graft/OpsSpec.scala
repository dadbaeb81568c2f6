package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops._
import graft.streaming.StreamingIngest

/** Behavior tests for the LLM-pipeline operators: recall on the
  * fixture's planted near-duplicates, scale-plan audits (no cartesian in
  * bucketed designs), stub-decoder plumbing, stream==batch equivalence. */
class OpsSpec extends SparkTestBase {

  private def docs = graft.sources.Tables(spark, sf, "documents")
  private def events = graft.sources.Tables(spark, sf, "events")
  private def emb = graft.sources.Tables(spark, sf, "embeddings")

  private def planOf(df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString
  }

  /** Runs `df` once into the noop sink and returns the observed metrics
    * its query posted, read through a `QueryExecutionListener`:
    * (observation name, field, value), one entry per numeric field. */
  private def observedMetrics(df: => DataFrame): Seq[(String, String, Long)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
            row.get(i) match {
              case n: java.lang.Number => seen.add((name, f, n.longValue))
              case _ => ()
            }
          }
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** The summed `field` of the observations named `prefix<32 hex>`, and
    * how many such observations posted. */
  private def observedSum(obs: Seq[(String, String, Long)], prefix: String,
                          field: String): (Long, Int) = {
    val hits = obs.filter { case (n, f, _) =>
      f == field && n.startsWith(prefix) && n.drop(prefix.length).matches("[0-9a-f]{32}") }
    (hits.map(_._3).sum, hits.size)
  }

  test("Fnv1a32 expression: pinned cross-engine values, codegen + interpreted, nulls") {
    import spark.implicits._
    import graft.functions.Fnv
    // values pinned against DuckDB's list_reduce evaluation (incl. non-ASCII)
    val pinned = Seq(
      "hello world" -> 3582672807L, "" -> 2166136261L, "a" -> 3826002220L,
      "héllo wörld ñ" -> 1257984345L, "the quick brown fox" -> 865043906L)
    pinned.foreach { case (s, h) =>
      assert(Fnv.hash32(s, Fnv.Basis1) == h, s"kernel mismatch for '$s'")
    }
    // through the Expression (whole-stage codegen path)
    val df = pinned.map(_._1).toDF("s")
      .select(org.apache.spark.sql.functions.col("s"),
        Fnv.fnv32(org.apache.spark.sql.functions.col("s"), Fnv.Basis1).as("h"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    pinned.foreach { case (s, h) => assert(got(s) == h, s"codegen mismatch for '$s'") }
    // null in, null out
    val withNull = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "s")
      .select(Fnv.fnv32(org.apache.spark.sql.functions.col("s"), Fnv.Basis1).as("h"))
    assert(withNull.head.isNullAt(0))
  }

  test("minhash LSH finds the planted near-duplicates (no cartesian in plan)") {
    val pairs = Dedup.minhashLsh(docs).cache()
    val n = pairs.count()
    // fixture plants ~28 pairs at jaccard ≈0.99; LSH at r=3,b=4 misses
    // a 0.98-pair with p≈1e-5
    assert(n >= 20, s"expected ≥20 planted near-dup pairs, got $n")
    assert(pairs.where(org.apache.spark.sql.functions.col("jaccard") < 0.5).count() == 0)
    val plan = planOf(Dedup.minhashLsh(docs))
    assert(!plan.contains("CartesianProduct"), "banded LSH must not cross-join")
    pairs.unpersist()
  }

  test("pathological LSH bucket (1k identical docs) is capped, not an O(n²) blow-up") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // boilerplate corpus: every band key collapses all 1000 docs into ONE
    // bucket — uncapped, that's C(1000,2) ≈ 500k pairs expanded in one
    // task per band (VERDICT r2 #1); with cap=16, at most C(16,2)=120
    val boiler = (1L to 1000L)
      .map(i => (i, "the same boilerplate text repeated again and again and again"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(boiler, bucketCap = 16).cache()
    assert(pairs.count() == 120, "expected exactly C(16,2) pairs from the capped bucket")
    // deterministic cap: the 16 SMALLEST ids are kept
    assert(pairs.agg(max("doc_b")).head.getLong(0) <= 16L)
    assert(pairs.where(col("jaccard") =!= 1.0).count() == 0)
    pairs.unpersist()
    // each of the 4 band buckets cuts 1000 - 16 ids, observed once
    val obs = observedMetrics(Dedup.minhashLsh(boiler, bucketCap = 16))
    assert(observedSum(obs, "minhash_lsh_buckets_", "ids_over_cap") == (4L * 984, 1), obs)
  }

  test("simhash is a 16-hex 64-bit fingerprint; distance-3 pairs share a band (pigeonhole)") {
    import org.apache.spark.sql.functions._
    val fp = Dedup.simhash(docs)
    assert(fp.where(length(col("simhash")) =!= 16).count() == 0,
      "fingerprints must be 16 hex chars (64 bits)")
    // band keys are selective: 4 bands × 2^16 values each, not 2^17 total
    val distinctBands = Dedup.simhashBands(docs)
      .select(explode(array((0 until 4).map(k =>
        concat(lit(s"$k:"), col(s"band$k"))): _*)).as("bk"))
      .distinct().count()
    assert(distinctBands > 4, "bands collapsed — no selectivity")
  }

  test("simhash pairs overlap the minhash near-dup pairs") {
    import spark.implicits._
    val mh = Dedup.minhashLsh(docs).select("doc_a", "doc_b").as[(Long, Long)]
      .collect().toSet
    val sh = Dedup.simhashPairs(docs).select("doc_a", "doc_b").as[(Long, Long)]
      .collect().toSet
    // near-identical docs have near-identical simhash; most planted pairs
    // should surface in both (banding can miss a few on either side)
    val overlap = mh.intersect(sh).size
    assert(overlap >= (mh.size * 0.7).toInt, s"overlap $overlap of ${mh.size}")
  }

  test("pathological simhash band (1k identical docs) is capped, not an O(n²) blow-up") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // identical docs share all four band values — every band bucket holds
    // all 1000 docs; uncapped that's 4 × C(1000,2) pair expansions in
    // single tasks (VERDICT r6 #1); with cap=16 each band expands to at
    // most C(16,2)=120, and distinct collapses the four bands' copies
    val boiler = (1L to 1000L)
      .map(i => (i, "the same boilerplate text repeated again and again and again"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(boiler, bucketCap = 16).cache()
    assert(pairs.count() == 120, "expected exactly C(16,2) pairs from the capped buckets")
    // deterministic cap: the 16 SMALLEST ids are kept
    assert(pairs.agg(max("doc_b")).head.getLong(0) <= 16L)
    assert(pairs.where(col("hamming") =!= 0L).count() == 0,
      "identical docs have identical fingerprints")
    pairs.unpersist()
    val obs = observedMetrics(Dedup.simhashPairs(boiler, bucketCap = 16))
    assert(observedSum(obs, "simhash_pairs_buckets_", "ids_over_cap") == (4L * 984, 1), obs)
  }

  test("pathological embedding bucket (1k same-sign vectors) is capped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // all-positive components put every vector in sign-bucket 255 —
    // uncapped, the self-join expands C(1000,2) pairs in one task
    // (VERDICT r6 #2); with cap=16 at most C(16,2)=120 survive
    val same = (1L to 1000L)
      .map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f, 7.0f, 8.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDup(same, bucketCap = 16).cache()
    assert(pairs.count() == 120, "expected exactly C(16,2) pairs from the capped bucket")
    assert(pairs.agg(max("vec_b")).head.getLong(0) <= 16L)
    assert(pairs.where(col("cos") =!= 1.0).count() == 0,
      "identical vectors have cosine 1")
    pairs.unpersist()
    // one sign bucket holds all 1000 vectors
    val obs = observedMetrics(Similarity.embeddingNearDup(same, bucketCap = 16))
    assert(observedSum(obs, "embedding_neardup_buckets_", "ids_over_cap") == (984L, 1), obs)
  }

  /** Σ over keys of the rows a per-key cap of `cap` cuts, when key i of
    * a clique of `n` sorted ids pairs with every larger id. */
  private def cliqueOverCap(n: Int, cap: Int): Long =
    (0 until n).map(i => math.max(0, n - 1 - i - cap).toLong).sum

  test("per-key candidate cap: observed pairs_over_cap equals a direct recount") {
    import spark.implicits._
    // text: a 12-doc duplicate cluster among distinct docs, candCap 3
    val cluster = (1L to 12L).map(i => (i, "one shared cluster text of several words"))
    val others = (13L to 20L).map(i => (i, s"distinct doc $i with private words w$i x$i"))
    val text = (cluster ++ others).toDF("doc_id", "text")
    val jac = Curation.ngramJaccardPairs(text, candCap = 3)
    assert(jac.count() == (0 until cluster.size).map(i => math.min(3, cluster.size - 1 - i)).sum,
      "each cluster doc keeps at most 3 larger partners")
    val tObs = observedMetrics(Curation.ngramJaccardPairs(text, candCap = 3))
    assert(observedSum(tObs, "ngram_jaccard_cands_", "pairs_over_cap") ==
      (cliqueOverCap(cluster.size, 3), 1), tObs)
    // media: 10 identical images share every band; candCap 4
    val img = (1L to 10L).map(i => (i, 6L, 8L, 0x5a5a5a5a5aL))
      .toDF("id", "width", "height", "ahash")
    val iObs = observedMetrics(Multimodal.imageAHashPairs(img, candCap = 4))
    assert(observedSum(iObs, "image_ahash_cands_", "pairs_over_cap") ==
      (cliqueOverCap(10, 4), 1), iObs)
    assert(observedSum(iObs, "image_ahash_buckets_", "ids_over_cap") == (0L, 1), iObs)
  }

  test("screens refuse a bucketCap or candCap below 1 when the frame is built") {
    import spark.implicits._
    val text = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val vecs = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val img = Seq((1L, 6L, 8L, 7L)).toDF("id", "width", "height", "ahash")
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "minhash_lsh_buckets_" -> (c => Dedup.minhashLsh(text, bucketCap = c)),
      "simhash_pairs_buckets_" -> (c => Dedup.simhashPairs(text, bucketCap = c)),
      "embedding_neardup_buckets_" ->
        (c => Similarity.embeddingNearDup(vecs, bucketCap = c)),
      "screened_pairs_buckets_" -> (c => Curation.screenedJaccardPairs(text, bucketCap = c)),
      "ngram_jaccard_cands_" -> (c => Curation.ngramJaccardPairs(text, candCap = c)),
      "ngram_containment_cands_" -> (c => Curation.ngramContainmentPairs(text, candCap = c)),
      "image_ahash_buckets_" -> (c => Multimodal.imageAHashPairs(img, bucketCap = c)),
      "image_ahash_cands_" -> (c => Multimodal.imageAHashPairs(img, candCap = c)))
    val sc = spark.sparkContext
    for ((prefix, op) <- ops; cap <- Seq(0, -1)) {
      // the refusal comes before any Spark job (no pre-flight pass first)
      org.apache.spark.TestBus.drain(sc)
      val jobs = graft.util.JobCounter.install(sc)
      try {
        val e = intercept[IllegalArgumentException](op(cap))
        assert(e.getMessage.contains(prefix), s"$prefix cap=$cap: ${e.getMessage}")
        org.apache.spark.TestBus.drain(sc)
        assert(jobs.count == 0, s"$prefix cap=$cap: ${jobs.count} jobs before the refusal")
      } finally sc.removeSparkListener(jobs)
    }
  }

  test("near-dup clusters: labels are fixpoint-consistent and cover all docs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val labels = Dedup.nearDupClusters(docs).cache()
    assert(labels.count() == docs.count(), "every doc gets a cluster label")
    // a cluster label is always <= the doc id (min-reachable semantics)
    assert(labels.where(col("cluster") > col("doc_id")).count() == 0)
    // fixpoint: both endpoints of every confirmed pair share a label
    val pairs = Dedup.minhashLsh(docs).select("doc_a", "doc_b")
    val la = labels.select(col("doc_id").as("doc_a"), col("cluster").as("ca"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("cluster").as("cb"))
    val split = pairs.join(la, "doc_a").join(lb, "doc_b")
      .where(col("ca") =!= col("cb")).count()
    assert(split == 0, s"$split near-dup pairs straddle two clusters — not converged")
    // transitivity beats the pairwise rule: edges (1-2),(2-3) with NO
    // direct 1-3 pair still collapse to one cluster; 4 stays alone
    val ids = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val chainPairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val cl = Dedup.propagateMinLabels(ids, chainPairs, maxIters = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L),
      s"transitive labels wrong: $cl")
    labels.unpersist()
  }

  test("min-label propagation converges on diameter >> maxIters (pointer doubling)") {
    import spark.implicits._
    // a 60-node path graph: diameter 59 with one-hop propagation needs
    // 59 rounds — the r9 image graph hit exactly this (a diameter-17
    // component exceeded maxIters=15). The closure core's star rounds
    // need O(log² n), so 15 rounds cover it on the distributed path too.
    val n = 60L
    val ids = (0L until n).toDF("doc_id")
    val path = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    for (p <- closurePaths) {
      val cl = onPath(p)(labelMap(Dedup.propagateMinLabels(ids, path, maxIters = 15)))
      assert(cl.values.forall(_ == 0L),
        s"$p: path graph must collapse to cluster 0; got ${cl.filter(_._2 != 0L)}")
    }
  }

  test("media clusters: keep marks exactly one representative per component") {
    import spark.implicits._
    val ids = (1L to 7L).toDF("id")
    val pairs = Seq((1L, 2L, 0L), (2L, 3L, 1L), (5L, 6L, 2L))
      .toDF("id_a", "id_b", "hamming")
    val out = Multimodal.mediaNearDupClusters(ids, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L) == ((1L, 1L, true)) && byId(2L) == ((2L, 1L, false)) &&
      byId(3L) == ((3L, 1L, false)), s"chain 1-2-3 wrong: $out")
    assert(byId(4L) == ((4L, 4L, true)) && byId(7L) == ((7L, 7L, true)),
      "singletons are their own kept representative")
    assert(byId(5L) == ((5L, 5L, true)) && byId(6L) == ((6L, 5L, false)))
    // exactly one keep per cluster
    val keepPerCluster = out.groupBy(_._2).map { case (_, g) => g.count(_._3) }
    assert(keepPerCluster.forall(_ == 1), "one representative per cluster")
  }

  test("media clusters multi: union contraction == per-modality closures") {
    import spark.implicits._
    // overlapping RAW id spaces across modalities (the encoding must
    // isolate them), mixed topologies: a chain, a clique + singleton,
    // an edgeless modality, and NEGATIVE ids spanning zero (the pmod
    // decode must be sign-safe; truncating div would mis-decode)
    val partsIn = Seq(
      ("image", (1L to 6L), Seq((1L, 2L), (2L, 3L), (3L, 4L))),
      ("audio", (1L to 5L), Seq((1L, 2L), (2L, 3L), (1L, 3L))),
      ("video", (2L to 4L), Seq.empty[(Long, Long)]),
      ("neg", (-3L to 1L), Seq((-3L, -1L), (-1L, 1L))))
    val parts = partsIn.map { case (m, ids, ps) =>
      (m, ids.toDF("id"), ps.toDF("id_a", "id_b")) }
    val multi = Multimodal.mediaNearDupClustersMulti(parts)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    val single = parts.flatMap { case (m, ids, ps) =>
      Multimodal.mediaNearDupClusters(ids, ps).collect()
        .map(r => (m, r.getLong(0)) -> (r.getLong(1), r.getBoolean(2)))
    }.toMap
    assert(multi == single,
      s"union closure diverged from per-modality closures:\n" +
        s"multi=$multi\nsingle=$single")
    assert(multi.size == partsIn.map(_._2.size).sum, "one row per (modality, id)")
    // modality isolation despite shared raw ids: image 2 is in the
    // chain's cluster 1, video 2 is a singleton
    assert(multi(("image", 2L)) == ((1L, false)))
    assert(multi(("video", 2L)) == ((2L, true)))
    // negative ids decode exactly: the {-3,-1,1} chain clusters at -3
    // and 0 stays a singleton labelled by itself
    assert(multi(("neg", 1L)) == ((-3L, false)))
    assert(multi(("neg", 0L)) == ((0L, true)))
  }

  test("video fingerprint: re-mux invariant, payload sensitive; pairs surface re-muxes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val frames = (0 until 4).map(f =>
      Array.tabulate(12)(j => ((7 * f + 3 * j) % 256).toByte))
    // same frames, three different CONTAINERS (timescale, delta,
    // keyframe stride all changed) — a re-mux in every metadata axis
    val remux = Seq(
      (1L, graft.ops.Mp4.encode(frames, timescale = 1000, delta = 40, keyStride = 2)),
      (2L, graft.ops.Mp4.encode(frames, timescale = 90000, delta = 3000, keyStride = 1)),
      (3L, graft.ops.Mp4.encode(frames, timescale = 600, delta = 25, keyStride = 4)))
    // and one payload-changed copy: a single byte differs in frame 2
    val tampered = frames.updated(2,
      frames(2).updated(5, (frames(2)(5) ^ 1).toByte))
    val all = (remux :+
      (9L, graft.ops.Mp4.encode(tampered, timescale = 1000, delta = 40, keyStride = 2)))
      .toDF("id", "vid")
    val fps = Multimodal.videoFingerprint(all, "id", "vid").toDF()
    val byId = fps.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(1L) == byId(2L) && byId(2L) == byId(3L),
      "re-muxed copies must fingerprint identically")
    assert(byId(9L) != byId(1L), "a changed payload byte must flip the fingerprint")
    val pairs = Multimodal.videoNearDupPairs(fps)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"exact-fp buckets must pair all re-muxes and nothing else: $pairs")
  }

  test("perceptual video signature: codec transcode + brightness shift + re-mux are invisible; a content edit is a small Hamming step") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one content, four variants (Multimodal.syntheticVideoMp4): v0 BMP,
    // v1 PNG (+16 brightness, re-muxed container), v2/v3 the same with a
    // one-pixel content edit — ids 4c..4c+3
    val c = 5L
    val vids = (0 until 4).map(v => (4 * c + v, Multimodal.syntheticVideoMp4(4 * c + v)))
      .toDF("id", "vid")
    val sig = Multimodal.videoPerceptualHash(vids, "id", "vid").toDF()
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(sig(4 * c) == sig(4 * c + 1),
      "BMP→PNG transcode + brightness shift + re-mux must not move the signature")
    assert(sig(4 * c + 2) == sig(4 * c + 3),
      "the edited pair transcodes to the same signature too")
    val ham = java.lang.Long.bitCount(sig(4 * c) ^ sig(4 * c + 2))
    assert(ham >= 1 && ham <= 6,
      s"one-pixel content edit should flip a few signature bits, got $ham")
    // the headline claim: the EXACT fingerprint cannot see this family
    // (every payload byte differs between v0 and v1), the perceptual
    // pairs op can
    val exact = Multimodal.videoFingerprint(vids, "id", "vid").toDF()
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(exact(4 * c) != exact(4 * c + 1),
      "transcoded copies must NOT collide on the exact container fingerprint")
    val sigs = Multimodal.videoPerceptualHash(vids, "id", "vid").toDF()
    val pairs = Multimodal.videoPerceptualPairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((4 * c, 4 * c + 1, 0L)),
      s"perceptual pairs must surface the transcode at Hamming 0: $pairs")
    assert(pairs.exists { case (a, b, h) => a == 4 * c && b == 4 * c + 2 && h >= 1 },
      s"the content-edited variant should pair at small nonzero Hamming: $pairs")
  }

  test("perceptual video clusters: the transcode family collapses to one keeper through the shared closure") {
    import spark.implicits._
    // two contents × 4 variants; each content is one cluster (variants
    // sit within Hamming ≤ 6 of each other), min id keeps
    val ids = (0L until 8L)
    val vids = ids.map(id => (id, Multimodal.syntheticVideoMp4(id))).toDF("id", "vid")
    val sigs = Multimodal.videoPerceptualHash(vids, "id", "vid").toDF()
    val out = Multimodal.mediaNearDupClusters(sigs.select("id"),
        Multimodal.videoPerceptualPairs(sigs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toList
    val byCluster = out.groupBy(_._2)
    assert(byCluster.keySet == Set(0L, 4L),
      s"two contents → clusters keyed by their min ids: ${byCluster.keySet}")
    assert(out.count(_._3) == 2, "exactly one keeper per content")
    assert(out.filter(_._3).map(_._1).toSet == Set(0L, 4L))
  }

  test("video incremental screen == exact-fp pairs restricted to the batch-vs-corpus straddle") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the exact fingerprint collides at id distance 8960 (dominant
    // period of the closed-form fixtures); blocks of 256 put the two
    // sides of each such pair on opposite parities (8960/256 = 35, odd)
    val ids = ((0L until 300L) ++ (8960L until 9260L))
    val fps = Multimodal.videoFingerprint(
      ids.toDF("id").select(col("id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticMp4(id))))
        .toDF("id", "vid"), "id", "vid").toDF()
    val corpus = fps.where(expr("id div 256") % 2 === 0)
    val batch = fps.where(expr("id div 256") % 2 === 1)
    val inc = Multimodal.incrementalVideoNearDups(corpus, batch,
        bucketCap = 100000, candCap = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val straddle = Multimodal.videoNearDupPairs(fps, bucketCap = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a / 256) % 2 != (b / 256) % 2 }
      .map { case (a, b) => if ((a / 256) % 2 == 1) (a, b) else (b, a) }.toSet
    assert(inc.nonEmpty, "the 256-block split must straddle some re-mux pairs")
    assert(inc == straddle,
      s"incremental video screen diverges from the all-pairs straddle: " +
        s"only-inc=${(inc -- straddle).take(3)} only-pairs=${(straddle -- inc).take(3)}")
    inc.foreach { case (b, cc) =>
      assert((b / 256) % 2 == 1 && (cc / 256) % 2 == 0, "directed batch → corpus") }
  }

  test("video incremental perceptual screen == banded pairs restricted to the straddle") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ids = (0L until 64L)
    val sigs = Multimodal.videoPerceptualHash(
      ids.toDF("id").select(col("id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticVideoMp4(id))))
        .toDF("id", "vid"), "id", "vid").toDF()
    val inc = Multimodal.incrementalVideoPerceptualNearDups(
        sigs.where(expr("id div 2") % 2 === 0),
        sigs.where(expr("id div 2") % 2 === 1),
        bucketCap = 100000, candCap = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val straddle = Multimodal.videoPerceptualPairs(sigs,
        bucketCap = 100000, candCap = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) => (a / 2) % 2 != (b / 2) % 2 }
      .map { case (a, b, h) => if ((a / 2) % 2 == 1) (a, b, h) else (b, a, h) }.toSet
    assert(inc.nonEmpty, "the (id div 2) split must straddle transcode families")
    assert(inc == straddle,
      s"incremental perceptual screen diverges from the all-pairs straddle: " +
        s"only-inc=${(inc -- straddle).take(3)} only-pairs=${(straddle -- inc).take(3)}")
  }

  test("time-aligned sampler absorbs keyframe re-placement; the stride-aligned sampler provably cannot") {
    import spark.implicits._
    // syntheticVideoMp4T varies keyStride 1..4 across variants: the
    // stss sets differ, so stride-aligned sampling hashes DIFFERENT
    // frames — while the stts timeline is preserved, so time-aligned
    // slots hash the SAME frames
    val c = 3L
    val vids = (0 until 4).map(v => (4 * c + v, Multimodal.syntheticVideoMp4T(4 * c + v)))
      .toDF("id", "vid")
    val aligned = Multimodal.videoPerceptualHashTimeAligned(vids, "id", "vid").toDF()
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(aligned(4 * c) == aligned(4 * c + 1),
      "time-aligned: codec+brightness+keyStride transcode must not move the signature")
    assert(aligned(4 * c + 2) == aligned(4 * c + 3))
    val ham = java.lang.Long.bitCount(aligned(4 * c) ^ aligned(4 * c + 2))
    assert(ham >= 1 && ham <= 6, s"content edit should flip a few bits, got $ham")
    // the negative control: the stride-aligned sampler sees different
    // keyframe SETS for v0 (stride 1) vs v1 (stride 2) — either the
    // signature or the sampled-frame count must diverge
    val stride = Multimodal.videoPerceptualHash(vids, "id", "vid").toDF()
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(stride(4 * c) != stride(4 * c + 1),
      "keyStride re-placement must break stride-aligned sampling — " +
        "otherwise the time-aligned variant is unnecessary")
  }

  test("time-aligned sampler is invariant to elst edit lists; ignoring the offset provably misaligns") {
    import spark.implicits._
    import graft.ops.{Bmp, Mp4}
    // re-mux with PRIMING frames + an elst skipping them: the media
    // timeline shifts by |prime|·delta, presentation is unchanged
    def reMux(id: Long, nPrime: Int): Array[Byte] = {
      val plain = Mp4.parse(Multimodal.syntheticVideoMp4T(id))
      val src = Multimodal.syntheticVideoMp4T(id)
      val frames = plain.samples.map(s => plain.sampleBytes(src, s))
      // priming frames: same dimensions, deliberately DIFFERENT pixels —
      // if any slot mistakenly samples one, signatures diverge loudly
      val i0 = Bmp.decode(frames.head) // frames are BMP for even variants
      val prime = Seq.fill(nPrime)(Bmp.encode(i0.width, i0.height,
        (x, y) => ((x * 91 + y * 57) % 256, 255 - (x * 3) % 256, (y * 7) % 256)))
      Mp4.encodeWithEdit(frames, timescale = 600 + 300 * (id % 4).toInt,
        delta = 30 + 7 * (id % 4).toInt, keyStride = 1 + (id % 4).toInt,
        primeFrames = prime)
    }
    // even variants (v=0, 2) carry BMP frames the reMux helper re-wraps
    val ids = Seq(0L, 2L, 8L, 10L, 16L)
    val plain = Multimodal.videoPerceptualHashTimeAligned(
      ids.map(id => (id, Multimodal.syntheticVideoMp4T(id))).toDF("id", "vid"),
      "id", "vid").toDF().collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val edited = Multimodal.videoPerceptualHashTimeAligned(
      ids.map(id => (id, reMux(id, nPrime = 2))).toDF("id", "vid"),
      "id", "vid").toDF().collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(plain == edited,
      s"elst re-mux moved the time-aligned signature: plain=$plain edited=$edited")
    // both directions: the parsed offset is real, and an elst-IGNORANT
    // slot rule (target without the media-time offset) picks a priming
    // frame for slot 0 on every edited fixture — the silent hazard
    ids.foreach { id =>
      val m = Mp4.parse(reMux(id, nPrime = 2))
      assert(m.editMediaTime > 0 && m.editDuration > 0, s"elst not parsed for $id")
      val ignorantSlot0 = m.samples.takeWhile(_.dts <= 0L).last
      val awareSlot0 = m.samples.takeWhile(_.dts <= m.editMediaTime).last
      assert(ignorantSlot0.index != awareSlot0.index,
        s"fixture $id does not exercise the misalignment")
    }
  }

  test("ann recall: hits are within [0, k] and aggregate recall is non-decreasing in nProbe") {
    val emb = graft.sources.Tables(spark, sf, "embeddings")
    val rows = graft.ops.Similarity.annRecall(emb)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, k, hits) =>
      assert(hits >= 0 && hits <= k, s"hits $hits outside [0, $k]") }
    val ivfByProbe = rows.filter(_._1 == "ivf").groupBy(_._2)
      .view.mapValues(_.map(_._4).sum).toMap
    val probes = ivfByProbe.keys.toSeq.sorted
    probes.sliding(2).foreach {
      case Seq(a, b) =>
        assert(ivfByProbe(a) <= ivfByProbe(b),
          s"aggregate recall decreased: nProbe $a=${ivfByProbe(a)} > $b=${ivfByProbe(b)}")
      case _ => ()
    }
    // the curve must not be flat at saturation — the off-centroid query
    // window exists precisely so more probes find more neighbors
    assert(ivfByProbe(probes.head) < ivfByProbe(probes.last),
      s"recall curve is flat ($ivfByProbe) — query window saturated")
  }

  /** The closure core's two paths: the default conf finishes small
    * residual graphs on the driver; a broadcast threshold of -1
    * disables that finish, so every round runs distributed. */
  private val closurePaths = Seq("driver-finish", "distributed")
  private def onPath[T](path: String)(body: => T): T =
    if (path == "distributed") withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
    else body
  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Independent ground truth for the closure core: plain Scala
    * union-find over the same node/edge sets. */
  private def dsuClusters(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(i => i -> find(i)).toMap
  }

  private def closureCases: Seq[(String, Long, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(29)
    Seq.tabulate(6) { s =>
      val n = 60L
      val m = 20 + rnd.nextInt(80)
      (s"random-$s", n, Seq.fill(m)((rnd.nextLong(n), rnd.nextLong(n)))
        .filter { case (a, b) => a != b })
    } ++ Seq(
      // the propagation killer: a 300-node path needs ~300
      // propagation rounds but only O(log^2) contraction rounds —
      // maxIters 25 must converge and label everything 0
      ("path-300", 300L, (0L until 299L).map(i => (i, i + 1))),
      ("clique-40", 50L, for (a <- 0L until 40L; b <- a + 1 until 40L) yield (a, b)),
      ("two-comps", 20L, Seq((0L, 1L), (1L, 2L), (10L, 11L), (11L, 12L), (12L, 10L))),
      ("no-edges", 10L, Seq.empty),
      ("dup-and-reversed", 8L, Seq((3L, 4L), (4L, 3L), (3L, 4L), (6L, 7L))))
  }
  private def closureInput(n: Long, edges: Seq[(Long, Long)]): (DataFrame, DataFrame) = {
    import spark.implicits._
    ((0L until n).toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
  }
  private def assertUnionFind(tag: String, got: Map[Long, Long], want: Map[Long, Long]): Unit =
    assert(got == want, s"$tag: closure diverges from union-find: " +
      s"${(got.toSet -- want.toSet).take(5)} vs ${(want.toSet -- got.toSet).take(5)}")

  test("property: star contraction == union-find on random graphs, chains, cliques") {
    for ((tag, n, edges) <- closureCases) {
      val (ids, pairs) = closureInput(n, edges)
      assertUnionFind(tag, labelMap(Dedup.propagateMinLabels(ids, pairs, 25)),
        dsuClusters(n, edges))
      Dedup.releaseLocalCheckpoint(
        Dedup.propagateMinLabels(ids, pairs, 25)) // exercise release path
    }
  }

  /** Runs `body` with the given session confs, restoring them after. */
  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
  /** AQE would coalesce a small graph's shuffle partitions into one; off,
    * the union-find seeding really runs over `spark.sql.shuffle.partitions`. */
  private val noCoalesce = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"

  /** The edges spread over `parts` partitions by a seeded hash of the
    * edge: a reproducible layout that differs per seed. */
  private def scatter(pairs: DataFrame, parts: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    pairs.repartition(parts, xxhash64(col("doc_a"), col("doc_b"), lit(seed)))
  }

  test("closure labels are partition-independent on both paths") {
    for (parts <- Seq(1, 3, 16); path <- closurePaths;
         ((tag, n, edges), seed) <- closureCases.zipWithIndex) {
      val (ids, pairs) = closureInput(n, edges)
      // scatter the edges over a seeded layout first, so the union-find
      // seeding sees a different partitioning per case
      val scattered = scatter(pairs, 1 + seed % 7, seed.toLong)
      val got = withConfs("spark.sql.shuffle.partitions" -> parts.toString, noCoalesce)(
        onPath(path)(labelMap(Dedup.propagateMinLabels(ids, scattered, 25))))
      assertUnionFind(s"$tag/$parts partitions/$path", got, dsuClusters(n, edges))
    }
  }

  test("driver finish matches distributed star rounds on the media pair-graph shape") {
    import spark.implicits._
    // a candCap-pruned-like graph: several chains + one dense clique
    val edges = (0L until 30L).map(i => (i * 2, i * 2 + 2)).filter(_._2 < 60) ++
      (for (a <- 100L until 110L; b <- a + 1 until 110L) yield (a, b)) ++
      Seq((59L, 100L))
    val ids = (0L until 120L).toDF("doc_id")
    val pairs = edges.toDF("doc_a", "doc_b")
    val Seq(driver, distributed) = closurePaths.map(p =>
      onPath(p)(labelMap(Dedup.propagateMinLabels(ids, pairs, 25))))
    assert(driver == distributed, "the closure core's two paths must agree")
    assert(driver == dsuClusters(120L, edges))
    // the default conf really takes the driver finish: with no star
    // round allowed it still closes the graph, where -1 cannot
    assert(labelMap(Dedup.propagateMinLabels(ids, pairs, maxIters = 0)) == driver)
    intercept[IllegalStateException](
      onPath("distributed")(Dedup.propagateMinLabels(ids, pairs, maxIters = 0)))
  }

  test("closure that hits maxIters throws instead of returning non-closure labels") {
    import spark.implicits._
    // a 2000-node path scattered over 16 partitions, gathered over 64:
    // the seeding's union-find passes each see only short fragments, so
    // its output is not yet a star forest and one distributed round
    // cannot reach the fixpoint
    val n = 2000L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val ids = (0L until n).toDF("doc_id")
    val pairs = scatter(edges.toDF("doc_a", "doc_b"), 16, 3L)
    withConfs("spark.sql.shuffle.partitions" -> "64", noCoalesce) {
      val seeded = Dedup.contractEdges(pairs).collect()
        .map(r => math.min(r.getLong(0), r.getLong(1)))
      assert(seeded.exists(_ != 0L),
        "fixture broken: the seeding alone already reached the star fixpoint")
      val err = intercept[IllegalStateException] {
        onPath("distributed")(Dedup.propagateMinLabels(ids, pairs, maxIters = 1))
      }
      assert(err.getMessage.contains("maxIters=1"), err.getMessage)
      assert(err.getMessage.contains("residual edges"), err.getMessage)
      // the same graph with room to converge is the closure
      assert(onPath("distributed")(labelMap(Dedup.propagateMinLabels(ids, pairs, 25)))
        == dsuClusters(n, edges))
    }
  }

  test("closure on a planted hub graph equals union-find on the distributed path") {
    import spark.implicits._
    // one root with 20k leaves plus a 200-node chain tail: the star
    // rounds route the root's whole neighborhood to one reducer task.
    // Reports the largest per-task shuffle-read record count of the
    // closure's stages over 16 uncoalesced shuffle partitions (the
    // closure-skew measurement).
    val leaves = 20000L
    val n = leaves + 201L
    val edges = (1L to leaves).map(i => (0L, i)) ++
      (leaves until n - 1).map(i => (i, i + 1))
    val ids = (0L until n).toDF("doc_id")
    val pairs = edges.toDF("doc_a", "doc_b")
    import org.apache.spark.scheduler._
    val maxRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val totalRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val (started, ended) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          val r = m.shuffleReadMetrics.recordsRead
          maxRead.accumulateAndGet(r, math.max(_, _))
          totalRead.addAndGet(r)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      val labels = withConfs("spark.sql.shuffle.partitions" -> "16", noCoalesce)(
        onPath("distributed")(labelMap(Dedup.propagateMinLabels(ids, pairs, 25))))
      // a job's task-end events reach the listener before its job-end
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (ended.get < started.get && System.nanoTime() < deadline) Thread.sleep(20)
      labels
    } finally spark.sparkContext.removeSparkListener(listener)
    assertUnionFind("hub-20k", got, dsuClusters(n, edges))
    info(s"largest per-task shuffle-read records in the closure: ${maxRead.get} " +
      s"(all tasks: ${totalRead.get})")
  }

  test("closure releases every superseded round's storage (no soft leak)") {
    import spark.implicits._
    // a 40-node path graph: the distributed path runs several rounds,
    // each of which localCheckpoints an edge frame; on either path only
    // the RESULT's own checkpoint may remain resident afterwards
    // (Dataset.unpersist is a no-op on checkpoint-backed frames)
    val n = 40L
    val ids = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    for (path <- closurePaths) onPath(path) {
      val before = spark.sparkContext.getPersistentRDDs.size
      val out = Dedup.propagateMinLabels(ids, pairs, maxIters = 50)
      assert(out.collect().forall(_.getLong(1) == 0L), s"$path: path graph → one cluster")
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after - before <= 1,
        s"$path: superseded rounds leaked cached blocks: $before -> $after persistent RDDs")
      Dedup.releaseLocalCheckpoint(out)
    }
  }

  test("banded-Hamming guarantee: under non-binding caps, NO pair within maxHamming = bands-1 is missed") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 300 random 16-bit hashes in one dimension group: with 4 bands of
    // 4 bits, any pair at Hamming ≤ 3 shares at least one exact band
    // (pigeonhole), so the screen with non-binding caps must surface
    // EVERY such pair — the exhaustive check of the banding guarantee
    val rnd = new scala.util.Random(17)
    val hs = (0L until 300L).map(i => (i, rnd.nextInt(1 << 16).toLong))
    val df = hs.toDF("id", "fp")
      .withColumn("channels", lit(1L)).withColumn("n_windows", lit(16L))
    val got = Multimodal.audioFingerprintPairs(df,
        maxHamming = 3, bucketCap = 100000, candCap = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(want.nonEmpty, "fixture produced no close pairs — seed broken")
    assert(got == want,
      s"banding guarantee violated: missed=${(want -- got).take(5)} " +
        s"spurious=${(got -- want).take(5)}")
  }

  test("incremental image screen == all-pairs restricted to the batch-vs-corpus straddle") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val hashes = Multimodal.imageAHash(
      spark.range(400).select(col("id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticBmp(id))))
        .toDF("id", "img"), "id", "img").toDF()
    // dims repeat with period 20 (w: id%5, h: id%4), so a parity split
    // would never straddle a same-dimension pair; split on blocks of 20
    val corpus = hashes.where(expr("id div 20") % 2 === 0)
    val batch = hashes.where(expr("id div 20") % 2 === 1)
    // non-binding caps: equality must hold exactly (same bands, same
    // confirm) — no candidate lost by going incremental
    val inc = Multimodal.incrementalImageNearDups(corpus, batch,
        bucketCap = 100000, candCap = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val straddle = Multimodal.imageAHashPairs(hashes,
        bucketCap = 100000, candCap = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) => (a / 20) % 2 != (b / 20) % 2 }
      .map { case (a, b, h) => if ((a / 20) % 2 == 1) (a, b, h) else (b, a, h) }.toSet
    assert(inc.nonEmpty, "block split must straddle some near-dup pairs")
    assert(inc == straddle,
      s"incremental screen diverges from all-pairs straddle: " +
        s"only-inc=${(inc -- straddle).take(3)} only-pairs=${(straddle -- inc).take(3)}")
    // every pair is directed batch -> corpus
    inc.foreach { case (b, c, _) => assert((b / 20) % 2 == 1 && (c / 20) % 2 == 0) }
  }

  test("audio pairs: gain-scaled re-encodes of a clip pair up at Hamming 0") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // same material at different volumes: fingerprints are identical
    // (spec'd on audioFingerprint); the PAIRS op must surface them
    def wav(gain: Int) = graft.ops.Wav.encode(1, 8000, 40, (f, _) =>
      (((f % 7) - 3) * 600 * gain).toShort)
    val clips = Seq((1L, wav(1)), (2L, wav(3)), (3L, wav(10))).toDF("id", "clip")
    val fps = Multimodal.audioFingerprint(clips, "id", "clip").toDF()
    val got = Multimodal.audioFingerprintPairs(fps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L)),
      s"gain-invariant trio must form all 3 pairs at Hamming 0: $got")
    // and a different-material clip with the same framing does NOT pair
    // at Hamming <= 3 unless its delta signs agree
    val other = Seq((9L, graft.ops.Wav.encode(1, 8000, 40, (f, _) =>
      (((f % 13) - 6) * 500).toShort))).toDF("id", "clip")
    val fps2 = Multimodal.audioFingerprint(clips.union(other), "id", "clip").toDF()
    val ids9 = Multimodal.audioFingerprintPairs(fps2)
      .where(col("id_a") === 9L || col("id_b") === 9L).count()
    assert(ids9 == 0, "different periodic material must not pair at Hamming<=3")
  }

  test("incremental dedup == all-pairs LSH restricted to the batch-vs-corpus straddle") {
    import org.apache.spark.sql.functions._
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)
    val inc = Dedup.incrementalNearDups(corpus, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc.nonEmpty, "planted near-dups straddle the parity split")
    // every pair is directed batch(odd) -> corpus(even)
    inc.foreach { case (b, c, _) => assert(b % 2 == 1 && c % 2 == 0, s"($b,$c)") }
    // with non-binding caps the incremental result must be EXACTLY the
    // all-pairs LSH pairs that straddle the split (same bands, same
    // confirm) — no pair lost by going incremental
    val straddle = Dedup.minhashLsh(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) => if (a % 2 == 1) (a, b, j) else (b, a, j) }.toSet
    assert(inc == straddle,
      s"missing ${straddle -- inc}, extra ${inc -- straddle}")
    val plan = planOf(Dedup.incrementalNearDups(corpus, batch))
    assert(!plan.contains("CartesianProduct"),
      "incremental candidates must equi-join on the band key")
  }

  test("band-screened exact pairs = exhaustive pairs restricted to LSH candidates") {
    import org.apache.spark.sql.functions._
    // with non-binding caps the screened result must be a SUBSET of the
    // exhaustive op (same df-capped confirm, fewer candidates), and on
    // the fixture's ~0.99-jaccard planted pairs the LSH screen misses
    // with p≈1e-5 — so coverage should be essentially total
    val exJ = Curation.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scJ = Curation.screenedJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(scJ.nonEmpty, "screen found no pairs")
    assert(scJ.subsetOf(exJ), s"screened pairs not in exhaustive: ${scJ -- exJ}")
    assert(scJ.size >= (exJ.size * 0.9).toInt,
      s"screen recall too low: ${scJ.size} of ${exJ.size}")
    val exC = Curation.ngramContainmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scC = Curation.screenedContainmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(scC.subsetOf(exC), s"screened containment not in exhaustive: ${scC -- exC}")
    val plan = planOf(Curation.screenedJaccardPairs(docs))
    assert(!plan.contains("CartesianProduct"),
      "screened confirm must stay equi-join shaped")
  }

  test("LSH index lifecycle: append equals rebuild; re-screen sees admissions; compact forgets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)
    val index = Dedup.bandedKeys(corpus, 12, 4, 3)
    // index-read screen path == recompute-the-corpus screen path
    val viaIndex = Dedup.incrementalNearDupsWithIndex(index, corpus, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Dedup.incrementalNearDups(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex == direct, "index-read screen must equal direct screen")
    // append admitted docs: the maintained index == a from-scratch rebuild
    val admitted = batch.join(
      viaIndex.map(_._1).toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
    val appended = Dedup.indexAppend(index, admitted)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val rebuilt = Dedup.bandedKeys(corpus.unionByName(admitted), 12, 4, 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(appended == rebuilt, "append must equal from-scratch rebuild")
    // re-screen: a copy of an admitted doc (new id) is now caught by the
    // maintained index, pointing at the admitted doc
    val admittedOne = admitted.orderBy("doc_id").limit(1)
      .collect().map(r => (r.getLong(0), r.getString(1))).head
    val copyDf = Seq((999901L, admittedOne._2)).toDF("doc_id", "text")
    val appendedIdx = appended.toSeq.toDF("doc_id", "bk")
    val newCorpus = corpus.unionByName(admitted)
    val rescreen = Dedup.incrementalNearDupsWithIndex(appendedIdx, newCorpus, copyDf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rescreen.contains((999901L, admittedOne._1)),
      s"re-screen must catch the admitted doc's copy: $rescreen")
    // compact the admitted doc out: its copy screens clean against it
    val compacted = Dedup.indexCompact(appendedIdx,
      Seq(admittedOne._1).toDF("doc_id"))
    val after = Dedup.incrementalNearDupsWithIndex(compacted, newCorpus, copyDf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!after.contains((999901L, admittedOne._1)),
      "compacted doc must no longer match")
  }

  test("cluster-size histogram partitions the corpus") {
    val hist = Dedup.clusterSizeHistogram(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist.map { case (size, n) => size * n }.sum == docs.count(),
      s"sizes x counts must cover every document: $hist")
    assert(hist.exists { case (size, _) => size > 1 },
      "corpus has planted near-dup clusters")
  }

  test("exact dedup covers every document exactly once") {
    import org.apache.spark.sql.functions._
    val d = Dedup.exact(docs)
    assert(d.agg(sum("n_copies")).head.getLong(0) == docs.count())
  }

  test("ann: brute-force returns k neighbors per query; bucket variant joins only buckets") {
    val bf = Similarity.bruteForceTopK(emb, maxQueryId = 5, k = 3)
    val counts = bf.groupBy("qid").count().collect()
    assert(counts.length == 5 && counts.forall(_.getLong(1) == 3))
    val plan = planOf(Similarity.bucketTopK(emb))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "bucketed ANN must be an equi-join on the bucket id")
    // bucket results are a subset of same-bucket candidates with correct order
    val bk = Similarity.bucketTopK(emb, maxQueryId = 5, k = 3)
    assert(bk.count() > 0)
  }

  test("IVF ANN: partition+probe recalls most brute-force neighbors, no cartesian") {
    import spark.implicits._
    val bf = Similarity.bruteForceTopK(emb, maxQueryId = 10, k = 3)
      .select("qid", "nn_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, maxQueryId = 10, k = 3)
    val got = ivf.select("qid", "nn_id").as[(Long, Long)].collect().toSet
    // every query produced answers, at most k each
    val perQ = ivf.groupBy("qid").count().collect()
    assert(perQ.length == 10 && perQ.forall(_.getLong(1) <= 3))
    // probing 2/16 cells still recalls a meaningful share of true top-k
    val recall = bf.intersect(got).size.toDouble / bf.size
    assert(recall >= 0.3, f"IVF recall $recall%.2f vs brute force too low")
    val plan = planOf(Similarity.ivfTopK(emb))
    assert(!plan.contains("CartesianProduct"),
      "IVF must probe via equi-join on the cell id, never a cartesian")
  }

  test("IVF index lifecycle: two-generation append equals a single rebuild, probe included") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cents = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("emb").as("ce"))
    // the artifact level: appended generations are bit-identical rows
    val rebuilt = Similarity.ivfAssign(e, cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val appended = Similarity.ivfAssign(e.where(col("vec_id") % 2 === 0), cents)
      .unionByName(Similarity.ivfAssign(e.where(col("vec_id") % 2 === 1), cents))
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(appended == rebuilt, "per-generation assignment must equal a rebuild")
    // and the probe level: identical answers
    val a = Similarity.ivfProbe(Similarity.ivfAssign(e, cents), e, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = SparkEntry.queries("ann_index_lifecycle")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("IVF-PQ: ADC ranking recalls same-cell exact-L2 neighbors, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pq = Similarity.ivfPqTopK(emb, maxQueryId = 10, k = 3).cache()
    val perQ = pq.groupBy("qid").count().collect()
    assert(perQ.length == 10 && perQ.forall(_.getLong(1) <= 3))
    // ADC distances are nonnegative and finite
    assert(pq.where(col("adc") < 0 || col("adc").isNull).count() == 0)
    // the PQ approximation should still recall a meaningful share of the
    // exact top-k (same probe budget as ivfTopK; codes quantize the rest)
    val bf = Similarity.bruteForceTopK(emb, maxQueryId = 10, k = 3)
      .select("qid", "nn_id").as[(Long, Long)].collect().toSet
    val got = pq.select("qid", "nn_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(got).size.toDouble / bf.size
    assert(recall >= 0.2, f"IVF-PQ recall $recall%.2f vs brute force too low")
    val plan = planOf(Similarity.ivfPqTopK(emb))
    assert(!plan.contains("CartesianProduct"),
      "PQ scoring must stay equi-join + table-lookup shaped")
    pq.unpersist()
  }

  test("k-means quantizer: Lloyd's objective non-increasing; trained IVF still answers") {
    val init = Similarity.trainCentroids(emb, k = 8, iters = 0)
    val trained = Similarity.trainCentroids(emb, k = 8, iters = 2).cache()
    assert(trained.count() == 8, "quantizer must stay k-wide (empty cells kept)")
    val obj0 = Similarity.kmeansObjective(emb, init)
    val obj2 = Similarity.kmeansObjective(emb, trained)
    assert(obj2 <= obj0 + 1e-6, f"objective rose: $obj0%.4f -> $obj2%.4f")
    val res = Similarity.ivfTopK(emb, maxQueryId = 5, k = 3,
      centroids = Some(trained))
    val perQ = res.groupBy("qid").count().collect()
    assert(perQ.length == 5 && perQ.forall(_.getLong(1) <= 3))
    trained.unpersist()
    // sample-trained variant: a quarter of the collection still seeds a
    // FULL-width quantizer (initMaxId lifts the id bound to k·s) and the
    // resulting index answers every query
    import org.apache.spark.sql.functions.col
    val sampled = Similarity.trainCentroids(
      emb.where(col("vec_id") % 4 === 0), k = 16, iters = 2,
      scale = Some(6), initMaxId = Some(64))
    assert(sampled.count() == 16, "sampled quantizer must stay k-wide")
    val sres = Similarity.ivfTopK(emb, maxQueryId = 5, k = 3,
      centroids = Some(sampled))
    val sPerQ = sres.groupBy("qid").count().collect()
    assert(sPerQ.length == 5 && sPerQ.forall(_.getLong(1) <= 3))
  }

  test("k-means quantizer: a collection with no vector below the seed bound fails, naming the bound") {
    import org.apache.spark.sql.functions.col
    // every vec_id is >= 100, so no vector seeds the k = 8 quantizer:
    // training must refuse instead of returning zero centroids
    val e = intercept[IllegalArgumentException](
      Similarity.trainCentroids(emb.where(col("vec_id") >= 100), k = 8))
    assert(e.getMessage.contains("vec_id < 8"), e.getMessage)
  }

  test("grouped Lloyd's training decomposes exactly into per-group trainCentroids") {
    import org.apache.spark.sql.functions._
    // the PQ encoder's subspace slices, as groups: the ONE-job grouped
    // trainer must reproduce each subspace's independent training
    // bit-for-bit (same seeds, same 6-dp assignment, same means)
    val m = 4; val subDim = 16; val ksub = 8
    val sub = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), explode(array((0 until m).map(j =>
        struct(lit(j).as("g"),
          slice(col("emb"), j * subDim + 1, subDim).as("emb"))): _*)).as("s"))
      .select(col("s.g").as("g"), col("vec_id"), col("s.emb").as("emb"))
    val grouped = Similarity.trainCentroidsGrouped(sub, ksub, iters = 2,
        scale = Some(6))
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getSeq[Double](2))
      .toMap
    assert(grouped.size == m * ksub, s"expected ${m * ksub} centroids")
    for (j <- 0 until m) {
      val solo = Similarity.trainCentroids(
        emb.select(col("vec_id"),
          slice(col("embedding").cast("array<double>"),
            j * subDim + 1, subDim).as("embedding")),
        ksub, iters = 2, scale = Some(6))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      for ((cid, ce) <- solo)
        assert(grouped((j.toLong, cid)) == ce,
          s"subspace $j centroid $cid diverged from the solo training")
    }
  }

  test("semantic dedup: partition of the corpus, min-id keepers, cell-local dups") {
    import org.apache.spark.sql.functions._
    val out = Similarity.semanticDedup(emb, threshold = 0.25).cache()
    try {
      // one row per vector; keep flag is exactly dup_of-is-null
      assert(out.count() == emb.count())
      assert(out.where((col("keep") === 1) =!= col("dup_of").isNull).count() == 0)
      val rows = out.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      assert(rows.values.exists(_._2 == 0), "corpus has cosine-dups at 0.25")
      // brute-force confirm against direct per-cell cosine: dup_of must be
      // the SMALLEST lower-id same-cell member at rounded cos >= t, and
      // keepers must have none
      val vecs = emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
        BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val byCell = rows.toSeq.groupBy(_._2._1)
      byCell.foreach { case (_, members) =>
        val ids = members.map(_._1).sorted
        members.foreach { case (id, (_, keepFlag, dupOf)) =>
          val lowerDups = ids.filter(o => o < id && cos(vecs(o), vecs(id)) >= 0.25)
          if (keepFlag == 1) assert(lowerDups.isEmpty,
            s"vec $id kept but has cell dups $lowerDups")
          else assert(dupOf == lowerDups.min,
            s"vec $id dup_of $dupOf != min lower dup ${lowerDups.min}")
        }
      }
      // candidate generation must be the cell equi-join, never a cartesian
      val plan = planOf(Similarity.semanticDedup(emb, threshold = 0.25))
      assert(!plan.contains("CartesianProduct"),
        "semantic dedup must pair within cells via equi-join")
    } finally out.unpersist()
  }

  test("audio energy windows: exact partition of samples, brute-force energies") {
    import spark.implicits._
    import graft.ops.Wav
    val in = Seq(3L, 4L, 7L).map(id => (id, Multimodal.syntheticWav(id)))
      .toDF("id", "clip")
    val got = Multimodal.audioEnergyWindows(in, "id", "clip").collect()
      .map(w => (w.id, w.win) -> ((w.n_samples, w.energy))).toMap
    Seq(3L, 4L, 7L).foreach { id =>
      val clip = Wav.decode(Multimodal.syntheticWav(id))
      val perWin = 16 * clip.channels
      val wins = clip.samples.grouped(perWin).toSeq
      // windows partition the samples; tail partial
      assert(got.keys.count(_._1 == id) == wins.length)
      wins.zipWithIndex.foreach { case (w, i) =>
        val e = w.map(v => v.toLong * v).sum
        assert(got((id, i.toLong)) == ((w.length.toLong, e)),
          s"clip $id window $i")
      }
    }
  }

  test("resize plan: byte-derived pseudo dims, fitted inside maxDim with aspect kept") {
    import spark.implicits._
    // "AB": Σ bytes 131 → w = 1 + 131 % 64 = 4, h = 1 + 2 = 3 (already fits);
    // 40 × 'z': Σ 4880 → w = 1 + 16 = 17, h = 41 → w1 = ⌊17·32/41⌋ = 13, h1 = 32;
    // a null payload counts as empty → 1 × 1
    val df = Seq((1L, "AB"), (2L, "z" * 40), (3L, null)).toDF("event_id", "props")
    val got = Multimodal.resizePlan(df).as[(Long, Int, Int, Int, Int)].collect().toSet
    assert(got == Set((1L, 4, 3, 4, 3), (2L, 17, 41, 13, 32), (3L, 1, 1, 1, 1)))
  }

  test("TTL shadow columns: validation, expiry semantics (K4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "a", 10L), (2L, "b", 100L), (3L, "c", -1L))
      .toDF("id", "v", "ttl0")
      .withColumn("ttl_v", when(col("ttl0") >= 0, col("ttl0"))).drop("ttl0")
    assert(graft.sinks.TtlColumns.ttlPairs(df) == Seq(("v", "ttl_v")))
    val out = graft.sinks.TtlColumns.expire(df, 50)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), if (r.isNullAt(2)) -1 else r.getLong(2)))
    // ttl 10 <= 50 → cell expired; ttl 100 → survives with 50 left; no ttl → untouched
    assert(out.toSeq == Seq((1L, None, -1L), (2L, Some("b"), 50L), (3L, Some("c"), -1L)))
    val orphan = Seq((1L, 5L)).toDF("id", "ttl_ghost")
    intercept[IllegalArgumentException](graft.sinks.TtlColumns.expire(orphan, 1))
  }

  test("UDF registry: name gating and transform-allowlist opt-in (§2.8)") {
    import graft.functions.UdfRegistry
    // shadowing a builtin without the graft_ prefix is refused
    intercept[IllegalArgumentException](
      UdfRegistry.registerString(spark, "upper", identity))
    intercept[IllegalArgumentException](
      UdfRegistry.registerString(spark, "bad name!", identity))
    // the graft_ prefix is NOT a license to replace the engine's own
    // native expressions — that would silently change every validated
    // transform that calls them
    intercept[IllegalArgumentException](
      UdfRegistry.registerString(spark, "graft_fnv1a32", identity))
    intercept[IllegalArgumentException](
      UdfRegistry.registerLong(spark, "GRAFT_COSINE", identity))
    val n = "graft_test_rev_" + System.nanoTime()
    UdfRegistry.registerString(spark, n, s => if (s == null) null else s.reverse)
    // not usable in transforms until opted in
    assert(graft.core.ExpressionValidator.validate(spark, s"$n(c_name)").isLeft)
    UdfRegistry.allowInTransforms(n)
    assert(graft.core.ExpressionValidator.validate(spark, s"$n(c_name)").isRight)
  }

  test("streaming window counts == batch computation") {
    import org.apache.spark.sql.functions._
    val stream = StreamingIngest.windowCounts(spark, sf)
    val batch = events.groupBy(
        date_trunc("hour", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty)
  }

  test("streaming incremental dedup == the batch operator, row for row") {
    import org.apache.spark.sql.functions._
    val stream = StreamingIngest.incrementalDedupStream(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.incrementalNearDups(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stream.nonEmpty, "planted near-dups straddle the split")
    assert(stream == batch,
      s"missing ${batch -- stream}, extra ${stream -- batch}")
  }

  test("append-mode streaming emits exactly the watermark-closed windows, durably") {
    import org.apache.spark.sql.functions._
    val appended = StreamingIngest.windowCountsAppend(spark, sf)
    val maxTs = events.agg(max("ts")).head.getTimestamp(0)
    val closed = events.groupBy(
        date_trunc("hour", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("w_start") + expr("INTERVAL 1 HOUR") <=
        lit(maxTs) - expr("INTERVAL 1 HOUR"))
    assert(appended.count() > 0, "append run emitted nothing — watermark never evicted")
    assert(appended.except(closed).isEmpty && closed.except(appended).isEmpty,
      "append output must equal the batch aggregation over closed windows")
  }

  test("BMP codec: encode/decode round-trips every padding width, both row orders") {
    import graft.ops.Bmp
    // widths 1-8 cover every row-padding remainder (3w % 4 in 0..3)
    for (w <- 1 to 8; h <- Seq(1, 3, 5)) {
      val img = Bmp.decode(Bmp.encode(w, h,
        (x, y) => ((x * 40 + y) % 256, (y * 50 + x) % 256, (x + y * 90) % 256)))
      assert(img.width == w && img.height == h)
      for (y <- 0 until h; x <- 0 until w) {
        val p = img.pixels(y * w + x)
        assert(((p >> 16) & 0xff) == (x * 40 + y) % 256, s"R at ($x,$y) ${w}x$h")
        assert(((p >> 8) & 0xff) == (y * 50 + x) % 256, s"G at ($x,$y) ${w}x$h")
        assert((p & 0xff) == (x + y * 90) % 256, s"B at ($x,$y) ${w}x$h")
      }
    }
    // TOP-DOWN variant (negative height) — flip the height field of an
    // encoded file and reverse its row order; decode must agree
    val base = Bmp.encode(3, 2, (x, y) => (x, y, x + y))
    val stride = 12 // 3px * 3B = 9, padded to 12
    val flipped = base.clone()
    val neg = -2
    flipped(22) = neg.toByte; flipped(23) = (neg >> 8).toByte
    flipped(24) = (neg >> 16).toByte; flipped(25) = (neg >> 24).toByte
    for (r <- 0 until 2; i <- 0 until stride)
      flipped(54 + r * stride + i) = base(54 + (1 - r) * stride + i)
    val (td, bu) = (Bmp.decode(flipped), Bmp.decode(base))
    assert(td.width == bu.width && td.height == bu.height)
    assert(td.pixels.sameElements(bu.pixels),
      "top-down decode must yield the same top-down pixel order")
  }

  test("BMP codec: golden bytes for a 2x2 image (format conformance, not just round-trip)") {
    import graft.ops.Bmp
    // pixels (r,g,b): (0,0)=(255,0,0) (1,0)=(0,255,0) (0,1)=(0,0,255) (1,1)=(9,8,7)
    val bytes = Bmp.encode(2, 2, (x, y) => (x, y) match {
      case (0, 0) => (255, 0, 0); case (1, 0) => (0, 255, 0)
      case (0, 1) => (0, 0, 255); case _ => (9, 8, 7)
    })
    def hex(bs: Array[Byte]) = bs.map("%02x".format(_)).mkString
    // hand-assembled reference bytes: 14B file header (size 70 = 0x46,
    // offset 54 = 0x36), 40B info header (2x2, 1 plane, 24bpp, BI_RGB,
    // pixel data 16B), pixel array of bottom-up rows padded to 8B
    assert(bytes.length == 70)
    assert(hex(bytes.take(14)) == "424d4600000000000000" + "36000000")
    assert(hex(bytes.slice(14, 54)) ==
      "280000000200000002000000010018000000000010000000000000000000000000000000" +
      "00000000")
    // bottom-up: file row 0 is image row 1 → BGR(0,0,255)=ff0000, BGR of
    // (9,8,7)=070809, 2 pad bytes; file row 1 is image row 0 →
    // BGR(255,0,0)=0000ff, BGR(0,255,0)=00ff00, 2 pad bytes
    assert(hex(bytes.slice(54, 62)) == "ff00000708090000")
    assert(hex(bytes.slice(62, 70)) == "0000ff00ff000000")
  }

  test("BMP codec refuses what it cannot decode, loudly") {
    import graft.ops.Bmp
    intercept[IllegalArgumentException](Bmp.decode(null))
    intercept[IllegalArgumentException](Bmp.decode(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](
      Bmp.decode("XX".getBytes ++ new Array[Byte](60))) // wrong magic
    val good = Bmp.encode(2, 2, (_, _) => (1, 2, 3))
    val bpp8 = good.clone(); bpp8(28) = 8 // unsupported bit depth
    intercept[IllegalArgumentException](Bmp.decode(bpp8))
    val rle = good.clone(); rle(30) = 1 // BI_RLE8 compression
    intercept[IllegalArgumentException](Bmp.decode(rle))
    intercept[IllegalArgumentException](Bmp.decode(good.dropRight(4))) // truncated pixels
  }

  test("codec round-trip property: random dims/samples survive encode→decode exactly") {
    import graft.ops.{Bmp, Wav}
    import org.scalacheck.Gen
    def sample[T](g: Gen[T], seed: Long): T =
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
        .getOrElse(sys.error("gen failed"))
    for (i <- 0 until 20) {
      val (w, h) = sample(Gen.zip(Gen.choose(1, 40), Gen.choose(1, 40)), 7000L + i)
      val rgb = (x: Int, y: Int) => ((x * 31 + y * 7 + i) % 256,
        (x * 13 + y * 17) % 256, (x + y * 3 + i * 5) % 256)
      val img = Bmp.decode(Bmp.encode(w, h, rgb))
      assert(img.width == w && img.height == h)
      for (x <- 0 until w; y <- 0 until h) {
        val (r, g, b) = rgb(x, y)
        assert(img.pixels(y * w + x) == ((r << 16) | (g << 8) | b),
          s"pixel ($x,$y) of ${w}x$h seed $i")
      }
      val (ch, nf) = sample(Gen.zip(Gen.choose(1, 3), Gen.choose(0, 50)), 8000L + i)
      val pcm = (f: Int, c: Int) => ((f * 977 + c * 131 + i * 7919) % 65536 - 32768).toShort
      val clip = Wav.decode(Wav.encode(ch, 44100, nf, pcm))
      assert(clip.channels == ch && clip.frames == nf)
      for (f <- 0 until nf; c <- 0 until ch)
        assert(clip.samples(f * ch + c) == pcm(f, c))
    }
  }

  test("BMP/WAV codecs fail loudly on hostile headers (no Int-overflow crashes)") {
    import graft.ops.{Bmp, Wav}
    def put32(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    val good = Bmp.encode(2, 2, (_, _) => (1, 2, 3))
    // huge declared dimensions: stride*height and width*height overflow
    // Int — must hit the bounds require, not NegativeArraySizeException
    val huge = good.clone(); put32(huge, 18, 50000); put32(huge, 22, 50000)
    val e1 = intercept[IllegalArgumentException](Bmp.decode(huge))
    assert(e1.getMessage.contains("truncated pixel array"), e1.getMessage)
    // negative pixel-data offset: must hit the offset require, not AIOOBE
    val negOff = good.clone(); put32(negOff, 10, -100)
    val e2 = intercept[IllegalArgumentException](Bmp.decode(negOff))
    assert(e2.getMessage.contains("pixel-data offset"), e2.getMessage)
    // WAV chunk size near Int.MaxValue: off+8+size wraps negative in Int
    // — must hit the overrun require, not a ~2 GB allocation
    val wav = Wav.encode(1, 8000, 2, (f, _) => f.toShort)
    val bomb = wav.clone(); put32(bomb, 40, 0x7ffffff4)
    val e3 = intercept[IllegalArgumentException](Wav.decode(bomb))
    assert(e3.getMessage.contains("overruns the file"), e3.getMessage)
  }

  test("z-order layout: pinned morton values; z-ordered files bound BOTH dimensions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // identity quantization on [0,7] at 3 bits — pinned interleave values
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (7L, 7L)).toDF("x", "y")
    val z = Layout.withZValueStatic(pts, "x", "y", (0L, 7L), (0L, 7L), bits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z((0L, 0L)) == 0 && z((1L, 0L)) == 1 && z((0L, 1L)) == 2 &&
      z((5L, 3L)) == 27 && z((7L, 7L)) == 63, z.toString)

    // static-range clamp: appended rows OUTSIDE the declared range land
    // on the curve's edge cells (same z as the boundary), never
    // interleave overflow/sign bits
    val oob = Seq((1500L, 3L), (7L, 3L), (-9L, 0L), (0L, 0L)).toDF("x", "y")
    val zo = Layout.withZValueStatic(oob, "x", "y", (0L, 7L), (0L, 7L), bits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(zo((1500L, 3L)) == zo((7L, 3L)), "overflow row must clamp to the hi edge")
    assert(zo((-9L, 0L)) == zo((0L, 0L)), "underflow row must clamp to the lo edge")

    // layout benefit: 8 z-ordered files each cover a small bounding BOX,
    // so per-file min/max prunes on EITHER column; a single-column sort
    // leaves the other column's per-file span at ~the full range
    val o = docs.sparkSession.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val dir = tempDir("zorder")
    Layout.writeZOrdered(o, s"$dir/z", "o_orderkey", "o_custkey", numFiles = 8)
    o.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.parquet(s"$dir/naive")
    def avgSpan(path: String, c: String): Double = {
      val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length >= 4, s"expected several files under $path")
      val spans = files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(org.apache.spark.sql.functions.min(col(c)).cast("long"),
            org.apache.spark.sql.functions.max(col(c)).cast("long")).head
        (r.getLong(1) - r.getLong(0)).toDouble
      }
      spans.sum / spans.length
    }
    val custNaive = avgSpan(s"$dir/naive", "o_custkey")
    val custZ = avgSpan(s"$dir/z", "o_custkey")
    val okeyGlobal = {
      val r = o.agg(org.apache.spark.sql.functions.min(col("o_orderkey")).cast("long"),
        org.apache.spark.sql.functions.max(col("o_orderkey")).cast("long")).head
      (r.getLong(1) - r.getLong(0)).toDouble
    }
    val okeyZ = avgSpan(s"$dir/z", "o_orderkey")
    assert(custZ < 0.7 * custNaive,
      s"z-order custkey span $custZ not smaller than single-sort $custNaive")
    assert(okeyZ < 0.7 * okeyGlobal,
      s"z-order orderkey span $okeyZ ~ global $okeyGlobal: no locality")
  }

  test("compaction: fewer files, identical content, clustering preserved") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("compact")
    val docs2 = docs
    docs2.repartition(48).write.parquet(s"$dir/frag")
    def files(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files(s"$dir/frag").length == 48)
    Layout.compact(spark, s"$dir/frag", s"$dir/out",
      targetBytes = 1L << 20, sortCol = "doc_id")
    val out = files(s"$dir/out")
    assert(out.length < 48, s"compaction produced ${out.length} files")
    // lossless
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == docs2.count())
    assert(back.except(docs2).isEmpty && docs2.except(back).isEmpty)
    // clustering: per-file doc_id ranges must be pairwise DISJOINT, so
    // min/max pruning still works after compaction
    val ranges = out.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(org.apache.spark.sql.functions.min(col("doc_id")),
          org.apache.spark.sql.functions.max(col("doc_id"))).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi < lo, s"overlapping file ranges after sorted compaction: $hi >= $lo")
      case _ => ()
    }
  }

  test("unigram logprob: hand-computed scores, exact decimal aggregation") {
    import spark.implicits._
    // total 4 tokens: a×3, b×1 → ln(3/4) = -0.287682, ln(1/4) = -1.386294
    val tiny = Seq((1L, "a a b"), (2L, "a")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // doc1: (2×-0.287682 + -1.386294)/3 = -0.653886 (exact decimal sum)
    assert(got(1L) == ((-0.653886, 3L)), got(1L).toString)
    assert(got(2L) == ((-0.287682, 1L)), got(2L).toString)
    // real corpus: one score per doc, all finite negatives
    val real = TextAnalysis.unigramLogProb(docs).collect()
    assert(real.length == docs.count())
    assert(real.forall(r => r.getDouble(1) < 0 && !r.getDouble(1).isNaN))
  }

  test("bigram logprob: hand-computed add-1 scores; docs without bigrams drop out") {
    import spark.implicits._
    // vocab {a,b,x} (V=3); bigrams d1: (a,b),(b,a); d2: (b,a); d3: none
    val tiny = Seq((1L, "a b a"), (2L, "b a"), (3L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got.size == 2 && !got.contains(3L), got.toString)
    // lp(a,b) = ln((1+1)/(1+3)) = -0.693147 ; lp(b,a) = ln((2+1)/(2+3)) = -0.510826
    // the portable fixed-point contract (Portable.fx): floor(x·1e6+0.5)/1e6 —
    // ties round toward +∞ (this mean is the exact tie -0.6019865, where
    // BigDecimal HALF_UP would give -0.601987 instead; cross-engine
    // portability governs, so the fx behavior is the spec)
    def round6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
    val d1 = round6((BigDecimal("-0.693147") + BigDecimal("-0.510826")).toDouble / 2)
    assert(got(1L) == ((d1, 2L)), s"${got(1L)} vs expected ($d1, 2)")
    assert(got(2L) == ((-0.510826, 1L)), got(2L).toString)
    // real corpus: finite negatives, fewer-or-equal rows than docs
    val real = TextAnalysis.bigramLogProb(docs).collect()
    assert(real.nonEmpty && real.length <= docs.count())
    assert(real.forall(r => r.getDouble(1) < 0 && !r.getDouble(1).isNaN))
  }

  test("dsir selection: target-like docs outrank off-distribution docs; k-th-entry tie rule exact") {
    import spark.implicits._
    // two disjoint vocabularies; the target slice speaks vocab A, so
    // every A-speaking raw doc must outweigh every B-speaking one
    val corpus = Seq(
      (0L, "alpha beta gamma alpha"), (1L, "beta alpha gamma"),
      (2L, "gamma alpha beta beta"), (3L, "alpha gamma beta"),
      (4L, "delta eps zeta delta"), (5L, "eps delta zeta"),
      (6L, "zeta delta eps eps"), (7L, "delta zeta eps")).toDF("doc_id", "text")
    val got = TextAnalysis.dsirSelect(corpus, col("doc_id") < 2, buckets = 64, k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.size == 8)
    val aW = (0L to 3L).map(got(_)._1)
    val bW = (4L to 7L).map(got(_)._1)
    assert(aW.min > bW.max,
      s"every vocab-A doc must outweigh every vocab-B doc: $got")
    assert((0L to 3L).forall(got(_)._3) && (4L to 7L).forall(!got(_)._3))
    // n_feats = unigrams + bigrams = 2·len − 1
    assert(got(0L)._2 == 7L && got(1L)._2 == 5L)
    // tie rule: identical docs share lw exactly (decimal sum); k = 3
    // over 4 identical docs must keep the 3 smallest ids
    val ties = (0L until 4L).map(i => (i, "same words here")).toDF("doc_id", "text")
    val sel = TextAnalysis.dsirSelect(ties, col("doc_id") === 0L, buckets = 16, k = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(sel == Map(0L -> true, 1L -> true, 2L -> true, 3L -> false), sel.toString)
    // k beyond the corpus: everything selected, nothing errors
    val all = TextAnalysis.dsirSelect(ties, col("doc_id") === 0L, buckets = 16, k = 99)
      .collect()
    assert(all.length == 4 && all.forall(_.getBoolean(3)))
    // the MAP-ONLY scorer (the streaming/serving shape) must reproduce
    // the batch gate's logw bit-for-bit: integer micro-unit fold ≡
    // DECIMAL join-sum, on the real corpus
    val ratios = TextAnalysis.dsirBucketRatios(docs,
        col("doc_id") % 7 === 0, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getDecimal(1)))
    assert(ratios.length == 64, "ratio table must be dense")
    val fromFold = TextAnalysis.dsirScoreWith(docs, ratios, buckets = 64)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val fromJoin = TextAnalysis.dsirSelect(docs, col("doc_id") % 7 === 0,
        buckets = 64, k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(fromFold == fromJoin,
      s"map-only fold diverged from the batch scorer on ${
        fromFold.keySet.union(fromJoin.keySet)
          .filter(k2 => fromFold.get(k2) != fromJoin.get(k2)).take(3)}")
  }

  test("BPE pair stats: hand-computed counts on a tiny corpus, deterministic top-k") {
    import spark.implicits._
    // vocab: "abab"×3 docs, "ab" in one, "ba" in one; single chars dropped
    val tiny = Seq((1L, "abab ab c"), (2L, "abab ba"), (3L, "abab"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpePairs(tiny, topK = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // vocabulary counts: abab→3, ab→1, ba→1 (distinct words, weighted)
    // pairs from abab (wc 3): ab, ba, ab → ab 6, ba 3
    // pairs from ab (wc 1): ab → +1 ; from ba (wc 1): ba → +1
    assert(got.toSeq == Seq("ab" -> 7L, "ba" -> 4L), got.mkString(","))
    // on the real corpus: output bounded by topK, ordered (count desc, pair)
    val real = TextAnalysis.bpePairs(docs).collect()
    assert(real.length == 50)
    val counts = real.map(_.getLong(1)).toSeq
    assert(counts == counts.sorted.reverse, "not count-descending")
  }

  test("chunk windows: overlap, partial tail, short-doc single chunk, full coverage") {
    import spark.implicits._
    // 9 tokens, window 4, stride 3 → starts 0,3,6: sizes 4,4,3
    val toks = (1 to 9).map(i => s"t$i")
    val tiny = Seq((1L, toks.mkString(" ")), (2L, "a b")).toDF("doc_id", "text")
    val got = Curation.chunkWindows(tiny, window = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(got((1L, 0)) == (("t1 t2 t3 t4", 4L)), got.toString)
    assert(got((1L, 1)) == (("t4 t5 t6 t7", 4L))) // overlap of 1 token
    assert(got((1L, 2)) == (("t7 t8 t9", 3L))) // partial tail
    assert(got((2L, 0)) == (("a b", 2L))) // short doc: one partial chunk
    assert(got.size == 4)
    // coverage: every source token appears in at least one chunk
    val covered = got.keys.filter(_._1 == 1L).toSeq.sorted
      .flatMap(k => got(k)._1.split(" ")).toSet
    assert(covered == toks.toSet)
  }

  test("chunk windows property: every token covered exactly per the stride algebra") {
    import spark.implicits._
    // random (n, window, stride): concatenated chunks with the overlap
    // removed must reconstruct the document exactly
    val gen = for {
      n <- org.scalacheck.Gen.choose(1, 120)
      w <- org.scalacheck.Gen.choose(1, 40)
      s <- org.scalacheck.Gen.choose(1, 40).map(math.min(_, w))
    } yield (n, w, s)
    (0 until 25).foreach { i =>
      val (n, w, s) = gen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(7L + i)).getOrElse(fail("gen exhausted"))
      val toks = (1 to n).map(j => s"t$j")
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = Curation.chunkWindows(df, window = w, stride = s).collect()
        .sortBy(_.getInt(1)).map(_.getString(2).split(" ").toSeq)
      withClue(s"n=$n window=$w stride=$s: ") {
        // stride-prefix of each chunk (+ the whole last one) reconstructs
        val rebuilt = (chunks.init.flatMap(_.take(s)) ++ chunks.last).toSeq
        assert(rebuilt == toks, s"chunks=${chunks.toSeq}")
        // every chunk but the last is full when enough tokens remain
        chunks.init.foreach(c => assert(c.size == w))
      }
    }
  }

  test("z-order interleave is a bijection on the quantized grid") {
    import spark.implicits._
    // all 64 cells of the 3-bit grid map to 64 DISTINCT z values 0..63
    val grid = for (x <- 0L to 7L; y <- 0L to 7L) yield (x, y)
    val z = Layout.withZValueStatic(grid.toDF("x", "y"), "x", "y",
      (0L, 7L), (0L, 7L), bits = 3).collect().map(_.getLong(2))
    assert(z.toSet == (0L to 63L).toSet, "interleave not bijective on the grid")
  }

  test("quantization property: dequantized values within scale/2 of the input") {
    import org.apache.spark.sql.functions.col
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // recompute codes driver-side from the operator's published contract
    Similarity.quantize(emb).collect().take(200).foreach { r =>
      val (id, off, scale) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      val xs = e(id)
      val lo = xs.min; val hi = xs.max
      val s = if (hi > lo) (hi - lo) / 255.0 else 1.0
      xs.foreach { x =>
        val code = math.round(if (hi > lo) (x - lo) * 255.0 / (hi - lo) else 0.0)
        val dequant = lo + code * s
        assert(math.abs(dequant - x) <= s / 2 + 1e-9,
          s"vec $id: |$dequant - $x| > ${s / 2}")
      }
      // published (offset, scale) are the rounded true values
      assert(math.abs(off - BigDecimal(lo).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(math.abs(scale - BigDecimal(s).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("corpus report: per-source metrics, rollup total, dup share counted") {
    import spark.implicits._
    val tiny = Seq((1L, "a b", "s1"), (2L, "a b", "s1"), (3L, "c", "s2"),
      (4L, "d", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "source")
    val got = Curation.corpusReport(tiny).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(got("s1") == ((2L, 2L, 4L, 1L, 2.0)), got("s1").toString)
    assert(got("s2") == ((1L, 0L, 1L, 1L, 1.0)), got("s2").toString)
    // a NULL source group stays DISTINCT from the rollup grand total
    assert(got("__null__") == ((1L, 0L, 1L, 1L, 1.0)), got.toString)
    assert(got("__all__") == ((4L, 2L, 6L, 3L, 1.5)), got("__all__").toString)
    // real corpus: rollup row present, totals consistent with per-source
    val real = Curation.corpusReport(docs).collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap
    assert(real("__all__") == real.view.filterKeys(_ != "__all__").values.sum)
  }

  test("int8 quantization: hand-computed codes, constant-vector edge, dequant bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // [0, 0.5, 1] → lo 0, hi 1, scale 1/255: codes 0, 128 (127.5 rounds
    // half-up), 255; constant vector → zeros, unit scale
    val tiny = Seq((1L, Seq(0f, 0.5f, 1f)), (2L, Seq(0.25f, 0.25f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantize(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(4)))).toMap
    assert(got(1L) == ((0.0, 0.003922, 383L)), got(1L).toString) // 0+128+255
    assert(got(2L) == ((0.25, 1.0, 0L)), got(2L).toString)
    // real corpus: one row per vector, codes within the uint8 range
    val q = Similarity.quantize(emb)
    assert(q.count() == emb.count())
    // every code fits int8's unsigned range (the storage claim)
    val sums = q.collect().map(_.getLong(4))
    assert(sums.forall(s => s >= 0 && s <= 255L * 4096))
  }

  test("random projection: matches direct computation, preserves scale, no shuffle") {
    import org.apache.spark.sql.functions.col
    val out = Similarity.randomProjection(emb, k = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(out.size == vecs.size * 8)
    // direct recomputation of a handful of components (same formula)
    for (id <- vecs.keys.take(5); j <- 0 until 8) {
      val v = vecs(id)
      val dot = v.indices.foldLeft(0.0)((acc, i) =>
        acc + v(i).toDouble * Similarity.rpSign(j, i))
      val want = BigDecimal(dot * (1.0 / math.sqrt(8.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(out((id, j)) - want) < 1e-9, s"component ($id, $j)")
    }
    // narrow plan: a projection must not shuffle the collection
    val plan = Similarity.randomProjection(emb).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection plan shuffles:\n$plan")
  }

  test("PNG codec: every filter type round-trips exactly; fixture corpus covers all five") {
    import graft.ops.Png
    // each row filtered with a FIXED type 0-4, plus a rotating mix —
    // any reconstruction error in Sub/Up/Average/Paeth breaks a pixel
    for (f <- 0 to 4; (w, h) <- Seq((1, 1), (5, 4), (9, 6), (17, 3))) {
      val rgb = (x: Int, y: Int) =>
        ((x * 31 + y * 7 + f) % 256, (x * 13 + y * 17) % 256, (x + y * 3 + f * 5) % 256)
      val img = Png.decode(Png.encode(w, h, rgb, _ => f))
      assert(img.width == w && img.height == h)
      for (x <- 0 until w; y <- 0 until h) {
        val (r, g, b) = rgb(x, y)
        assert(img.pixels(y * w + x) == ((r << 16) | (g << 8) | b),
          s"pixel ($x,$y) of ${w}x$h filter $f")
      }
    }
    val mixed = Png.decode(Png.encode(8, 10, (x, y) => (x * 9 % 256, y * 11 % 256, (x ^ y) % 256),
      y => y % 5))
    for (x <- 0 until 8; y <- 0 until 10)
      assert(mixed.pixels(y * 8 + x) ==
        (((x * 9 % 256) << 16) | ((y * 11 % 256) << 8) | ((x ^ y) % 256)))
    // the gate fixture really does rotate: 5+ rows → all five filter types
    val ids = (0L until 20L)
    assert(ids.map(id => Multimodal.syntheticPng(id)).forall(b =>
      Png.decode(b).pixels.nonEmpty))
  }

  test("GIF codec: golden LZW bytes pin the width-change boundary and bit packing") {
    import graft.ops.Gif
    // 3x1 image, indices [1,1,2], 4-entry palette: hand-assembled per
    // the spec — clear(4)@3, 1@3, 1@3, 2@3 (the decoder widens only
    // AFTER this code: next hits 2^3 one add behind the encoder's
    // dictionary), eoi(5)@4. LSB-first packing → payload 0x4C 0x54.
    val palette = Array(0x000000, 0xFF0000, 0x00FF00, 0x0000FF)
    val px = Array(1, 1, 2)
    val bytes = Gif.encode(3, 1, palette, (x, _) => px(x))
    // locate the data sub-block: header 13 + palette 12 + descriptor 10
    // + mcs 1 = byte 36
    assert(bytes(35) == 2, "LZW minimum code size must be 2")
    assert((bytes(36) & 0xFF) == 0x02 && (bytes(37) & 0xFF) == 0x4C &&
      (bytes(38) & 0xFF) == 0x54 && bytes(39) == 0,
      s"golden LZW payload mismatch: ${bytes.slice(36, 40).map(b => f"${b & 0xFF}%02x").mkString(" ")}")
    val img = Gif.decode(bytes)
    assert(img.width == 3 && img.height == 1)
    assert(img.pixels.toSeq == Seq(1, 1, 2))
    assert(img.palette.take(4).toSeq == palette.toSeq)
  }

  test("GIF codec round-trip property: dims, palettes, runs, and width growth") {
    import graft.ops.Gif
    val rnd = new scala.util.Random(424242)
    // palette sizes straddle power-of-two padding; 2-entry exercises
    // the spec floor mcs=2; 256-entry exercises 9->12-bit growth
    for (palLen <- Seq(2, 3, 4, 16, 256); trial <- 0 until 3) {
      val w = 1 + rnd.nextInt(60)
      val h = 1 + rnd.nextInt(40)
      val palette = Array.tabulate(palLen)(i => rnd.nextInt(1 << 24))
      val px = Array.fill(w * h)(rnd.nextInt(palLen))
      val img = Gif.decode(Gif.encode(w, h, palette, (x, y) => px(y * w + x)))
      assert(img.width == w && img.height == h, s"dims $palLen/$trial")
      assert(img.pixels.toSeq == px.toSeq, s"pixels $palLen/$trial")
      assert(img.palette.take(palLen).toSeq == palette.toSeq)
    }
    // KwKwK chain: a constant raster is the densest self-referential case
    val flat = Gif.decode(Gif.encode(37, 3, Array(0x111111, 0x222222), (_, _) => 1))
    assert(flat.pixels.forall(_ == 1) && flat.pixels.length == 111)
    // large low-palette image: dictionary passes several width bumps;
    // 128x96 repetitive-ish content also crosses sub-block boundaries
    val big = Array.tabulate(128 * 96)(i => (i / 7) % 4)
    val bigImg = Gif.decode(Gif.encode(128, 96, Array.tabulate(4)(i => i * 0x3F3F3F),
      (x, y) => big(y * 128 + x)))
    assert(bigImg.pixels.toSeq == big.toSeq)
  }

  test("animated GIF: every frame round-trips; sampler keeps the stride frames") {
    import spark.implicits._
    import graft.ops.Gif
    val rnd = new scala.util.Random(777)
    val (w, h, nf) = (9, 5, 5)
    val palette = Array.tabulate(16)(i => rnd.nextInt(1 << 24))
    val px = Array.fill(nf, w * h)(rnd.nextInt(16))
    val bytes = Gif.encodeAnimated(w, h, palette, nf, (f, x, y) => px(f)(y * w + x))
    val frames = Gif.decodeFrames(bytes)
    assert(frames.length == nf)
    frames.zipWithIndex.foreach { case (img, f) =>
      assert(img.width == w && img.height == h)
      assert(img.pixels.toSeq == px(f).toSeq, s"frame $f")
    }
    // decode() = first frame (single-frame files unchanged by the refactor)
    assert(Gif.decode(bytes).pixels.toSeq == px(0).toSeq)
    // sampler: stride 2 keeps frames 0, 2, 4 with brute-force sums
    val in = Seq((1L, bytes)).toDF("id", "img")
    val got = Multimodal.gifFrameSample(in, "id", "img").collect()
      .map(g => g.frame_idx -> ((g.sum_r, g.sum_g, g.sum_b))).toMap
    assert(got.keySet == Set(0L, 2L, 4L))
    got.foreach { case (f, (sr, sg, sb)) =>
      val rgb = px(f.toInt).map(palette)
      assert(sr == rgb.map(p => ((p >> 16) & 0xff).toLong).sum)
      assert(sg == rgb.map(p => ((p >> 8) & 0xff).toLong).sum)
      assert(sb == rgb.map(p => (p & 0xff).toLong).sum)
    }
  }

  test("JPEG codec: fixture decode is bit-exact; restart markers; color conversion") {
    import graft.ops.Jpeg
    for (id <- Seq(0L, 1L, 2L, 3L, 4L, 5L, 17L, 100L)) {
      val img = Jpeg.decode(Multimodal.syntheticJpeg(id))
      val wb = 1 + (id % 3).toInt; val hb = 1 + (id % 2).toInt
      assert(img.width == 8 * wb && img.height == 8 * hb, s"dims for id=$id")
      for (by <- 0 until hb; bx <- 0 until wb) {
        val yy = ((3L * id + 5L * bx + 11L * by) % 256).toInt
        val cb = ((7L * id + 2L * bx + 3L * by) % 256).toInt - 128
        val cr = ((id + 13L * bx + 9L * by) % 256).toInt - 128
        def cl(v: Long) = math.max(0L, math.min(255L, v)).toInt
        val want = (cl(yy + ((91881L * cr + 32768) >> 16)) << 16) |
          (cl(yy + ((-22554L * cb - 46802L * cr + 32768) >> 16)) << 8) |
          cl(yy + ((116130L * cb + 32768) >> 16))
        for (y <- 0 until 8; x <- 0 until 8) {
          val got = img.pixels((8 * by + y) * img.width + 8 * bx + x)
          assert(got == want,
            f"id=$id block($bx,$by) pixel($x,$y): got $got%06x want $want%06x")
        }
      }
    }
  }

  test("JPEG codec: AC coefficients + grayscale through a hand-built stream") {
    import graft.ops.Jpeg
    // hand-authored baseline JPEG: 8x8 grayscale, unit quant, DC diff 0,
    // ONE AC coefficient (zigzag 2 = vertical frequency 1) of value 500 —
    // exercises the AC run-length path and a non-trivial IDCT the
    // DC-only fixtures never reach; expectation computed from the
    // textbook IDCT formula, independent of the codec's separable code
    val out = new java.io.ByteArrayOutputStream()
    def seg(m: Int, body: Array[Int]): Unit = {
      out.write(0xff); out.write(m)
      val len = body.length + 2
      out.write(len >> 8); out.write(len & 0xff)
      body.foreach(out.write)
    }
    out.write(0xff); out.write(0xd8)
    seg(0xdb, Array(0x00) ++ Array.fill(64)(1))
    seg(0xc0, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    seg(0xc4, Array(0x00, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
      ++ (0 to 11))
    seg(0xc4, Array(0x10, 0, 2) ++ Array.fill(14)(0) ++ Array(0x00, 0x19))
    seg(0xda, Array(1, 1, 0x00, 0, 63, 0))
    // bits: DC cat0 '00' | AC 0x19 '01' (run 1, size 9) | +500 in 9 bits
    // ('111110100') | EOB '00' | 1-pad
    out.write(Integer.parseInt("00011111", 2))
    out.write(Integer.parseInt("10100001", 2))
    out.write(0xff); out.write(0xd9)
    val img = Jpeg.decode(out.toByteArray)
    assert(img.width == 8 && img.height == 8)
    for (y <- 0 until 8; x <- 0 until 8) {
      val f = 0.25 * (1.0 / math.sqrt(2.0)) * 1.0 * 500.0 *
        math.cos((2 * x + 1) * 0 * math.Pi / 16.0) *
        math.cos((2 * y + 1) * 1 * math.Pi / 16.0)
      val g = math.max(0L, math.min(255L, math.round(f) + 128)).toInt
      val want = (g << 16) | (g << 8) | g
      assert(img.pixels(y * 8 + x) == want,
        f"pixel($x,$y): got ${img.pixels(y * 8 + x)}%06x want $want%06x")
    }
  }

  test("JPEG codec fails loudly on hostile headers (zip bomb, progressive, sampling)") {
    import graft.ops.Jpeg
    intercept[IllegalArgumentException](Jpeg.decode(null))
    intercept[IllegalArgumentException](Jpeg.decode(Array[Byte](1, 2, 3)))
    val good = Multimodal.syntheticJpeg(3L) // odd id → no restart markers
    // truncation at the entropy stream and inside headers
    intercept[IllegalArgumentException](Jpeg.decode(good.dropRight(8)))
    intercept[IllegalArgumentException](Jpeg.decode(good.take(6)))
    // locate SOF0 to patch header fields (FF C0 len8 len prec H H W W ...)
    val sof = good.indices.find(i => (good(i) & 0xff) == 0xff &&
      (good(i + 1) & 0xff) == 0xc0).get
    // zip bomb: declare a 32768x32768 raster in a tiny file
    val bomb = good.clone()
    bomb(sof + 5) = 0x80.toByte; bomb(sof + 6) = 0
    bomb(sof + 7) = 0x80.toByte; bomb(sof + 8) = 0
    val e1 = intercept[IllegalArgumentException](Jpeg.decode(bomb))
    assert(e1.getMessage.contains("decoder cap"), e1.getMessage)
    // progressive must refuse by name
    val prog = good.clone(); prog(sof + 1) = 0xc2.toByte
    val e2 = intercept[IllegalArgumentException](Jpeg.decode(prog))
    assert(e2.getMessage.contains("progressive"), e2.getMessage)
    // arithmetic coding must refuse by name
    val arith = good.clone(); arith(sof + 1) = 0xc8.toByte
    val e3 = intercept[IllegalArgumentException](Jpeg.decode(arith))
    assert(e3.getMessage.contains("arithmetic"), e3.getMessage)
    // 2x2-subsampled component must refuse (supported subset is 4:4:4)
    val sub = good.clone(); sub(sof + 11) = 0x22.toByte
    val e4 = intercept[IllegalArgumentException](Jpeg.decode(sub))
    assert(e4.getMessage.contains("sampling"), e4.getMessage)
    // hostile segment length past EOF
    val overrun = good.clone()
    overrun(sof + 2) = 0xff.toByte; overrun(sof + 3) = 0xff.toByte
    val e5 = intercept[IllegalArgumentException](Jpeg.decode(overrun))
    assert(e5.getMessage.contains("overruns"), e5.getMessage)
  }

  test("MP4 codec: box tree, sample tables, keyframes, payload round-trip") {
    import graft.ops.Mp4
    val frames = Seq(Array.tabulate(12)(j => (j * 3).toByte),
      Array.tabulate(5)(j => (200 + j).toByte),
      Array.tabulate(9)(j => (j * j % 251).toByte))
    val bytes = Mp4.encode(frames, timescale = 1000, delta = 40, keyStride = 2)
    val m = Mp4.parse(bytes)
    assert(m.timescale == 1000 && m.duration == 120)
    assert(m.samples.length == 3)
    assert(m.samples.map(_.size) == Vector(12, 5, 9))
    assert(m.samples.map(_.dts) == Vector(0L, 40L, 80L))
    assert(m.samples.map(_.keyframe) == Vector(true, false, true))
    // payload bytes extracted via stsc/stco/stsz == what was written
    m.samples.zip(frames).foreach { case (s, f) =>
      assert(m.sampleBytes(bytes, s).toSeq == f.toSeq)
    }
  }

  test("MP4 codec fails loudly on hostile tables (caps, addressing, truncation)") {
    import graft.ops.Mp4
    val good = Mp4.encode(Seq(Array.tabulate(8)(_.toByte), Array.tabulate(8)(_.toByte)))
    // truncations at several depths
    intercept[IllegalArgumentException](Mp4.parse(good.take(4)))
    intercept[IllegalArgumentException](Mp4.parse(good.dropRight(10)))
    intercept[IllegalArgumentException](Mp4.parse(Array[Byte](0, 0, 0, 3, 'f', 't')))
    def patch(marker: String, rel: Int, v: Array[Byte]): Array[Byte] = {
      val i = good.indices.find(i => i + 4 <= good.length - 4 &&
        new String(good, i, 4, "US-ASCII") == marker).get
      val b = good.clone(); v.zipWithIndex.foreach { case (x, k) => b(i + rel + k) = x }
      b
    }
    // stsz sample-count bomb: declares 2^24 samples in a tiny file
    val bomb = patch("stsz", 12, Array(0x01, 0, 0, 0).map(_.toByte))
    val e1 = intercept[IllegalArgumentException](Mp4.parse(bomb))
    assert(e1.getMessage.contains("cap"), e1.getMessage)
    // stco offset pointing outside mdat
    val oob = patch("stco", 12, Array(0x7f, 0x7f, 0x7f, 0x7f).map(_.toByte))
    val e2 = intercept[IllegalArgumentException](Mp4.parse(oob))
    assert(e2.getMessage.contains("outside mdat"), e2.getMessage)
    // stts expansion bomb: one run declaring 2^31 samples
    val tbomb = patch("stts", 8, Array(0x7f.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte))
    intercept[IllegalArgumentException](Mp4.parse(tbomb))
    // mutation fuzz: every single-byte corruption either parses to a
    // structurally-valid movie or fails with the typed error — never an
    // ArrayIndexOutOfBounds/NegativeArraySize crash
    (0 until good.length).foreach { i =>
      val b = good.clone(); b(i) = (b(i) ^ 0x5A).toByte
      try { val mv = Mp4.parse(b); assert(mv.samples.length >= 0) }
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("mp4Stats over a binary column matches hand-computed fixture stats") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 4L, 7L, 123L)
    val df = ids.toDS()
      .map(i => (i, Multimodal.syntheticMp4(i))).toDF("id", "vid")
    val out = Multimodal.mp4Stats(df, "id", "vid").collect()
      .map(s => s.id -> s).toMap
    ids.foreach { id =>
      val nf = 2 + (id % 5).toInt
      val lens = (0 until nf).map(f => 10 + ((id + 3 * f) % 7).toInt)
      val all = (0 until nf).flatMap(f =>
        (0 until lens(f)).map(j => (5 * id + 7 * f + 11 * j) % 256)).sum
      val key = (0 until nf).filter(_ % 2 == 0).flatMap(f =>
        (0 until lens(f)).map(j => (5 * id + 7 * f + 11 * j) % 256)).sum
      val s = out(id)
      assert(s.n_samples == nf && s.duration_ticks == nf * 40L)
      assert(s.n_key == (nf + 1) / 2)
      assert(s.all_bytes == all && s.key_bytes == key)
      assert(s.max_sample == lens.max)
    }
  }

  test("streaming rate limit: micro-batch sizing + per-batch charges against the global budget") {
    import org.apache.spark.sql.functions._
    // multi-file backlog so maxFilesPerTrigger actually splits it
    val tmp = tempDir("graft-rated")
    events.repartition(4).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val total = events.count()
    // frozen clock: each acquire's sleep is exactly the ideal-time
    // formula — deterministic pacing contract, no wall-clock flake
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val limiter = new graft.engine.RateLimiter(1000L,
      now = () => 0L, sleep = ms => sleeps += ms)
    val stats = StreamingIngest.ratedIngest(spark, tmp, rowsPerSec = 1000L,
      maxFilesPerTrigger = 1, limiter = Some(limiter)).cache()
    val rows = stats.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == total, "every event admitted exactly once")
    assert(rows.length >= 4, s"maxFilesPerTrigger=1 must split the backlog, got ${rows.length} batches")
    assert(rows.forall(_._2 > 0), "no empty micro-batches in a bounded run")
    // at 1000 rows/s with time frozen, the charge for cumulative admitted
    // rows is slept in full: the final sleep equals total rows in ms, and
    // per-batch sleeps are the cumulative-admitted prefix sums
    assert(sleeps.nonEmpty && sleeps.max == total,
      s"final charge must cover the whole backlog: ${sleeps.toSeq} vs $total")
    val cumulative = rows.map(_._2).scanLeft(0L)(_ + _).drop(1)
    assert(rows.map(_._3).toSeq == cumulative.toSeq,
      s"per-batch sleeps must be the prefix sums: ${rows.map(_._3).toSeq} vs $cumulative")
    stats.unpersist()
  }

  test("streaming work-dir prune: terminated dirs GC'd, rerun after prune is clean") {
    import graft.streaming.StreamingIngest
    // a terminated durable-sink run leaves its work dir behind
    val r1 = StreamingIngest.windowCountsAppend(spark, sf).collect()
      .map(r => (r.get(0), r.getString(1), r.getLong(2))).toSet
    assert(r1.nonEmpty)
    val dir = new java.io.File(graft.util.Fs.workDir("stream_append", sf))
    assert(dir.isDirectory, "terminated run leaves its work dir")
    val pruned = StreamingIngest.pruneWorkDirs(log = _ => ())
    assert(pruned >= 1, "prune must collect the terminated dir")
    assert(!dir.exists(), "work dir gone after prune")
    // active-checkpoint exclusion: a dir named in activeCheckpoints survives
    val keep = new java.io.File(graft.util.Fs.workDir("sjdbc", "keep-me"))
    keep.mkdirs()
    try {
      StreamingIngest.pruneWorkDirs(
        activeCheckpoints = Seq(s"${keep.getAbsolutePath}/checkpoint"))
      assert(keep.isDirectory, "active checkpoint dirs must survive the prune")
    } finally graft.util.Fs.deleteRecursive(keep)
    // rerun after prune: a fresh bounded run produces the same result
    val r2 = StreamingIngest.windowCountsAppend(spark, sf).collect()
      .map(r => (r.get(0), r.getString(1), r.getLong(2))).toSet
    assert(r2 == r1, "rerun after prune must reproduce the result")
  }

  test("every workDir purpose in the source is registered for pruning") {
    // the video twin's purpose escaped the prune list once (found in
    // r10 review) — lint the source so a new call site cannot leak
    import graft.streaming.StreamingIngest
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("src/main/scala/graft/streaming/StreamingIngest.scala")), "UTF-8")
    val used = """workDir\("([a-z_]+)"""".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    assert(used.nonEmpty, "source scan found no workDir call sites")
    val registered = StreamingIngest.WorkDirPurposes.toSet
    assert(used.subsetOf(registered),
      s"unregistered workDir purposes leak from the prune GC: ${used.diff(registered)}")
  }

  test("streaming workDir refuses a purpose the prune registry does not name") {
    // purposes reach workDir through helpers too, out of the lint's sight
    val e = intercept[IllegalArgumentException](
      StreamingIngest.workDir("stream_unregistered", sf))
    assert(e.getMessage.contains("'stream_unregistered'"))
  }

  test("per-batch sink: a replayed micro-batch rewrites its own dir, exactly once") {
    val src = tempDir("graft-pbs-src")
    val work = tempDir("graft-pbs-work")
    try {
      val ids = events.select(col("event_id").cast("long").as("id"))
      ids.repartition(4).write.mode("overwrite").parquet(s"$src/in")
      val schema = spark.read.parquet(s"$src/in").schema
      def run(): Seq[Long] = {
        val dirs = StreamingIngest.perBatchSink(spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$src/in"), work, "out") {
          (b, write) => write(b)
        }
        spark.read.parquet(dirs: _*).collect().map(_.getLong(0)).toSeq.sorted
      }
      val first = run()
      assert(first == ids.collect().map(_.getLong(0)).toSeq.sorted,
        "every row lands once")
      // forget the last batch's commit: the rerun re-executes batch n
      // with the same offsets and the same id
      val commits = new java.io.File(s"$work/checkpoint/commits")
      val n = commits.list().filter(_.forall(_.isDigit)).map(_.toInt).max
      assert(n >= 1, "a multi-file source runs several micro-batches")
      Seq(s"$n", s".$n.crc").foreach(f => new java.io.File(commits, f).delete())
      val second = run()
      assert(new java.io.File(commits, s"$n").exists(), s"batch $n must re-run")
      assert(second.length == first.length && second == first,
        "the replay must neither duplicate nor lose rows")
    } finally Seq(src, work).foreach(d => graft.util.Fs.deleteRecursive(new java.io.File(d)))
  }

  test("codec fuzz: random and bit-flipped inputs fail loudly or decode, never escape") {
    import graft.ops.{Bmp, Gif, Png, Wav}
    val rnd = new scala.util.Random(31337)
    // decode must either succeed or throw the codec's own
    // IllegalArgumentException — an ArrayIndexOutOfBounds, NegativeArraySize,
    // or NPE on hostile bytes is a crash bug, not a refusal
    def probe(name: String, dec: Array[Byte] => Any)(bytes: Array[Byte]): Unit =
      try { dec(bytes); () } catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"$name escaped with ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val codecs: Seq[(String, Array[Byte] => Any, Array[Byte])] = Seq(
      ("bmp", Bmp.decode(_), Multimodal.syntheticBmp(7L)),
      ("png", Png.decode(_), Multimodal.syntheticPng(7L)),
      ("gif", b => Gif.decodeFrames(b), Multimodal.syntheticGifAnim(7L)),
      ("jpeg", graft.ops.Jpeg.decode(_), Multimodal.syntheticJpeg(8L)),
      ("wav", Wav.decode(_), Multimodal.syntheticWav(7L)))
    codecs.foreach { case (name, dec, valid) =>
      val p = probe(name, dec) _
      // pure noise, several sizes
      for (len <- Seq(0, 1, 12, 13, 64, 400)) {
        val junk = new Array[Byte](len); rnd.nextBytes(junk); p(junk)
      }
      // valid prefix truncated at every tenth byte
      (0 until valid.length by math.max(1, valid.length / 10))
        .foreach(i => p(valid.take(i)))
      // single-byte mutations of a VALID file — header fields, palette,
      // LZW/deflate payload, lengths all get hit across 300 trials
      for (_ <- 0 until 300) {
        val m = valid.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        p(m)
      }
    }
  }

  test("cross-codec consistency: BMP, PNG, and GIF decode the same raster identically") {
    import graft.ops.{Bmp, Gif, Png}
    val (w, h) = (11, 7)
    // a raster with < 256 distinct colors so the palette codec can
    // express it exactly; rgb returns packed 0xRRGGBB
    def rgb(x: Int, y: Int): Int = {
      val v = (x * 5 + y * 11) % 64
      (((v * 3) % 256) << 16) | (((v * 7 + 9) % 256) << 8) | ((v * 11 + 4) % 256)
    }
    def ch(p: Int): (Int, Int, Int) = ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
    val want = for (y <- 0 until h; x <- 0 until w) yield rgb(x, y)

    val bmp = Bmp.decode(Bmp.encode(w, h, (x, y) => ch(rgb(x, y))))
    assert(bmp.pixels.toSeq == want, "BMP")
    val png = Png.decode(Png.encode(w, h, (x, y) => ch(rgb(x, y))))
    assert(png.pixels.toSeq == want, "PNG")
    val palette = want.distinct.toArray
    val lut = palette.zipWithIndex.toMap
    val gif = Gif.decode(Gif.encode(w, h, palette, (x, y) => lut(rgb(x, y))))
    assert(gif.pixels.map(gif.palette).toSeq == want, "GIF")
  }

  test("GIF codec refuses what it cannot decode, loudly") {
    import graft.ops.Gif
    def refuses(bytes: Array[Byte], hint: String): Unit =
      intercept[IllegalArgumentException] { Gif.decode(bytes) }.getMessage match {
        case m => assert(m.contains("GIF decode"), s"$hint: $m")
      }
    val good = Gif.encode(4, 3, Array(0x000000, 0xFFFFFF), (x, y) => (x + y) % 2)
    refuses(good.take(10), "truncated header")
    refuses("NOTAGIF89a123".getBytes("US-ASCII"), "bad signature")
    // clear the global-color-table flag
    val noPal = good.clone(); noPal(10) = (noPal(10) & 0x7F).toByte
    refuses(noPal, "missing global table")
    // set the interlace flag in the image descriptor (header 13 + pal 6
    // + descriptor byte 9)
    val inter = good.clone(); inter(13 + 6 + 9) = (inter(13 + 6 + 9) | 0x40).toByte
    refuses(inter, "interlaced")
    // declared raster beyond the cap: patch logical + image dims to 65535²
    val bomb = good.clone()
    bomb(6) = -1; bomb(7) = -1; bomb(8) = -1; bomb(9) = -1
    bomb(13 + 6 + 5) = -1; bomb(13 + 6 + 6) = -1
    bomb(13 + 6 + 7) = -1; bomb(13 + 6 + 8) = -1
    refuses(bomb, "zip bomb")
    // hand-built stream with a code beyond the dictionary frontier:
    // clear(4)@3, 1@3, 7@3 — 7 > next(6) must refuse, not read garbage
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(Array[Byte](4, 0, 1, 0, (0x80 | 1).toByte, 0, 0)) // 4x1, 4-color
    out.write(new Array[Byte](12)) // palette: 4 black entries
    out.write(0x2C); out.write(Array[Byte](0, 0, 0, 0, 4, 0, 1, 0, 0))
    out.write(2) // mcs
    out.write(Array[Byte](2, 0xCC.toByte, 0x01, 0)) // codes 4,1,7
    out.write(0x3B)
    refuses(out.toByteArray, "frontier")
    // first-frame leniency: decode() must not validate past the first
    // frame — junk after it fails decodeFrames but not decode
    val junkTail = good.dropRight(1) ++ Array[Byte](0x55, 0x3B)
    assert(Gif.decode(junkTail).pixels.length == 12,
      "decode() stops after frame 0 and never sees the junk block")
    intercept[IllegalArgumentException] { Gif.decodeFrames(junkTail) }
  }

  test("PNG codec fails loudly on hostile headers (zip-bomb cap, CRC, bounds)") {
    import graft.ops.Png
    def putBe32(b: Array[Byte], off: Int, v: Long): Unit = {
      b(off) = (v >> 24).toByte; b(off + 1) = (v >> 16).toByte
      b(off + 2) = (v >> 8).toByte; b(off + 3) = v.toByte
    }
    intercept[IllegalArgumentException](Png.decode(null))
    intercept[IllegalArgumentException](Png.decode(Array[Byte](1, 2, 3)))
    val good = Png.encode(3, 3, (x, y) => (x, y, x + y))
    // wrong signature
    val badSig = good.clone(); badSig(0) = 'X'
    intercept[IllegalArgumentException](Png.decode(badSig))
    // flipped pixel byte → IHDR CRC mismatch must fire BEFORE any decode
    val badCrc = good.clone(); badCrc(16) = (badCrc(16) ^ 1).toByte
    val e0 = intercept[IllegalArgumentException](Png.decode(badCrc))
    assert(e0.getMessage.contains("CRC"), e0.getMessage)
    // zip bomb: tiny file declaring a 2^30-pixel raster must hit the
    // decoder cap, not an allocation (CRC recomputed so the cap is
    // actually the check that fires)
    def withIhdr(mut: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); mut(b)
      val crc = new java.util.zip.CRC32()
      crc.update(b, 12, 4 + 13)
      putBe32(b, 12 + 4 + 13, crc.getValue)
      b
    }
    val bomb = withIhdr(b => { putBe32(b, 16, 32768L); putBe32(b, 20, 32768L) })
    val e1 = intercept[IllegalArgumentException](Png.decode(bomb))
    assert(e1.getMessage.contains("decoder cap"), e1.getMessage)
    // unsupported shapes refuse with typed messages
    val pal = withIhdr(b => b(25) = 3) // color type 3 (palette)
    assert(intercept[IllegalArgumentException](Png.decode(pal))
      .getMessage.contains("color type"))
    val deep = withIhdr(b => b(24) = 16) // bit depth 16
    assert(intercept[IllegalArgumentException](Png.decode(deep))
      .getMessage.contains("bit depth"))
    val adam7 = withIhdr(b => b(28) = 1) // interlaced
    assert(intercept[IllegalArgumentException](Png.decode(adam7))
      .getMessage.contains("interlace"))
    // hostile chunk length 0xffffffff: must hit the overrun require in
    // LONG math, not wrap into a negative slice
    val overrun = good.clone(); putBe32(overrun, 8, 0xffffffffL)
    val e2 = intercept[IllegalArgumentException](Png.decode(overrun))
    assert(e2.getMessage.contains("overruns"), e2.getMessage)
    // truncated IDAT: drop the tail of the file (loses IEND + IDAT bytes)
    intercept[IllegalArgumentException](Png.decode(good.dropRight(16)))
    // declared raster larger than the zlib stream delivers: shrink IHDR
    // dims... inverse — GROW height so inflate under-fills
    val tall = withIhdr(b => putBe32(b, 20, 5L))
    val e3 = intercept[IllegalArgumentException](Png.decode(tall))
    assert(e3.getMessage.contains("truncated stream"), e3.getMessage)
  }

  test("WAV codec: PCM16 round-trip, mono and stereo, odd frame counts") {
    import graft.ops.Wav
    for (ch <- 1 to 2; nf <- Seq(0, 1, 7, 33)) {
      val clip = Wav.decode(Wav.encode(ch, 16000, nf,
        (f, c) => (f * 1000 + c * 3 - 5000).toShort))
      assert(clip.channels == ch && clip.sampleRate == 16000 && clip.frames == nf)
      for (f <- 0 until nf; c <- 0 until ch)
        assert(clip.samples(f * ch + c) == (f * 1000 + c * 3 - 5000).toShort,
          s"sample ($f,$c) of ${ch}ch/$nf")
    }
  }

  test("WAV codec: golden header bytes + unknown chunks skipped by size") {
    import graft.ops.Wav
    val bytes = Wav.encode(1, 8000, 2, (f, _) => (f + 1).toShort)
    def hex(bs: Array[Byte]) = bs.map("%02x".format(_)).mkString
    // RIFF size 36+4=40=0x28; fmt: PCM(1), 1ch, 8000Hz=0x1f40,
    // byteRate 16000=0x3e80, align 2, 16 bits; data size 4
    assert(hex(bytes.take(12)) == "524946462800000057415645")
    assert(hex(bytes.slice(12, 36)) ==
      "666d74201000000001000100401f0000803e000002001000")
    assert(hex(bytes.slice(36, 48)) == "64617461040000000100" + "0200")
    // splice an unknown LIST chunk (odd size → word-aligned pad)
    // between fmt and data; decode must skip it and still read samples
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 'x', 'y', 'z', 0 /* pad */)
    val spliced = bytes.take(36) ++ list ++ bytes.drop(36)
    put32LE(spliced, 4, spliced.length - 8)
    val clip = Wav.decode(spliced)
    assert(clip.frames == 2 && clip.samples.toSeq == Seq[Short](1, 2))
  }

  private def put32LE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }

  test("WAV codec refuses what it cannot decode, loudly") {
    import graft.ops.Wav
    intercept[IllegalArgumentException](Wav.decode(null))
    intercept[IllegalArgumentException](
      Wav.decode("RIFFxxxxWAVX".getBytes ++ new Array[Byte](40)))
    val good = Wav.encode(1, 8000, 2, (f, _) => f.toShort)
    val ulaw = good.clone(); ulaw(20) = 7 // audio format != PCM
    intercept[IllegalArgumentException](Wav.decode(ulaw))
    val bits8 = good.clone(); bits8(34) = 8 // unsupported sample width
    intercept[IllegalArgumentException](Wav.decode(bits8))
    intercept[IllegalArgumentException](Wav.decode(good.dropRight(2))) // truncated data
  }

  test("multimodal audio stats: distributed decode equals the closed form") {
    import spark.implicits._
    val ids = (0L until 48L).toDS()
    val df = ids.map(id => (id, Multimodal.syntheticWav(id))).toDF("id", "clip")
    val stats = Multimodal.audioStats(df, "id", "clip").collect()
      .map(s => s.id -> s).toMap
    assert(stats.size == 48)
    val id = 11L
    val ch = 1 + (id % 2).toInt; val nf = 32 + (id % 33).toInt
    assert(stats(id).channels == ch && stats(id).n_frames == nf &&
      stats(id).sample_rate == 8000 + (id % 3) * 4000)
    val vals = for (f <- 0 until nf; c <- 0 until ch)
      yield ((31L * id + 17L * f + 29L * c) % 65536) - 32768
    assert(stats(id).sum_s == vals.sum)
    assert(stats(id).s_min == vals.min && stats(id).s_max == vals.max)
  }

  test("multimodal image stats: distributed decode equals local decode (real codec)") {
    import spark.implicits._
    val ids = (0L until 64L).toDS()
    val df = ids.map(id => (id, Multimodal.syntheticBmp(id))).toDF("id", "img")
    val stats = Multimodal.imageStats(df, "id", "img").collect()
      .map(s => s.id -> s).toMap
    assert(stats.size == 64)
    // cross-check one row against a direct local computation
    val img = graft.ops.Bmp.decode(Multimodal.syntheticBmp(7L))
    assert(stats(7L).width == img.width && stats(7L).height == img.height)
    val rs = img.pixels.map(p => (p >> 16) & 0xff)
    assert(stats(7L).sum_r == rs.map(_.toLong).sum)
    // and against the closed form the ORACLE uses
    val w = 4 + 7 % 5; val h = 3 + 7 % 4
    val expect = (for (x <- 0 until w; y <- 0 until h)
      yield (7L + 7L * x + 13L * y) % 256).sum
    assert(stats(7L).sum_r == expect)
  }

  test("image aHash: brightness-shift invariant, wrap-perturbed, exact-dup pairs at hamming 0") {
    import spark.implicits._
    import graft.ops.Bmp
    // hand-built 4x3 gradient; +40 on every channel (no wraps) shifts
    // every pixel AND the mean equally, so not a single threshold bit
    // may move — the invariance that makes aHash a NEAR-dup key;
    // +200 wraps some channels and must perturb bits
    def img(off: Int) = Bmp.encode(4, 3, (x, y) => (
      (10 + 20 * x + off) % 256, (30 + 15 * y + off) % 256,
      (5 + 10 * x + 5 * y + off) % 256))
    val hashed = Multimodal.imageAHash(
      Seq((0L, img(0)), (1L, img(40)), (2L, img(200)), (3L, img(0)))
        .toDF("id", "img"), "id", "img")
      .collect().map(r => r.id -> r.ahash).toMap
    assert(hashed(0L) == hashed(1L), "no-wrap brightness shift must preserve aHash")
    assert(hashed(0L) != hashed(2L), "wrapping shift must perturb aHash")
    assert(hashed(0L) == hashed(3L), "identical images hash identically")
    // pairs: the identical pair surfaces through the bands at hamming 0
    val pairs = Multimodal.imageAHashPairs(
      Multimodal.imageAHash(
        Seq((0L, img(0)), (3L, img(0))).toDF("id", "img"), "id", "img").toDF())
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 3L &&
      r.getLong(2) == 0L), s"missing exact-dup pair: ${pairs.mkString(",")}")
    // fixture path: the gate's hash for id 7 equals a direct local recompute
    val fx = graft.ops.Bmp.decode(Multimodal.syntheticBmp(7L))
    val gray = fx.pixels.map(p =>
      (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong)
    val total = gray.sum
    val want = gray.zipWithIndex.foldLeft(0L) { case (acc, (g, i)) =>
      if (g * gray.length > total) acc | (1L << i) else acc
    }
    val got = Multimodal.imageAHash(
      Seq((7L, Multimodal.syntheticBmp(7L))).toDF("id", "img"), "id", "img")
      .head().ahash
    assert(got == want)
  }

  test("audio fingerprint: gain- and inversion-invariant, content-sensitive") {
    import spark.implicits._
    import graft.ops.Wav
    // 24-frame mono clip with varied energy; samples small enough that
    // ×2 gain cannot clip — uniform gain scales every window energy by
    // g², flipping no delta sign, so not one fingerprint bit may move;
    // phase inversion (×−1) leaves energies untouched entirely
    def clip(g: Int): Array[Byte] = Wav.encode(1, 8000, 24,
      (f, _) => (g * (((f * 37) % 120) - 60 + (if (f % 7 == 0) 900 else 0))).toShort)
    val shuffledContent = Wav.encode(1, 8000, 24,
      (f, _) => ((((f * 53) % 120) - 60 + (if (f % 5 == 0) 900 else 0))).toShort)
    val got = Multimodal.audioFingerprint(
      Seq((0L, clip(1)), (1L, clip(2)), (2L, clip(-1)), (3L, shuffledContent))
        .toDF("id", "clip"), "id", "clip")
      .collect().map(r => r.id -> r.fp).toMap
    assert(got(0L) == got(1L), "2x gain must preserve the fingerprint")
    assert(got(0L) == got(2L), "phase inversion must preserve the fingerprint")
    assert(got(0L) != got(3L), "different content must move bits")
    // and the fixture path equals a direct local recompute
    val fx = Wav.decode(Multimodal.syntheticWav(7L))
    val energies = fx.samples.grouped(4 * fx.channels).map(w =>
      w.foldLeft(0L)((a, v) => a + v.toLong * v.toLong)).toArray
    val want = energies.indices.dropRight(1).foldLeft(0L)((acc, w) =>
      if (energies(w + 1) > energies(w)) acc | (1L << w) else acc)
    val one = Multimodal.audioFingerprint(
      Seq((7L, Multimodal.syntheticWav(7L))).toDF("id", "clip"), "id", "clip")
      .head()
    assert(one.fp == want && one.n_windows == energies.length)
  }

  test("star-edge closure equals all-pairs closure on exact video cliques") {
    import spark.implicits._
    // 50 exact-duplicate classes of 4 (sf0.001 has no natural period-
    // 8960 collisions): the star graph (min → member, 150 edges) must
    // label identically to the full in-bucket expansion (300 edges)
    val fps = Multimodal.videoFingerprint(
      spark.range(200).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticMp4(id % 50))))
        .toDF("id", "vid"), "id", "vid").toDF()
    val viaPairs = Multimodal.mediaNearDupClusters(fps.select("id"),
        Multimodal.videoNearDupPairs(fps))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val viaStar = Multimodal.mediaNearDupClusters(fps.select("id"),
        Multimodal.videoNearDupStarEdges(fps))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(viaPairs.exists(!_._3), "fixture produced no duplicates")
    assert(viaStar == viaPairs)
    // and the star stream really is linear in the bucket, not quadratic
    val nStar = Multimodal.videoNearDupStarEdges(fps).count()
    val nPairs = Multimodal.videoNearDupPairs(fps).count()
    assert(nStar == 150L && nPairs == 300L, s"star $nStar pairs $nPairs")
  }

  test("lsh recall: hits within [0, n_truth] and non-decreasing in bands") {
    val rows = graft.ops.Dedup.lshRecall(docs, thresholdsPct = Seq(30, 50, 70))
      .select("bands", "threshold_pct", "n_truth", "hits")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))
    assert(rows.length == 12, s"expected 4 bands x 3 thresholds, got ${rows.length}")
    rows.foreach { case (b, t, n, h) =>
      assert(h >= 0 && h <= n, s"bands=$b t=$t hits $h outside [0, $n]") }
    // a 0.7-truth pair is also a 0.5-truth pair, so n_truth shrinks as
    // the threshold rises
    val nByT = rows.groupBy(_._2).view.mapValues(_.head._3).toMap
    assert(nByT(30L) >= nByT(50L) && nByT(50L) >= nByT(70L))
    // candidate-set NESTING holds only where every coarse band is a
    // union of fine bands (2→3: {0-5}⊇{0-3},{6-11}⊇{8-11}; 4→6; 2→6)
    // — 3→4 interleaves rows and carries no such guarantee. The
    // containment proof also assumes UNCAPPED buckets (ADVICE r11 #3:
    // finer bands are less selective, so a pair surfaced under the
    // coarse setting can be cap-dropped under the finer one on a
    // boilerplate-heavy corpus), so the monotonicity assertion runs
    // with the cap lifted — the default-cap rows above keep only the
    // range check.
    val uncapped = graft.ops.Dedup.lshRecall(docs, bucketCap = Int.MaxValue)
      .select("bands", "hits")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for ((c, f) <- Seq((2L, 3L), (4L, 6L), (2L, 6L))
         if uncapped.contains(c) && uncapped.contains(f))
      assert(uncapped(c) <= uncapped(f),
        s"recall dropped on nested refine $c→$f: ${uncapped(c)} > ${uncapped(f)}")
  }

  test("lsh recall threshold sweep separates on a graded-similarity corpus") {
    import spark.implicits._
    // The sf fixtures' exhaustive truth pairs all sit at Jaccard ≥ 0.7
    // (threshold-flat), so the SWEEP's value needs a corpus with pairs
    // AT each threshold: per pair, two 32-token docs share a prefix of
    // m tokens over a pair-private vocabulary — shared 3-gram shingles
    // c = m − 2, Jaccard = c / (60 − c). m = 16/22/27 lands j ≈ 0.304 /
    // 0.5 / 0.714; six pairs per grade.
    val graded = (0 until 18).flatMap { p =>
      val m = Seq(16, 22, 27)(p % 3)
      val a = (0 until 32).map(i => s"p${p}a$i")
      val b = (0 until 32).map(i => if (i < m) s"p${p}a$i" else s"p${p}b$i")
      Seq((p * 2L, a.mkString(" ")), (p * 2L + 1, b.mkString(" ")))
    }.toDF("doc_id", "text")
    val rows = graft.ops.Dedup.lshRecall(graded, thresholdsPct = Seq(30, 50, 70))
      .select("threshold_pct", "bands", "n_truth", "hits")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // truth sets nest strictly: 18 pairs ≥ 0.3, 12 ≥ 0.5, 6 ≥ 0.7
    assert(rows((30L, 2L))._1 == 18L && rows((50L, 2L))._1 == 12L &&
      rows((70L, 2L))._1 == 6L, s"graded truth sets wrong: $rows")
    // the S-curve: at the LOW threshold, few bands (rows=6, p≈s⁶) miss
    // most 0.3-pairs while many bands (rows=2, p≈1−(1−s²)⁶) recover a
    // large fraction — the spread the production guidance cites
    assert(rows((30L, 6L))._2 > rows((30L, 2L))._2,
      s"banding lever invisible at t=0.3: $rows")
    // at 6 bands (rows=2) the 0.7-pairs are essentially all caught
    // (p ≈ 1−(1−0.714²)⁶ ≈ 0.98 per pair; measured 6/6)
    assert(rows((70L, 6L))._2 >= 5L, s"0.7-pairs should survive 6 bands: $rows")
    info(s"graded recall table: ${rows.toSeq.sortBy(_._1).mkString(", ")}")
  }

  test("scale-invariant signature: NN-rescaled copies collide at hamming 0; dimension-grouped pairs cannot see them") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 9L, 14L)
    val orig = ids.map(id => (id, Multimodal.syntheticBmp(id))).toDF("id", "img")
    val up = ids.map(id =>
      (1000L + id, Multimodal.nnUpscale2x(Multimodal.syntheticBmp(id))))
      .toDF("id", "img")
    val sigs = Multimodal.imageInvariantHash(Multimodal.ScaleRule)(
      orig.unionByName(up), "id", "img").collect()
      .map(r => r.id -> r.ahash).toMap
    // the floor-composition identity: thumb(NN-2x(img)) == thumb(img)
    for (id <- ids)
      assert(sigs(id) == sigs(1000L + id),
        s"2x NN upscale of $id changed the scale-invariant signature")
    // distinct contents stay distinct
    assert(ids.map(sigs(_)).distinct.size == ids.size)
    // the pairs gate surfaces each cross-resolution duplicate at 0
    val pairs = MediaKeys.ImageScale.key.pairs(
      Multimodal.imageInvariantHash(Multimodal.ScaleRule)(
        orig.unionByName(up), "id", "img").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(pairs.contains((id, 1000L + id, 0L)),
        s"missing cross-resolution pair for $id: ${pairs.mkString(",")}")
    // the DIMENSION-GROUPED path provably cannot: a 2× copy over 64
    // pixels has no one-word aHash (refused `malformed`), and where both
    // sides sign, dims differ — no pair
    val dimSigs = Multimodal.imageAHashSafe(orig.unionByName(up), "id", "img")
    val refused = dimSigs.where(!col("ok")).select("id", "reason")
      .as[(Long, String)].collect().toMap
    assert(refused.keySet == ids.map(1000L + _).toSet &&
      refused.values.forall(_ == "decode:malformed"), s"refused: $refused")
    val dimPairs = Multimodal.imageAHashPairs(
      dimSigs.where(col("ok")).drop("ok", "reason"))
      .collect()
    assert(!dimPairs.exists(r => r.getLong(1) >= 1000L && r.getLong(0) < 1000L),
      "dimension-grouped pairs unexpectedly matched across resolutions")
    // the INCREMENTAL screen: a batch of rescaled re-uploads hits the
    // standing corpus's thumb index at hamming 0, one row per upload
    val screened = MediaKeys.ImageScale.key.screen(
        Multimodal.imageInvariantHash(Multimodal.ScaleRule)(orig, "id", "img").toDF(),
        Multimodal.imageInvariantHash(Multimodal.ScaleRule)(up, "id", "img").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(screened.contains((1000L + id, id, 0L)),
        s"incremental screen missed re-upload of $id: ${screened.mkString(",")}")
  }

  test("scale-invariant video signature: NN-rescaled transcodes collide at hamming 0; dimension-grouped perceptual pairs cannot see them") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 9L, 14L)
    val orig = ids.map(id => (2 * id, Multimodal.syntheticVideoMp4(id)))
      .toDF("id", "vid")
    val up = ids.map(id =>
      (2 * id + 1, Multimodal.nnUpscaleVideo2x(Multimodal.syntheticVideoMp4(id))))
      .toDF("id", "vid")
    val sigs = Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.ScaleRule)(
      orig.unionByName(up), "id", "vid").collect()
      .map(r => r.id -> (r.n_key, r.sig)).toMap
    // the floor-composition identity per keyframe: thumb(NN-2x(frame))
    // == thumb(frame), so the packed clip signature is bit-identical
    for (id <- ids)
      assert(sigs(2 * id) == sigs(2 * id + 1),
        s"2x NN upscale of $id changed the scale-invariant video signature")
    // distinct contents stay distinct
    assert(ids.map(id => sigs(2 * id)).distinct.size == ids.size)
    // the pairs gate surfaces each cross-resolution transcode at 0
    val pairs = MediaKeys.VideoScale.key.pairs(
      Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.ScaleRule)(
        orig.unionByName(up), "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(pairs.contains((2 * id, 2 * id + 1, 0L)),
        s"missing cross-resolution pair for $id: ${pairs.mkString(",")}")
    // the DIMENSION-GROUPED perceptual path provably cannot: the
    // rescaled transcode doubles width×height, so original and copy
    // never share a band group → no cross pair (copies whose keyframes
    // exceed 64 pixels have no one-word aHash and quarantine instead)
    val dimSigs = Multimodal.videoPerceptualHashSafe(orig.unionByName(up), "id", "vid")
    assert(dimSigs.where(!col("ok")).select("reason").distinct().as[String]
      .collect().toSeq == Seq("decode:malformed"))
    val dimPairs = Multimodal.videoPerceptualPairs(
      dimSigs.where(col("ok")).drop("ok", "reason"))
      .collect()
    assert(!dimPairs.exists(r => r.getLong(0) % 2 == 0 && r.getLong(1) == r.getLong(0) + 1),
      "dimension-grouped perceptual pairs unexpectedly matched across resolutions")
    // the INCREMENTAL screen: a batch of rescaled transcodes hits the
    // standing corpus's signature index at hamming 0, one row per clip
    val screened = MediaKeys.VideoScale.key.screen(
        Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.ScaleRule)(orig, "id", "vid").toDF(),
        Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.ScaleRule)(up, "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(screened.contains((2 * id + 1, 2 * id, 0L)),
        s"incremental screen missed transcode of $id: ${screened.mkString(",")}")
    // the upscaler preserves keyframe placement and frame count — the
    // invariance claim samples the same frame indices on both sides
    val m0 = graft.ops.Mp4.parse(Multimodal.syntheticVideoMp4(9L))
    val m1 = graft.ops.Mp4.parse(
      Multimodal.nnUpscaleVideo2x(Multimodal.syntheticVideoMp4(9L)))
    assert(m0.samples.map(_.keyframe) == m1.samples.map(_.keyframe),
      "nnUpscaleVideo2x moved the keyframe set")
  }

  test("scale+stride-invariant video signature: invariant to rescale AND keyframe re-placement; both parents provably miss one axis") {
    import spark.implicits._
    // contents whose four variants vary keyStride 1..4 (the T fixtures)
    val ids = Seq(4L, 5L, 8L, 9L, 36L, 37L)
    val orig = ids.map(id => (2 * id, Multimodal.syntheticVideoMp4T(id)))
      .toDF("id", "vid")
    val up = ids.map(id =>
      (2 * id + 1, Multimodal.nnUpscaleVideo2x(Multimodal.syntheticVideoMp4T(id))))
      .toDF("id", "vid")
    val sigs = Multimodal.videoInvariantHash(Multimodal.TimelineSlots, Multimodal.ScaleRule)(
      orig.unionByName(up), "id", "vid").collect()
      .map(r => r.id -> r.sig).toMap
    // axis 1 — rescale+re-mux: the NN-2× copy (timing normalized, PNG
    // frames re-encoded BMP) signatures identically
    for (id <- ids)
      assert(sigs(2 * id) == sigs(2 * id + 1),
        s"rescaled re-mux of $id changed the scale+stride-invariant signature")
    // axis 2 — keyframe re-placement: v0 (stride 1) and v1 (stride 2)
    // of one content signature identically under the combo key…
    assert(sigs(2 * 4L) == sigs(2 * 5L) && sigs(2 * 36L) == sigs(2 * 37L),
      "cross-stride variants should collide under the combo key")
    // …which the stss-sampled THUMB key provably cannot do (different
    // stss sets hash different frames / different n_key groups)
    val stssSigs = Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.ScaleRule)(orig, "id", "vid")
      .collect().map(r => r.id -> (r.n_key, r.sig)).toMap
    assert(stssSigs(2 * 4L) != stssSigs(2 * 5L),
      "stss-sampled thumb key unexpectedly absorbed keyframe re-placement")
    // …and the dimension-grouped ALIGNED key provably cannot absorb the
    // rescale: every 2× copy's frames exceed the 64 pixels of a one-word
    // aHash, so the key refuses them (`malformed`) rather than signing
    val refused = intercept[org.apache.spark.SparkException] {
      Multimodal.videoPerceptualHashTimeAligned(up, "id", "vid").collect()
    }
    assert(Iterator.iterate[Throwable](refused)(_.getCause).takeWhile(_ != null)
      .exists { case d: graft.ops.DecodeException => d.kind == "malformed"; case _ => false },
      s"expected a malformed refusal, got $refused")
    // the combo pairs gate surfaces every rescaled copy at Hamming 0
    val pairs = MediaKeys.VideoScaleTime.key.pairs(
      Multimodal.videoInvariantHash(Multimodal.TimelineSlots, Multimodal.ScaleRule)(
        orig.unionByName(up), "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(pairs.contains((2 * id, 2 * id + 1, 0L)),
        s"missing rescale+re-mux pair for $id: ${pairs.mkString(",")}")
    // the INCREMENTAL screen: a batch of rescaled+re-muxed transcodes
    // hits the standing corpus index at hamming 0, one row per clip
    val screened = MediaKeys.VideoScaleTime.key.screen(
        Multimodal.videoInvariantHash(Multimodal.TimelineSlots, Multimodal.ScaleRule)(orig, "id", "vid").toDF(),
        Multimodal.videoInvariantHash(Multimodal.TimelineSlots, Multimodal.ScaleRule)(up, "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(screened.contains((2 * id + 1, 2 * id, 0L)),
        s"incremental screen missed transcode of $id: ${screened.mkString(",")}")
  }

  test("crop-invariant image signature: letterboxed (and letterboxed+rescaled) copies collide at hamming 0; both parent keys provably miss them") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 9L, 14L)
    def pads(e: Long) = (1 + (e % 3).toInt, 1 + (e % 2).toInt, 2, 1)
    // 1) the trim-recovery lemma, exactly: contentBox on a letterboxed
    //    fixture returns the original rectangle at the pad offsets, and
    //    the boxed pixels equal the original's — so the box thumb is
    //    bit-identical by construction, not merely by hash collision
    for (e <- ids) {
      val (pl, pt, pr, pb) = pads(e)
      val src = graft.ops.Bmp.decode(Multimodal.syntheticBmp(e))
      val boxed = graft.ops.Bmp.decode(
        Multimodal.letterbox(Multimodal.syntheticBmp(e), pl, pt, pr, pb))
      val (bx, by, bw, bh) =
        Multimodal.contentBox(boxed.width, boxed.height, boxed.pixels)
      assert((bx, by, bw, bh) == (pl, pt, src.width, src.height),
        s"contentBox of letterboxed $e returned ($bx,$by,$bw,$bh)")
      for (y <- 0 until src.height; x <- 0 until src.width)
        assert(boxed.pixels((by + y) * boxed.width + bx + x) ==
          src.pixels(y * src.width + x), s"trim of $e damaged pixel ($x,$y)")
      // an untouched original trims NOTHING (no uniform content rows)
      val (ox, oy, ow, oh) =
        Multimodal.contentBox(src.width, src.height, src.pixels)
      assert((ox, oy, ow, oh) == (0, 0, src.width, src.height),
        s"contentBox trimmed an original: ($ox,$oy,$ow,$oh)")
    }
    // 2) key invariance end-to-end, letterbox alone AND composed with
    //    the NN 2× upscale (the gate fixture): signatures bit-identical
    val orig = ids.map(e => (2 * e, Multimodal.syntheticBmp(e))).toDF("id", "img")
    val boxed = ids.map { e =>
      val (pl, pt, pr, pb) = pads(e)
      (2 * e + 1, Multimodal.nnUpscale2x(
        Multimodal.letterbox(Multimodal.syntheticBmp(e), pl, pt, pr, pb)))
    }.toDF("id", "img")
    val sigs = Multimodal.imageInvariantHash(Multimodal.CropRule)(
      orig.unionByName(boxed), "id", "img").collect()
      .map(r => r.id -> r.ahash).toMap
    for (e <- ids)
      assert(sigs(2 * e) == sigs(2 * e + 1),
        s"letterbox+2x of $e changed the crop-invariant signature")
    // distinct contents stay distinct; originals carry the SCALE key's
    // signature (no border → full-frame box → same thumb domain)
    assert(ids.map(e => sigs(2 * e)).distinct.size == ids.size)
    val scaleSigs = Multimodal.imageInvariantHash(Multimodal.ScaleRule)(orig, "id", "img")
      .collect().map(r => r.id -> r.ahash).toMap
    for (e <- ids)
      assert(sigs(2 * e) == scaleSigs(2 * e),
        s"crop key of un-boxed original $e diverged from the scale key")
    // 3) BOTH parents provably miss the pair: the scale key thumbs the
    //    full canvas (border pixels enter → different signature), and
    //    the dimension-grouped key can't even compare (dims differ)
    val scaleBoth = Multimodal.imageInvariantHash(Multimodal.ScaleRule)(
      orig.unionByName(boxed), "id", "img").collect()
      .map(r => r.id -> r.ahash).toMap
    assert(ids.exists(e => scaleBoth(2 * e) != scaleBoth(2 * e + 1)),
      "scale-invariant parent unexpectedly absorbed the letterbox for every id")
    val scaleBlind = ids.count(e => scaleBoth(2 * e) != scaleBoth(2 * e + 1))
    info(s"scale-invariant parent blind on $scaleBlind/${ids.size} letterboxed copies")
    // 4) the pairs gate surfaces each cross-layout duplicate at 0
    val pairs = MediaKeys.ImageCrop.key.pairs(
      Multimodal.imageInvariantHash(Multimodal.CropRule)(
        orig.unionByName(boxed), "id", "img").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(pairs.contains((2 * e, 2 * e + 1, 0L)),
        s"missing cross-layout pair for $e: ${pairs.mkString(",")}")
    // 5) the INCREMENTAL screen: boxed re-uploads hit the standing
    //    content-box index at hamming 0
    val screened = MediaKeys.ImageCrop.key.screen(
        Multimodal.imageInvariantHash(Multimodal.CropRule)(orig, "id", "img").toDF(),
        Multimodal.imageInvariantHash(Multimodal.CropRule)(boxed, "id", "img").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(screened.contains((2 * e + 1, 2 * e, 0L)),
        s"incremental screen missed boxed re-upload of $e: ${screened.mkString(",")}")
    // 6) the fully-uniform edge: a flat frame keeps its whole canvas
    //    (content IS the border color — never trim to an empty box)
    val flat = Array.fill(12)(0x123456)
    assert(Multimodal.contentBox(4, 3, flat) == (0, 0, 4, 3),
      "fully-uniform frame should keep the full box")
  }

  test("crop-invariant video signature: letterboxed+rescaled transcodes collide at hamming 0; both parent video keys provably miss them") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 9L, 14L)
    def pads(e: Long) = (1 + (e % 3).toInt, 1 + (e % 2).toInt, 2, 1)
    val orig = ids.map(e => (2 * e, Multimodal.syntheticVideoMp4(e)))
      .toDF("id", "vid")
    val boxed = ids.map { e =>
      val (pl, pt, pr, pb) = pads(e)
      (2 * e + 1, Multimodal.nnUpscaleVideo2x(
        Multimodal.letterboxVideo(Multimodal.syntheticVideoMp4(e), pl, pt, pr, pb)))
    }.toDF("id", "vid")
    val sigs = Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.CropRule)(
      orig.unionByName(boxed), "id", "vid").collect()
      .map(r => r.id -> (r.n_key, r.sig)).toMap
    // per-keyframe trim recovery + floor composition: the packed clip
    // signature is bit-identical across letterbox AND 2× rescale
    for (e <- ids)
      assert(sigs(2 * e) == sigs(2 * e + 1),
        s"letterbox+2x transcode of $e changed the crop-invariant video signature")
    assert(ids.map(e => sigs(2 * e)).distinct.size == ids.size)
    // the letterboxer preserves keyframe placement and frame count
    val m0 = graft.ops.Mp4.parse(Multimodal.syntheticVideoMp4(9L))
    val m1 = graft.ops.Mp4.parse(
      Multimodal.letterboxVideo(Multimodal.syntheticVideoMp4(9L), 2, 1, 2, 1))
    assert(m0.samples.map(_.keyframe) == m1.samples.map(_.keyframe),
      "letterboxVideo moved the keyframe set")
    // BOTH parents provably miss: the full-frame scale-invariant key
    // sees border pixels (different signature), the dimension-grouped
    // perceptual key can't compare (canvas dims differ)
    val scaleBoth = Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.ScaleRule)(
      orig.unionByName(boxed), "id", "vid").collect()
      .map(r => r.id -> r.sig).toMap
    assert(ids.exists(e => scaleBoth(2 * e) != scaleBoth(2 * e + 1)),
      "video scale-invariant parent unexpectedly absorbed the letterbox for every id")
    info(s"video scale-invariant parent blind on " +
      s"${ids.count(e => scaleBoth(2 * e) != scaleBoth(2 * e + 1))}/${ids.size} copies")
    // the pairs gate surfaces each transcode at 0
    val pairs = MediaKeys.VideoCrop.key.pairs(
      Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.CropRule)(
        orig.unionByName(boxed), "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(pairs.contains((2 * e, 2 * e + 1, 0L)),
        s"missing cross-layout video pair for $e: ${pairs.mkString(",")}")
    // the INCREMENTAL screen mirrors the batch hits
    val screened = MediaKeys.VideoCrop.key.screen(
        Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.CropRule)(orig, "id", "vid").toDF(),
        Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.CropRule)(boxed, "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(screened.contains((2 * e + 1, 2 * e, 0L)),
        s"incremental screen missed transcode of $e: ${screened.mkString(",")}")
  }

  test("mirror-invariant image signature: mirrored (and mirrored+rescaled) copies collide at hamming 0; every other image key provably misses them") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 9L, 14L)
    // 1) the orbit lemma on real encoded bytes: the canonical hash of a
    //    mirrored copy — and of a mirrored-then-NN-2×-upscaled copy
    //    (mirror∘upscale = upscale∘mirror) — is bit-identical
    val orig = ids.map(e => (2 * e, Multimodal.syntheticBmp(e))).toDF("id", "img")
    val flipped = ids.map(e =>
      (2 * e + 1, Multimodal.nnUpscale2x(Multimodal.mirrorBmp(
        Multimodal.syntheticBmp(e))))).toDF("id", "img")
    val sigs = Multimodal.imageInvariantHash(Multimodal.MirrorRule)(
      orig.unionByName(flipped), "id", "img").collect()
      .map(r => r.id -> r.ahash).toMap
    for (e <- ids)
      assert(sigs(2 * e) == sigs(2 * e + 1),
        s"mirror+2x of $e changed the mirror-invariant signature")
    assert(ids.map(e => sigs(2 * e)).distinct.size == ids.size)
    // mirror alone (no upscale) also collides — the involution case
    val mirrorOnly = ids.map(e =>
      (3000L + e, Multimodal.mirrorBmp(Multimodal.syntheticBmp(e))))
      .toDF("id", "img")
    val sigsM = Multimodal.imageInvariantHash(Multimodal.MirrorRule)(
      orig.unionByName(mirrorOnly), "id", "img").collect()
      .map(r => r.id -> r.ahash).toMap
    for (e <- ids)
      assert(sigsM(2 * e) == sigsM(3000L + e),
        s"plain mirror of $e changed the mirror-invariant signature")
    // 2) every OTHER image key provably misses: the scale and crop keys
    //    hash the uploaded orientation only (different bits)
    val scaleBoth = Multimodal.imageInvariantHash(Multimodal.ScaleRule)(
      orig.unionByName(mirrorOnly), "id", "img").collect()
      .map(r => r.id -> r.ahash).toMap
    assert(ids.exists(e => scaleBoth(2 * e) != scaleBoth(3000L + e)),
      "scale-invariant key unexpectedly absorbed the mirror for every id")
    val cropBoth = Multimodal.imageInvariantHash(Multimodal.CropRule)(
      orig.unionByName(mirrorOnly), "id", "img").collect()
      .map(r => r.id -> r.ahash).toMap
    assert(ids.exists(e => cropBoth(2 * e) != cropBoth(3000L + e)),
      "crop-invariant key unexpectedly absorbed the mirror for every id")
    info(s"scale key blind on ${ids.count(e => scaleBoth(2 * e) != scaleBoth(3000L + e))}/" +
      s"${ids.size}, crop key blind on ${ids.count(e => cropBoth(2 * e) != cropBoth(3000L + e))}/${ids.size}")
    // 3) the pairs gate surfaces each cross-orientation duplicate at 0
    val pairs = MediaKeys.ImageMirror.key.pairs(
      Multimodal.imageInvariantHash(Multimodal.MirrorRule)(
        orig.unionByName(flipped), "id", "img").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(pairs.contains((2 * e, 2 * e + 1, 0L)),
        s"missing cross-orientation pair for $e: ${pairs.mkString(",")}")
    // 4) the INCREMENTAL screen mirrors the batch hits
    val screened = MediaKeys.ImageMirror.key.screen(
        Multimodal.imageInvariantHash(Multimodal.MirrorRule)(orig, "id", "img").toDF(),
        Multimodal.imageInvariantHash(Multimodal.MirrorRule)(flipped, "id", "img").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(screened.contains((2 * e + 1, 2 * e, 0L)),
        s"incremental screen missed mirrored re-upload of $e: ${screened.mkString(",")}")
  }

  test("rotation-invariant image signature: the full dihedral orbit collides at hamming 0; every other image key, including the mirror key, provably misses a 90-degree rotation") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 9L, 14L)
    // 1) the group-orbit lemma on real encoded bytes: every element of
    //    the D4 orbit — each rotation, each rotation+mirror, and each
    //    composed with an NN 2× upscale (rot90∘upscale = upscale∘rot90,
    //    the parity identity on the swapped coordinate) — canonicalizes
    //    to the same signature
    def key(rows: Seq[(Long, Array[Byte])]): Map[Long, Long] =
      Multimodal.imageInvariantHash(Multimodal.RotationRule)(
        rows.toDF("id", "img"), "id", "img").collect()
        .map(r => r.id -> r.ahash).toMap
    val origRows = ids.map(e => (2 * e, Multimodal.syntheticBmp(e)))
    for (turns <- 1 to 3; up <- Seq(false, true)) {
      val copies = ids.map { e =>
        val r = Multimodal.rotateBmp(Multimodal.syntheticBmp(e), turns)
        (2 * e + 1, if (up) Multimodal.nnUpscale2x(r) else r)
      }
      val sigs = key(origRows ++ copies)
      for (e <- ids)
        assert(sigs(2 * e) == sigs(2 * e + 1),
          s"rot${90 * turns}${if (up) "+2x" else ""} of $e changed the rotation-invariant signature")
    }
    // mirror and mirror∘rotation are in the orbit too — the rotation
    // key SUBSUMES the mirror axis
    val mixedCopies = ids.map(e => (2 * e + 1, Multimodal.rotateBmp(
      Multimodal.mirrorBmp(Multimodal.syntheticBmp(e)), 1 + (e % 3).toInt)))
    val sigsMix = key(origRows ++ mixedCopies)
    for (e <- ids)
      assert(sigsMix(2 * e) == sigsMix(2 * e + 1),
        s"mirror+rotation of $e escaped the dihedral orbit")
    assert(ids.map(e => sigsMix(2 * e)).distinct.size == ids.size)
    // 2) generator-level commutation: upscale-then-rotate and
    //    rotate-then-upscale produce byte-identical pixels
    for (e <- ids) {
      val a = Multimodal.rotateBmp(Multimodal.nnUpscale2x(
        Multimodal.syntheticBmp(e)), 1)
      val b = Multimodal.nnUpscale2x(Multimodal.rotateBmp(
        Multimodal.syntheticBmp(e), 1))
      assert(java.util.Arrays.equals(a, b),
        s"rot90 and NN-2x upscale do not commute on $e")
    }
    // 3) every OTHER image key provably misses a 90° rotation: the
    //    MIRROR key canonicalizes only over {id, mirror} — no rotation
    //    in that orbit — and the scale/crop keys hash the uploaded
    //    orientation
    val rotOnly = ids.map(e =>
      (3000L + e, Multimodal.rotateBmp(Multimodal.syntheticBmp(e), 1)))
    def blind(keyed: Map[Long, Long]): Int =
      ids.count(e => keyed(2 * e) != keyed(3000L + e))
    val mirrorBoth = Multimodal.imageInvariantHash(Multimodal.MirrorRule)(
      (origRows ++ rotOnly).toDF("id", "img"), "id", "img").collect()
      .map(r => r.id -> r.ahash).toMap
    assert(blind(mirrorBoth) > 0,
      "mirror key unexpectedly absorbed the rotation for every id")
    val scaleBoth = Multimodal.imageInvariantHash(Multimodal.ScaleRule)(
      (origRows ++ rotOnly).toDF("id", "img"), "id", "img").collect()
      .map(r => r.id -> r.ahash).toMap
    assert(blind(scaleBoth) > 0,
      "scale key unexpectedly absorbed the rotation for every id")
    info(s"mirror key blind on ${blind(mirrorBoth)}/${ids.size}, " +
      s"scale key blind on ${blind(scaleBoth)}/${ids.size} rotated copies")
    // 4) the pairs gate surfaces each cross-rotation duplicate at 0
    val upRot = ids.map(e => (2 * e + 1, Multimodal.nnUpscale2x(
      Multimodal.rotateBmp(Multimodal.syntheticBmp(e), 1 + (e % 3).toInt))))
    val pairs = MediaKeys.ImageRotation.key.pairs(
      Multimodal.imageInvariantHash(Multimodal.RotationRule)(
        (origRows ++ upRot).toDF("id", "img"), "id", "img").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(pairs.contains((2 * e, 2 * e + 1, 0L)),
        s"missing cross-rotation pair for $e: ${pairs.mkString(",")}")
    // 5) the INCREMENTAL screen mirrors the batch hits
    val screened = MediaKeys.ImageRotation.key.screen(
        Multimodal.imageInvariantHash(Multimodal.RotationRule)(
          origRows.toDF("id", "img"), "id", "img").toDF(),
        Multimodal.imageInvariantHash(Multimodal.RotationRule)(
          upRot.toDF("id", "img"), "id", "img").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(screened.contains((2 * e + 1, 2 * e, 0L)),
        s"incremental screen missed rotated re-upload of $e: ${screened.mkString(",")}")
  }

  test("mirror-invariant video signature: frame-mirrored (and mirrored+rescaled) transcodes collide at hamming 0; every other video key provably misses them") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 9L, 14L)
    def vkey(rows: Seq[(Long, Array[Byte])]): Map[Long, Long] =
      Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.MirrorRule)(
        rows.toDF("id", "vid"), "id", "vid").collect()
        .map(r => r.id -> r.sig).toMap
    val origRows = ids.map(e => (2 * e, Multimodal.syntheticVideoMp4(e)))
    // 1) per-frame orbit canonicalization on real containers: mirrored
    //    and mirrored-then-NN-2×-rescaled transcodes are bit-identical
    val mirrored = ids.map(e =>
      (2 * e + 1, Multimodal.mirrorVideoMp4(Multimodal.syntheticVideoMp4(e))))
    val sigsM = vkey(origRows ++ mirrored)
    for (e <- ids)
      assert(sigsM(2 * e) == sigsM(2 * e + 1),
        s"frame mirror of $e changed the mirror-invariant video signature")
    val mirUp = ids.map(e => (2 * e + 1, Multimodal.nnUpscaleVideo2x(
      Multimodal.mirrorVideoMp4(Multimodal.syntheticVideoMp4(e)))))
    val sigsU = vkey(origRows ++ mirUp)
    for (e <- ids)
      assert(sigsU(2 * e) == sigsU(2 * e + 1),
        s"mirror+2x transcode of $e changed the mirror-invariant video signature")
    assert(ids.map(e => sigsU(2 * e)).distinct.size == ids.size)
    // the mirror re-encoder preserves keyframe placement
    val m0 = graft.ops.Mp4.parse(Multimodal.syntheticVideoMp4(9L))
    val m1 = graft.ops.Mp4.parse(
      Multimodal.mirrorVideoMp4(Multimodal.syntheticVideoMp4(9L)))
    assert(m0.samples.map(_.keyframe) == m1.samples.map(_.keyframe),
      "mirrorVideoMp4 moved the keyframe set")
    // 2) every OTHER video key provably misses: scale and crop keys
    //    hash the uploaded orientation's thumb bits
    def blind(keyed: Map[Long, Long]): Int =
      ids.count(e => keyed(2 * e) != keyed(2 * e + 1))
    val scaleBoth = Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.ScaleRule)(
      (origRows ++ mirrored).toDF("id", "vid"), "id", "vid").collect()
      .map(r => r.id -> r.sig).toMap
    assert(blind(scaleBoth) > 0,
      "video scale key unexpectedly absorbed the frame mirror for every id")
    val cropBoth = Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.CropRule)(
      (origRows ++ mirrored).toDF("id", "vid"), "id", "vid").collect()
      .map(r => r.id -> r.sig).toMap
    assert(blind(cropBoth) > 0,
      "video crop key unexpectedly absorbed the frame mirror for every id")
    info(s"video scale key blind on ${blind(scaleBoth)}/${ids.size}, " +
      s"crop key blind on ${blind(cropBoth)}/${ids.size} mirrored transcodes")
    // 3) the pairs gate surfaces each cross-orientation transcode at 0
    val pairs = MediaKeys.VideoMirror.key.pairs(
      Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.MirrorRule)(
        (origRows ++ mirUp).toDF("id", "vid"), "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(pairs.contains((2 * e, 2 * e + 1, 0L)),
        s"missing cross-orientation video pair for $e: ${pairs.mkString(",")}")
    // 4) the INCREMENTAL screen mirrors the batch hits
    val screened = MediaKeys.VideoMirror.key.screen(
        Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.MirrorRule)(
          origRows.toDF("id", "vid"), "id", "vid").toDF(),
        Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.MirrorRule)(
          mirUp.toDF("id", "vid"), "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(screened.contains((2 * e + 1, 2 * e, 0L)),
        s"incremental screen missed mirrored transcode of $e: ${screened.mkString(",")}")
  }

  test("rotation-invariant video signature: the per-frame dihedral orbit collides at hamming 0; every other video key, including the mirror key, provably misses a 90-degree rotation") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 9L, 14L)
    def vkey(rows: Seq[(Long, Array[Byte])]): Map[Long, Long] =
      Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.RotationRule)(
        rows.toDF("id", "vid"), "id", "vid").collect()
        .map(r => r.id -> r.sig).toMap
    val origRows = ids.map(e => (2 * e, Multimodal.syntheticVideoMp4(e)))
    // 1) the group-orbit lemma frame-wise on real containers: every
    //    rotation count, with and without the NN 2× rescale, and
    //    composed with the frame mirror, canonicalizes identically
    for (turns <- 1 to 3; up <- Seq(false, true)) {
      val copies = ids.map { e =>
        val r = Multimodal.rotateVideoMp4(Multimodal.syntheticVideoMp4(e), turns)
        (2 * e + 1, if (up) Multimodal.nnUpscaleVideo2x(r) else r)
      }
      val sigs = vkey(origRows ++ copies)
      for (e <- ids)
        assert(sigs(2 * e) == sigs(2 * e + 1),
          s"rot${90 * turns}${if (up) "+2x" else ""} of clip $e changed the rotation-invariant signature")
    }
    val mixed = ids.map(e => (2 * e + 1, Multimodal.rotateVideoMp4(
      Multimodal.mirrorVideoMp4(Multimodal.syntheticVideoMp4(e)),
      1 + (e % 3).toInt)))
    val sigsMix = vkey(origRows ++ mixed)
    for (e <- ids)
      assert(sigsMix(2 * e) == sigsMix(2 * e + 1),
        s"mirror+rotation of clip $e escaped the dihedral orbit")
    assert(ids.map(e => sigsMix(2 * e)).distinct.size == ids.size)
    // 2) every OTHER video key provably misses a 90° rotation —
    //    including the MIRROR video key ({id, mirror} contains no
    //    rotation; the dims also swap)
    val rotOnly = ids.map(e => (2 * e + 1, Multimodal.rotateVideoMp4(
      Multimodal.syntheticVideoMp4(e), 1)))
    def blind(keyed: Map[Long, Long]): Int =
      ids.count(e => keyed(2 * e) != keyed(2 * e + 1))
    val mirrorBoth = Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.MirrorRule)(
      (origRows ++ rotOnly).toDF("id", "vid"), "id", "vid").collect()
      .map(r => r.id -> r.sig).toMap
    assert(blind(mirrorBoth) > 0,
      "video mirror key unexpectedly absorbed the rotation for every clip")
    val scaleBoth = Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.ScaleRule)(
      (origRows ++ rotOnly).toDF("id", "vid"), "id", "vid").collect()
      .map(r => r.id -> r.sig).toMap
    assert(blind(scaleBoth) > 0,
      "video scale key unexpectedly absorbed the rotation for every clip")
    info(s"video mirror key blind on ${blind(mirrorBoth)}/${ids.size}, " +
      s"scale key blind on ${blind(scaleBoth)}/${ids.size} rotated clips")
    // 3) the pairs gate surfaces each cross-rotation transcode at 0
    val upRot = ids.map(e => (2 * e + 1, Multimodal.nnUpscaleVideo2x(
      Multimodal.rotateVideoMp4(Multimodal.syntheticVideoMp4(e),
        1 + (e % 3).toInt))))
    val pairs = MediaKeys.VideoRotation.key.pairs(
      Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.RotationRule)(
        (origRows ++ upRot).toDF("id", "vid"), "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(pairs.contains((2 * e, 2 * e + 1, 0L)),
        s"missing cross-rotation video pair for $e: ${pairs.mkString(",")}")
    // 4) the INCREMENTAL screen mirrors the batch hits
    val screened = MediaKeys.VideoRotation.key.screen(
        Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.RotationRule)(
          origRows.toDF("id", "vid"), "id", "vid").toDF(),
        Multimodal.videoInvariantHash(Multimodal.Keyframes, Multimodal.RotationRule)(
          upRot.toDF("id", "vid"), "id", "vid").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(screened.contains((2 * e + 1, 2 * e, 0L)),
        s"incremental screen missed rotated transcode of $e: ${screened.mkString(",")}")
  }

  test("channel-swap invariance: every energy-folded audio key absorbs an L/R swap; the exact sample fingerprint provably misses it; swapped+ZOH copies pair via the rate key") {
    import spark.implicits._
    import graft.ops.Wav
    // stereo fixtures only (odd ids → 2 channels; swap on mono is the
    // identity and proves nothing)
    val ids = Seq(1L, 3L, 9L, 15L)
    // 1) all three energy-derived keys are channel-swap invariant by
    //    construction (energy sums over channels)
    for (e <- ids) {
      val c = Wav.decode(Multimodal.syntheticWav(e))
      assert(c.channels == 2, s"fixture $e is not stereo")
      val s = Wav.decode(Multimodal.swapChannels(Multimodal.syntheticWav(e)))
      assert(Multimodal.rateInvariantBits(c) ==
        Multimodal.rateInvariantBits(s),
        s"rate key moved under channel swap for $e")
      assert(Multimodal.trimInvariantBits(c) ==
        Multimodal.trimInvariantBits(s),
        s"trim key moved under channel swap for $e")
      assert(Multimodal.windowFpOf(c, 4) == Multimodal.windowFpOf(s, 4),
        s"window fingerprint moved under channel swap for $e")
      // the byte-exact sample fingerprint misses: interleaved order
      // changed, and the two channels differ on the fixtures
      assert(!java.util.Arrays.equals(c.samples, s.samples),
        s"swap was a no-op on $e — fixture channels are identical")
    }
    // 2) swap commutes with ZOH upsampling on real encoded bytes
    for (e <- ids) {
      val a = Multimodal.swapChannels(Multimodal.zohUpsample2x(
        Multimodal.syntheticWav(e)))
      val b = Multimodal.zohUpsample2x(Multimodal.swapChannels(
        Multimodal.syntheticWav(e)))
      assert(java.util.Arrays.equals(a, b),
        s"swapChannels and zohUpsample2x do not commute on $e")
    }
    // 3) the gate's shape: swapped+ZOH copies pair with their originals
    //    at Hamming 0 via the rate-invariant key — while the
    //    (channels, n_windows)-grouped window key cannot even compare
    //    the pair (frame counts differ)
    val orig = ids.map(e => (2 * e, Multimodal.syntheticWav(e)))
      .toDF("id", "clip")
    val swapped = ids.map(e =>
      (2 * e + 1, Multimodal.swapChannels(Multimodal.zohUpsample2x(
        Multimodal.syntheticWav(e)))))
      .toDF("id", "clip")
    val pairs = MediaKeys.AudioChannelSwap.key.pairs(
      Multimodal.audioRateInvariantHash(
        orig.unionByName(swapped), "id", "clip").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(pairs.contains((2 * e, 2 * e + 1, 0L)),
        s"missing channel-swap pair for $e: ${pairs.mkString(",")}")
    val fps = Multimodal.audioFingerprint(
      orig.unionByName(swapped), "id", "clip").collect()
      .map(f => f.id -> f.n_windows).toMap
    for (e <- ids)
      assert(fps(2 * e) != fps(2 * e + 1),
        s"window-grouped parent could compare the swapped+ZOH pair for $e")
    // 4) the INCREMENTAL rate screen catches the composed copies too
    val screened = MediaKeys.AudioChannelSwap.key.screen(
        Multimodal.audioRateInvariantHash(orig, "id", "clip").toDF(),
        Multimodal.audioRateInvariantHash(swapped, "id", "clip").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (e <- ids)
      assert(screened.contains((2 * e + 1, 2 * e, 0L)),
        s"incremental rate screen missed swapped+ZOH re-upload of $e: ${screened.mkString(",")}")
  }

  test("trim-invariant audio signature: silence-padded (and padded+ZOH-resampled) copies collide at hamming 0; both parent audio keys provably miss them") {
    import spark.implicits._
    import graft.ops.Wav
    val ids = Seq(1L, 2L, 9L, 14L)
    def bits(clip: Wav.Clip): Long = Multimodal.trimInvariantBits(clip)
    // 1) onset-anchored floor composition, for general k and pads (not
    //    just the gate's 2×): ZOH k× + lead/trail silence leaves the
    //    signature bit-identical
    for (id <- ids; k <- Seq(2, 3); (lead, trail) <- Seq((1, 2), (5, 0), (0, 3))) {
      val c = Wav.decode(Multimodal.syntheticWavMixed(id))
      val nf = c.samples.length / c.channels
      val up = Wav.Clip(c.channels, c.sampleRate * k,
        Array.tabulate[Short]((lead + nf * k + trail) * c.channels) { i =>
          val f = i / c.channels; val ch = i % c.channels
          if (f < lead || f >= lead + nf * k) 0
          else c.samples(((f - lead) / k) * c.channels + ch)
        })
      assert(bits(c) == bits(up),
        s"ZOH ${k}x + pad($lead,$trail) of $id moved the trim key")
    }
    // 2) the generators compose identically: padSilence ∘ zohUpsample2x
    //    over real encoded bytes
    for (id <- ids) {
      val c = Wav.decode(Multimodal.syntheticWavMixed(id))
      val padded = Wav.decode(Multimodal.padSilence(
        Multimodal.zohUpsample2x(Multimodal.syntheticWavMixed(id)),
        1 + (id % 5).toInt, 1 + (id % 3).toInt))
      assert(bits(c) == bits(padded),
        s"padSilence(zohUpsample2x) of $id moved the trim key")
      // BOTH parents provably miss: the fixed-grid rate key samples the
      // shifted grid (different bits), the (channels, n_windows) key
      // can't compare (frame counts differ)
      assert(Multimodal.rateInvariantBits(c) !=
          Multimodal.rateInvariantBits(padded),
        s"rate-invariant parent unexpectedly absorbed the padding for $id")
    }
    // 3) silence-only and empty clips: the empty signature, loudly 0
    assert(bits(Wav.Clip(1, 8000, Array.fill[Short](40)(0))) == 0L)
    assert(bits(Wav.Clip(1, 8000, Array.empty[Short])) == 0L)
    // 4) the gate's shape: padded ZOH copies pair at Hamming 0
    val orig = ids.map(id => (2 * id, Multimodal.syntheticWavMixed(id)))
      .toDF("id", "clip")
    val padded = ids.map(id =>
      (2 * id + 1, Multimodal.padSilence(
        Multimodal.zohUpsample2x(Multimodal.syntheticWavMixed(id)),
        1 + (id % 5).toInt, 1 + (id % 3).toInt)))
      .toDF("id", "clip")
    val pairs = MediaKeys.AudioTrim.key.pairs(
      Multimodal.audioTrimInvariantHash(
        orig.unionByName(padded), "id", "clip").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(pairs.contains((2 * id, 2 * id + 1, 0L)),
        s"missing cross-trim pair for $id: ${pairs.mkString(",")}")
    // 5) the INCREMENTAL screen mirrors the batch hits
    val screened = MediaKeys.AudioTrim.key.screen(
        Multimodal.audioTrimInvariantHash(orig, "id", "clip").toDF(),
        Multimodal.audioTrimInvariantHash(padded, "id", "clip").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(screened.contains((2 * id + 1, 2 * id, 0L)),
        s"incremental screen missed padded re-upload of $id: ${screened.mkString(",")}")
    // 6) degenerate (signature-0) clips never pair or screen (ADVICE
    //    r17 #2): two DISTINCT silence-only clips share signature 0 in
    //    the single 'trim' group and would otherwise collapse into one
    //    keep-closure cluster
    def silentWav(nf: Int): Array[Byte] =
      graft.ops.Wav.encode(1, 8000, nf, (_, _) => 0.toShort)
    val silents = Seq((100L, silentWav(40)), (101L, silentWav(64)))
      .toDF("id", "clip")
    val mixed = Multimodal.audioTrimInvariantHash(
      orig.unionByName(silents), "id", "clip").toDF()
    val silentPairs = MediaKeys.AudioTrim.key.pairs(mixed)
      .filter(col("id_a") >= 100L || col("id_b") >= 100L).count()
    assert(silentPairs == 0L, "silence-only clips paired with each other")
    val silentScreen = MediaKeys.AudioTrim.key.screen(
        Multimodal.audioTrimInvariantHash(silents, "id", "clip").toDF(),
        Multimodal.audioTrimInvariantHash(silents, "id", "clip").toDF())
      .count()
    assert(silentScreen == 0L, "silence-only clips screened against each other")
  }

  test("rate-invariant audio signature: ZOH-resampled, gain-scaled, and channel-duplicated copies collide; rate-grouped pairs cannot see them") {
    import spark.implicits._
    import graft.ops.Wav
    val ids = Seq(1L, 2L, 9L, 14L)
    def bits(clip: Wav.Clip): Long = Multimodal.rateInvariantBits(clip)
    // 1) floor-composition identity: ZOH k× upsampling (for any integer
    //    k, not just the gate's 2×) leaves the signature bit-identical
    for (id <- ids; k <- Seq(2, 3, 5)) {
      val c = Wav.decode(Multimodal.syntheticWav(id))
      val nf = c.samples.length / c.channels
      val up = Wav.Clip(c.channels, c.sampleRate * k,
        Array.tabulate[Short](nf * k * c.channels) { i =>
          val f = i / c.channels; val ch = i % c.channels
          c.samples((f / k) * c.channels + ch)
        })
      assert(bits(c) == bits(up), s"ZOH ${k}x upsample of $id moved the key")
    }
    // 2) gain invariance: scaling every sample by g scales every frame
    //    energy by g² and flips no strict comparison (samples built
    //    small so g× stays in Short range)
    val base = Wav.Clip(1, 8000,
      Array.tabulate[Short](40)(f => ((f * 37 + 11) % 200 - 100).toShort))
    val gained = Wav.Clip(1, 8000, base.samples.map(v => (v * 3).toShort))
    assert(bits(base) == bits(gained), "uniform gain moved the key")
    // 3) channel-duplication invariance: mono → L=R stereo doubles
    //    every frame energy, same delta signs
    val stereo = Wav.Clip(2, 8000,
      base.samples.flatMap(v => Array(v, v)))
    assert(bits(base) == bits(stereo), "mono→L=R stereo moved the key")
    // 4) the gate's shape (on the gate's HIGH-ENTROPY mixed fixture —
    //    syntheticWav's linear ramp degenerates the delta-sign key, the
    //    reason syntheticWavMixed exists): cross-rate copies pair at
    //    Hamming 0, the rate-grouped path provably cannot see them
    val orig = ids.map(id => (id, Multimodal.syntheticWavMixed(id))).toDF("id", "clip")
    val up = ids.map(id =>
      (1000L + id, Multimodal.zohUpsample2x(Multimodal.syntheticWavMixed(id))))
      .toDF("id", "clip")
    val sigs = Multimodal.audioRateInvariantHash(
      orig.unionByName(up), "id", "clip").collect()
      .map(r => r.id -> r.rfp).toMap
    for (id <- ids)
      assert(sigs(id) == sigs(1000L + id),
        s"ZOH 2x upsample of $id changed the rate-invariant signature")
    assert(ids.map(sigs(_)).distinct.size == ids.size,
      "distinct clips should keep distinct signatures")
    val pairs = MediaKeys.AudioRate.key.pairs(
      Multimodal.audioRateInvariantHash(
        orig.unionByName(up), "id", "clip").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(pairs.contains((id, 1000L + id, 0L)),
        s"missing cross-rate pair for $id: ${pairs.mkString(",")}")
    // the (channels, n_windows)-grouped path: frame counts differ 2×,
    // so original and copy never share a group → no cross pair
    val ratePairs = Multimodal.audioFingerprintPairs(
      Multimodal.audioFingerprint(orig.unionByName(up), "id", "clip").toDF())
      .collect()
    assert(!ratePairs.exists(r => r.getLong(1) >= 1000L && r.getLong(0) < 1000L),
      "rate-grouped pairs unexpectedly matched across sample rates")
    // 5) the INCREMENTAL screen: a batch of resampled re-uploads hits
    //    the standing corpus index at hamming 0, one row per upload
    val screened = MediaKeys.AudioRate.key.screen(
        Multimodal.audioRateInvariantHash(orig, "id", "clip").toDF(),
        Multimodal.audioRateInvariantHash(up, "id", "clip").toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- ids)
      assert(screened.contains((1000L + id, id, 0L)),
        s"incremental screen missed re-upload of $id: ${screened.mkString(",")}")
  }

  test("zohUpsample2x refuses a sample rate that would overflow when doubled, naming the upsample") {
    import graft.ops.Wav
    // Wav.decode only requires sampleRate > 0 (ADVICE r15 #2): a rate
    // above 2^30 would overflow the doubling negative and die inside
    // Wav.encode with a generic shape error — the guard must name the
    // resample instead
    val hostile = Wav.encode(1, Int.MaxValue / 2 + 1, 4, (f, _) => f.toShort)
    val ex = intercept[graft.ops.DecodeException] {
      Multimodal.zohUpsample2x(hostile)
    }
    assert(ex.kind == "malformed" && ex.getMessage.contains("zohUpsample2x"),
      s"wrong refusal: ${ex.getMessage}")
    // the boundary rate itself still doubles fine
    val ok = Wav.encode(1, Int.MaxValue / 2, 4, (f, _) => f.toShort)
    assert(Wav.decode(Multimodal.zohUpsample2x(ok)).sampleRate == Int.MaxValue - 1)
  }

  test("mixed WAV fixture keeps the rate-invariant key high-entropy (the ramp fixture provably does not)") {
    import graft.ops.Wav
    // syntheticWav's samples are LINEAR in f → frame energies form one
    // parabola per clip → delta-sign keys collapse to ~64 `0^a 1^b`
    // patterns and the capped buckets evict every true cross-rate
    // partner at gate scale (measured 0/143 at sf0.001). This guard
    // pins BOTH facts so a future "simplification" of the fixture back
    // to a ramp fails loudly instead of silently degrading the gate.
    def keys(gen: Long => Array[Byte], n: Int): Seq[Long] =
      (0 until n).map(id =>
        Multimodal.rateInvariantBits(Wav.decode(gen(id.toLong))))
    val mixed = keys(Multimodal.syntheticWavMixed, 500)
    val ramp = keys(Multimodal.syntheticWav, 500)
    assert(mixed.distinct.size >= (mixed.size * 95) / 100,
      s"mixed fixture entropy collapsed: ${mixed.distinct.size}/500 distinct keys")
    // the ramp's degeneracy is structural, not an accident of 500 ids
    assert(ramp.distinct.size < 200,
      s"ramp fixture unexpectedly high-entropy (${ramp.distinct.size}/500) — " +
        "if the fixture changed, revisit whether syntheticWavMixed is still needed")
    // and every ZOH copy still collides exactly (the gate's core claim)
    for (id <- 0L until 100L)
      assert(Multimodal.rateInvariantBits(
          Wav.decode(Multimodal.zohUpsample2x(Multimodal.syntheticWavMixed(id))))
        == Multimodal.rateInvariantBits(
          Wav.decode(Multimodal.syntheticWavMixed(id))),
        s"ZOH copy of $id broke the composition identity")
  }

  test("audio resample: identity at the source rate, exact NN frame map otherwise, md5 through the one sampleMd5 definition") {
    import spark.implicits._
    import graft.ops.Wav
    // fixtures at sr 16000 (id % 3 == 2) resample to themselves: the
    // frame map is the identity and rfp equals the SAMPLE fingerprint
    // (same sampleMd5 definition, rate header excluded by design)
    val idAt16k = Seq(2L, 5L, 8L)
    val clips = (idAt16k ++ Seq(0L, 1L, 3L))
      .map(id => (id, Multimodal.syntheticWav(id))).toDF("id", "clip")
    val rs = Multimodal.audioResample(clips, "id", "clip")
      .collect().map(r => r.id -> r).toMap
    val sfps = Multimodal.audioSampleFingerprint(clips, "id", "clip")
      .collect().map(r => r.id -> r.fp).toMap
    for (id <- idAt16k) {
      assert(rs(id).nf1 == rs(id).nf0, s"identity resample moved frames: ${rs(id)}")
      assert(rs(id).rfp == sfps(id), s"identity resample fp != sample fp for $id")
    }
    // an 8 kHz fixture (id % 3 == 0) doubles its frames; recompute one
    // by hand through the closed form
    val r0 = rs(0L)
    assert(r0.sr0 == 8000L && r0.nf1 == 2 * r0.nf0, s"8k clip should double: $r0")
    val c0 = Wav.decode(Multimodal.syntheticWav(0L))
    val nf0 = c0.samples.length / c0.channels
    val expected = (0 until r0.nf1.toInt).flatMap { f =>
      val sf = (f.toLong * nf0 / r0.nf1).toInt
      (0 until c0.channels).map(c => c0.samples(sf * c0.channels + c).toLong)
    }
    assert(r0.sum_s == expected.sum, s"resampled sum mismatch: $r0")
    // ZOH-2× then resample ≡ resample of the original (the composition
    // identity in operator form): same target rate ⇒ same frame count
    // and the double-floor collapses ⇒ identical content md5
    val both = Multimodal.audioResample(
      Seq((1L, Multimodal.syntheticWav(7L)),
          (2L, Multimodal.zohUpsample2x(Multimodal.syntheticWav(7L))))
        .toDF("id", "clip"), "id", "clip").collect().map(r => r.id -> r).toMap
    assert(both(1L).rfp == both(2L).rfp && both(1L).nf1 == both(2L).nf1,
      s"resample does not collapse the ZOH copy: ${both.values.mkString(" | ")}")
  }

  test("image resample: identity when it fits, exact nearest-neighbor when it shrinks") {
    import spark.implicits._
    import graft.ops.Bmp
    val imgs = Seq(0L, 3L, 7L, 11L)
      .map(id => (id, Multimodal.syntheticBmp(id))).toDF("id", "img")
    // maxDim large enough: dims preserved, thumbnail fp == the full
    // pixel fingerprint (same pixelMd5 definition, identity index map)
    val full = Multimodal.imageResample(imgs, "id", "img", maxDim = 64)
      .collect().map(r => r.id -> r).toMap
    val fps = Multimodal.imagePixelFingerprint(imgs, "id", "img")
      .collect().map(r => r.id -> r.fp).toMap
    for ((id, r) <- full) {
      assert(r.w1 == r.w0 && r.h1 == r.h0, s"identity resample moved dims: $r")
      assert(r.rfp == fps(id), s"identity thumbnail fp != pixel fp for $id")
    }
    // maxDim 4: every fixture (min side 4, max 8) shrinks; recompute one
    // image locally from the decoded raster and pin sums + fp exactly
    val small = Multimodal.imageResample(imgs, "id", "img", maxDim = 4)
      .collect().map(r => r.id -> r).toMap
    val img7 = Bmp.decode(Multimodal.syntheticBmp(7L))
    val (w0, h0) = (img7.width, img7.height)
    val m = math.max(w0, h0)
    val w1 = math.max(1, w0 * 4 / m); val h1 = math.max(1, h0 * 4 / m)
    val out = (0 until h1).flatMap(y => (0 until w1).map { x =>
      img7.pixels((y * h0 / h1) * w0 + (x * w0 / w1))
    }).toArray
    val got = small(7L)
    assert((got.w1, got.h1) == ((w1.toLong, h1.toLong)), got.toString)
    assert(got.rsum == out.map(p => ((p >> 16) & 0xff).toLong).sum)
    assert(got.gsum == out.map(p => ((p >> 8) & 0xff).toLong).sum)
    assert(got.bsum == out.map(p => (p & 0xff).toLong).sum)
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(got.rfp == Multimodal.pixelMd5(md, w1, h1, out))
    // distinct contents stay distinct through the thumbnail fp at 4px
    assert(small.values.map(_.rfp).toSet.size == small.size)
  }

  test("exact media fingerprints: container-invariant, content-sensitive; admission is the conjunction") {
    import spark.implicits._
    import graft.ops.{Bmp, Png, Wav}
    // IMAGE: a BMP and a PNG of the SAME raster must fingerprint
    // identically (the image "re-mux"); one moved pixel must not
    def px(shift: Int)(x: Int, y: Int) = ((x * 7 + y * 13 + shift) % 256, (x * 3) % 256, (y * 5) % 256)
    val ifp = Multimodal.imagePixelFingerprint(
      Seq((0L, Bmp.encode(5, 4, px(0))), (1L, Png.encode(5, 4, px(0))),
        (2L, Bmp.encode(5, 4, px(1)))).toDF("id", "img"), "id", "img")
      .collect().map(r => r.id -> r.fp).toMap
    assert(ifp(0L) == ifp(1L), "BMP vs PNG of identical pixels must collide")
    assert(ifp(0L) != ifp(2L), "different pixels must not collide")
    // AUDIO: byte-identical clips collide (the exact stage FIRES — the
    // synthetic fixture space has no sub-65536 exact dups, this pins
    // the operator itself); a sample-rate-only retag is a re-mux and
    // collides; one changed sample does not
    def wav(sr: Int, bump: Int) = Wav.encode(2, sr, 16,
      (f, c) => ((f * 31 + c * 17 + (if (f == 3 && c == 1) bump else 0)) % 1200).toShort)
    val afp = Multimodal.audioSampleFingerprint(
      Seq((0L, wav(8000, 0)), (1L, wav(8000, 0)), (2L, wav(16000, 0)),
        (3L, wav(8000, 5))).toDF("id", "clip"), "id", "clip")
      .collect().map(r => r.id -> r.fp).toMap
    assert(afp(0L) == afp(1L), "byte-identical clips must collide")
    assert(afp(0L) == afp(2L), "sample-rate retag (re-mux) must collide")
    assert(afp(0L) != afp(3L), "a changed sample must not collide")
    // ADMISSION: min-id keeper per exact group ∧ perceptual keeper
    val exact = Seq((10L, "A"), (11L, "A"), (12L, "B")).toDF("id", "fp")
    val perc = Seq((10L, 10L), (11L, 11L), (12L, 11L))
      .toDF("id", "cluster").withColumn("keep", col("id") === col("cluster"))
    val v = Multimodal.mediaAdmissionVerdicts(exact, "fp", perc, "m")
      .collect().map(r => r.getLong(1) ->
        ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(v(10L) == ((true, true, true)))    // keeper of both
    assert(v(11L) == ((false, true, false)))  // exact-dup of 10, dropped
    assert(v(12L) == ((true, false, false)))  // perceptual dup, dropped
  }

  test("live streaming dedup (within-watermark) is bounded by the exact key sets") {
    import org.apache.spark.sql.functions._
    // the live variant's output is arrival-order dependent (re-occurrence
    // past the horizon re-emits), so no hash oracle — but it is bracketed:
    // every distinct key appears at least once, nothing outside the key
    // stream appears, and it never exceeds the raw event count
    val live = StreamingIngest.streamingDedupLive(spark, sf)
    val distinctKeys = events.select("user_id", "event_type").distinct()
    assert(live.count() >= distinctKeys.count())
    assert(live.count() <= events.count())
    assert(live.select("user_id", "event_type").distinct()
      .except(distinctKeys).isEmpty,
      "live dedup emitted a key absent from the source")
    assert(distinctKeys.except(live.select("user_id", "event_type")).isEmpty,
      "live dedup lost a distinct key entirely")
  }

  test("streaming session windows partition all events") {
    import org.apache.spark.sql.functions._
    val sess = StreamingIngest.sessionCounts(spark, sf)
    assert(sess.agg(sum("cnt")).head.getLong(0) == events.count())
    // session windows per user are disjoint (rename one side — a memory
    // table self-join otherwise has ambiguous attribute ids)
    val other = sess.select(col("user_id").as("u2"), col("s_start").as("t2"))
    val overlaps = sess.join(other,
      col("user_id") === col("u2") && col("s_start") < col("t2") &&
        col("t2") < col("s_end"))
    assert(overlaps.isEmpty)
  }
}
