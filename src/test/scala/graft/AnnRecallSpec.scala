package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** `annRecall` derives its IVF rows from one probe ranking instead of
  * probing once per nProbe. The derivation must agree with the probe
  * itself, `ivfProbe(multiAssigned = true)` over the same dup-2 index,
  * at every nProbe from 1 to the cell count. */
class AnnRecallSpec extends SparkTestBase {
  import spark.implicits._

  private type Hits = Map[(Long, Long), Long] // (qid, nProbe) -> hits

  /** The `ivf` hits `annRecall` derives, and the same hits recounted from
    * one reference probe per nProbe against the brute-force top-k. Also
    * returns each (qid, nProbe)'s reference answer size. */
  private def derivedAndProbed(emb: DataFrame, minQ: Long, maxQ: Long, k: Int,
                               nCells: Int, iters: Int): (Hits, Hits, Map[(Long, Long), Int]) = {
    val probes = 1 to nCells
    val derived = Similarity.annRecall(emb, minQ, maxQ, k, nCells, probes, trainIters = iters)
      .where(col("method") === "ivf")
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("n_probe")) -> r.getAs[Long]("hits"))
    assert(derived.length == derived.toMap.size, "one ivf row per (qid, nProbe)")
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cents = Similarity.trainCentroids(emb, nCells, iters, scale = Some(6))
    val index = Similarity.ivfAssignMulti(e, cents, dup = 2).cache()
    val queries = e.where(col("vec_id") >= minQ && col("vec_id") < maxQ)
    val qids = queries.select("vec_id").as[Long].collect()
    val exact = Similarity.bruteForceTopK(emb, maxQ, k).where(col("qid") >= minQ)
      .select("qid", "nn_id").as[(Long, Long)].collect().toSet
    val answers = probes.map { p =>
      p.toLong -> Similarity.ivfProbe(index, queries, cents, maxQ, k, p, multiAssigned = true)
        .select("qid", "nn_id").as[(Long, Long)].collect().toSet
    }.toMap
    index.unpersist()
    val keys = for (q <- qids.toSeq; p <- probes) yield (q, p.toLong)
    val probed = keys.map { case (q, p) =>
      (q, p) -> exact.count { case (eq, nn) => eq == q && answers(p)((eq, nn)) }.toLong }.toMap
    val sizes = keys.map { case (q, p) => (q, p) -> answers(p).count(_._1 == q) }.toMap
    (derived.toMap, probed, sizes)
  }

  for (scale <- Seq("sf0.001", "sf0.01"))
    test(s"derived ivf hits equal the probed hits at every nProbe ($scale embeddings)") {
      val dir = new java.io.File(sf).getParentFile.toString + "/" + scale
      val emb = graft.sources.Tables(spark, dir, "embeddings")
      val (derived, probed, _) = derivedAndProbed(emb, 100, 110, k = 3, nCells = 8, iters = 4)
      assert(probed.size == 10 * 8)
      assert(derived == probed)
    }

  test("derived ivf hits equal the probed hits on cosine ties and under-filled cells") {
    // 2-D vectors, untrained: the four seeds 0..3 are the cells. Query
    // 100 lies on the x axis, so the mirror images 10 = (0, -1) and
    // 11 = 12 = (0, 1) (a duplicate) tie at cosine 0 for its third
    // slot. The tie-break keeps 10, whose cells {3, 2} are probed later
    // than 11's {1, 0}: ranking the tie any other way moves the hits.
    // Query 101's nearest cell (2) holds two other vectors, fewer than k.
    val vecs = Seq(
      0L -> Seq(1.0, 1.0), 1L -> Seq(-1.0, 2.0), 2L -> Seq(-1.0, -0.2), 3L -> Seq(0.6, -1.0),
      10L -> Seq(0.0, -1.0), 11L -> Seq(0.0, 1.0), 12L -> Seq(0.0, 1.0),
      100L -> Seq(1.0, 0.0), 101L -> Seq(-1.0, -0.3))
    // rows in descending id order, so no ranking can rely on scan order
    val emb = vecs.reverse.toDF("vec_id", "embedding").coalesce(1)
    val k = 3
    val (derived, probed, sizes) = derivedAndProbed(emb, 100, 110, k, nCells = 4, iters = 0)
    val exact = Similarity.bruteForceTopK(emb, 110, k).where(col("qid") === 100)
      .select("nn_id").as[Long].collect().toSet
    assert(exact == Set(0L, 3L, 10L), s"fixture lost its cosine tie: $exact")
    assert(sizes((101L, 1L)) < k, s"fixture lost its under-filled cell: $sizes")
    assert(probed((100L, 1L)) == 2L && probed((100L, 2L)) == 3L, probed)
    assert(derived == probed)
  }
}
