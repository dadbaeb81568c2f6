package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, Similarity}

/** A seeded corpus with planted near-duplicate clusters, plus seeded
  * clustered embeddings. One pass: near-duplicate clusters, then
  * curation verdicts; traced runs add the ANN recall sweep. `Dedup`,
  * `Curation` and `Similarity` do all the work; no transfer runs.
  *
  * Planted structure (copies always get larger ids than their original;
  * checks: every exact copy, and all but at most 2% of near copies, share
  * their original's cluster):
  *  - pairs of exact duplicates;
  *  - stars: a root of at least 60 words and 2–8 copies, each the root
  *    with one word appended (every copy is also near its siblings);
  *  - chains: each element is the previous one with its first word
  *    dropped and one word appended, 5–30 steps, so the far ends of a
  *    chain are no longer near-duplicates of each other. */
object CurateText extends Workload {
  val name = "curate_text"

  private var docsPath: String = _
  private var embPath: String = _
  private var nDocs = 0
  private var nVecs = 0
  private var corpusBytes = 0L
  /** (copy, original, exact) for every planted copy. */
  private var planted: Seq[(Long, Long, Boolean)] = Nil
  /** Independent recount: docs outside the curation length window. */
  private var lengthOutliers = 0L

  private val minWords = 15
  private val maxWords = 90

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val vocab = Array.tabulate(400)(i => s"w${Integer.toString(i * 7919 % 4001, 36)}")
    def word() = vocab(rnd.nextInt(vocab.length))
    def doc(lo: Int, hi: Int) = Vector.fill(lo + rnd.nextInt(hi - lo + 1))(word())
    val target = ctx.n(700)
    val docs = mutable.ArrayBuffer.empty[Vector[String]]
    // (text, original): original >= 0 is a doc index, < 0 is copy -(original + 1)
    val copies = mutable.ArrayBuffer.empty[(Vector[String], Int)]
    // the cluster structure follows a fixed recipe, so every seed gets the
    // same shape of work; the seed picks the words and document lengths
    var i = 0
    while (docs.size + copies.size < target) {
      val round = i / 20
      i % 20 match {
        case 0 =>
          val root = doc(20, 100); docs += root
          copies += ((root, docs.size - 1))
        case 1 | 2 =>
          val root = doc(60, 110); docs += root
          val r = docs.size - 1
          (0 until 2 + (round + i) % 7).foreach(_ => copies += ((root :+ word(), r)))
        case 3 =>
          var prev = doc(80, 110); docs += prev
          var orig = docs.size - 1
          (0 until 5 + (round * 7) % 26).foreach { _ =>
            val next = prev.tail :+ word()
            copies += ((next, orig))
            orig = -copies.size
            prev = next
          }
        case _ => docs += doc(8, 120)
      }
      i += 1
    }
    // ids: originals first, copies after, so a copy's id exceeds its original's
    val base = docs.size
    val rows = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) } ++
      copies.zipWithIndex.map { case ((d, _), j) => ((base + j).toLong, d) }
    planted = copies.zipWithIndex.map { case ((text, orig), j) =>
      val origId = if (orig >= 0) orig else base - orig - 1
      ((base + j).toLong, origId.toLong, rows(origId)._2 == text)
    }.toSeq
    nDocs = rows.size
    lengthOutliers = rows.count { case (_, d) => d.size < minWords || d.size > maxWords }.toLong
    docsPath = ctx.path("in/docs.parquet")
    rows.map { case (id, d) => (id, d.mkString(" "), "en", s"src${id % 7}") }.toSeq
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4).write.mode("overwrite").parquet(docsPath)

    // embeddings: 12 seeded centres in 32 dimensions, gaussian spread
    nVecs = ctx.n(1000)
    val dim = 32
    val centres = Array.fill(12, dim)(rnd.nextDouble() * 2 - 1)
    val gauss = new java.util.Random(ctx.seed ^ 0x5eed)
    val vecs = (0 until nVecs).map { i =>
      val c = centres(rnd.nextInt(centres.length))
      (i.toLong, c.map(x => (x + gauss.nextGaussian() * 0.25).toFloat).toSeq, i % 12)
    }
    embPath = ctx.path("in/embeddings.parquet")
    vecs.toDF("vec_id", "embedding", "label").repartition(4)
      .write.mode("overwrite").parquet(embPath)
    corpusBytes = Files2.dataBytes(new java.io.File(docsPath)) +
      Files2.dataBytes(new java.io.File(embPath))
  }

  def inputCounts: Map[String, Double] = Map(
    "docs" -> nDocs.toDouble, "planted_copies" -> planted.size.toDouble,
    "vectors" -> nVecs.toDouble, "bytes" -> corpusBytes.toDouble)

  def open(ctx: Ctx): Unit = { docs(ctx).count(); emb(ctx).count() }

  private def docs(ctx: Ctx): DataFrame = ctx.spark.read.parquet(docsPath)
  private def emb(ctx: Ctx): DataFrame = ctx.spark.read.parquet(embPath)

  /** The ANN recall sweep costs about as much as the rest of the pass
    * together and its job count barely depends on input size, so it runs
    * as a layer probe: once per traced run, outside `pass_s`. */
  private var swept = false

  def pass(ctx: Ctx, traced: Boolean): PassResult = {
    val tr = ctx.tracer
    val lv = new LayerValues
    val d = docs(ctx)
    val (clusters, verdicts, passS) =
      if (!traced) {
        val (cl, s1) = tr.span("pass", "clusters")(Dedup.nearDupClusters(d).localCheckpoint(true))
        val (vd, s2) = tr.span("pass", "verdicts")(Curation.curationPipeline(d).localCheckpoint(true))
        (cl, vd, s1.seconds + s2.seconds)
      } else {
        // the same work split at layer boundaries: LSH pairs materialized,
        // then the closure over them, then the verdicts
        val (pairs, p) = tr.span("ops.Dedup", "pairs") {
          Dedup.minhashLsh(d).select("doc_a", "doc_b").localCheckpoint(true)
        }
        val (cl, c) = tr.span("ops.Dedup", "closure") {
          Dedup.propagateMinLabels(d.select("doc_id"), pairs, 15).localCheckpoint(true)
        }
        val (vd, v) = tr.span("ops.Curation", "verdicts") {
          Curation.curationPipeline(d).localCheckpoint(true)
        }
        tr.drain()
        Seq(p, c, v).foreach(lv.span(_))
        lv.set("ops.Dedup.pairs_s", p.seconds)
        lv.set("ops.Dedup.pairs", pairs.count().toDouble)
        lv.set("ops.Dedup.over_cap", p.observed.collect {
          case (k, n) if k.endsWith("ids_over_cap") => n }.sum)
        lv.set("ops.Dedup.closure_s", c.seconds)
        lv.set("ops.Dedup.closure_jobs", c.jobs.toDouble)
        lv.set("ops.Curation.verdicts_s", v.seconds)
        Dedup.releaseOwnCheckpoint(pairs)
        (cl, vd, p.seconds + c.seconds + v.seconds)
      }
    var failures = check(clusters, verdicts)
    ctx.heapProbe()
    Seq(clusters, verdicts).foreach(Dedup.releaseOwnCheckpoint)
    if (traced && !swept) {
      swept = true
      val (sw, s) = tr.span("ops.Similarity", "sweep") {
        Similarity.annRecall(emb(ctx)).collect().toSeq
      }
      tr.drain()
      lv.span(s, jobs = false)
      lv.set("ops.Similarity.sweep_s", s.seconds)
      lv.set("ops.Similarity.sweep_jobs", s.jobs.toDouble)
      lv.set("ops.Similarity.recall",
        sw.map(_.getAs[Long]("hits")).sum.toDouble / sw.map(_.getAs[Long]("k")).sum)
      failures ++= checkSweep(sw)
    }
    PassResult(nDocs, passS, passS, lv.toMap, failures)
  }

  private def check(clusters: DataFrame, verdicts: DataFrame): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cl = clusters.select("doc_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (cl.size != nDocs) out += s"clusters: ${cl.size} rows for $nDocs docs"
    // an exact copy always shares its original's cluster; the LSH screen
    // is probabilistic, so a near copy may be missed, but rarely (its
    // Jaccard similarity to its original is at least 0.97)
    val (exact, near) = planted.partition(_._3)
    def split(ps: Seq[(Long, Long, Boolean)]) =
      ps.filter { case (c, o, _) => cl.get(c).isEmpty || cl.get(c) != cl.get(o) }
    if (split(exact).nonEmpty) out += s"clusters: ${split(exact).size} exact copies not in " +
      s"their original's cluster, e.g. ${split(exact).take(3).map(p => (p._1, p._2)).mkString(", ")}"
    if (split(near).size > near.size / 50) out += s"clusters: ${split(near).size} of " +
      s"${near.size} near copies not in their original's cluster (more than 2%)"

    val vd = verdicts.select("doc_id", "keep", "reasons").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    if (vd.length != nDocs || vd.map(_._1).distinct.length != nDocs)
      out += s"verdicts: ${vd.length} rows for $nDocs docs"
    if (vd.exists { case (_, k, rs) => (k == 1) != rs.isEmpty })
      out += "verdicts: keep disagrees with the reasons list"
    val length = vd.count(_._3.split(",").contains("length")).toLong
    if (length != lengthOutliers)
      out += s"verdicts: $length length drops, recount says $lengthOutliers"
    val size = cl.values.groupBy(identity).view.mapValues(_.size).toMap
    val strayDup = vd.count { case (id, _, rs) =>
      rs.split(",").contains("near_dup") && size.getOrElse(cl.getOrElse(id, -1L), 0) < 2 }
    if (strayDup > 0) out += s"verdicts: $strayDup near_dup drops outside any cluster"
    out.toSeq
  }

  /** One row per (query, method); hits within [0, k]; IVF hits never
    * fall as nProbe grows. */
  private def checkSweep(sweep: Seq[org.apache.spark.sql.Row]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val queries = 10
    if (sweep.size != queries * 5) out += s"sweep: ${sweep.size} rows, expected ${queries * 5}"
    if (sweep.exists(r => r.getAs[Long]("hits") < 0 || r.getAs[Long]("hits") > r.getAs[Long]("k")))
      out += "sweep: hits outside [0, k]"
    val ivf = sweep.filter(_.getAs[String]("method") == "ivf")
      .groupBy(_.getAs[Long]("qid")).values
      .map(_.sortBy(_.getAs[Long]("n_probe")).map(_.getAs[Long]("hits")))
    if (ivf.exists(h => h.zip(h.drop(1)).exists { case (a, b) => b < a }))
      out += "sweep: ivf recall fell as nProbe grew"
    out.toSeq
  }
}
