package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal}

/** Seeded image, audio and video assets built with the program's
  * `Multimodal.synthetic*` generators, with planted copies. One pass is
  * the media admission book: decode → signatures → pair graphs → one
  * closure over all modalities (`mediaNearDupClustersMulti`) →
  * `mediaAdmissionVerdicts`. The only workload that runs `Multimodal`
  * decode; its pair graph is dense cliques, so the shared closure core
  * sees a different shape than on `curate_text`.
  *
  * Planted copies: byte-identical image and audio copies, and video
  * variants of one content (`syntheticVideoMp4` ids 4c..4c+3: re-encoded
  * and perturbed frames). Checks: every exact copy, and all but at most 2%
  * of perturbed ones, share their original's cluster. */
object DedupMedia extends Workload {
  val name = "dedup_media"

  private var paths: Map[String, String] = Map.empty
  private var counts: Map[String, Int] = Map.empty
  private var bytes = 0L
  /** (modality, copy id, original id, exact): an exact copy decodes to the
    * same pixels or samples as its original. */
  private var planted: Seq[(String, Long, Long, Boolean)] = Nil

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(ctx.seed)
    def distinct(n: Int, draw: () => Long): Seq[Long] = {
      val s = mutable.LinkedHashSet.empty[Long]
      while (s.size < n) s += draw()
      s.toSeq
    }
    val plant = mutable.ArrayBuffer.empty[(String, Long, Long, Boolean)]

    // images: byte-identical copies under ids above every original. Few
    // enough images that no (width, height) group outgrows the pair
    // screen's bucket cap, which would evict the copies by design.
    val imgIds = distinct(ctx.n(200), () => rnd.nextInt(1 << 30).toLong)
    val img = imgIds.zipWithIndex.flatMap { case (id, i) =>
      val b = Multimodal.syntheticBmp(id)
      val copy = id + (1L << 30)
      if (i % 5 == 0) { plant += (("image", copy, id, true)); Seq(id -> b, copy -> b) }
      else Seq(id -> b)
    }
    // audio: the high-entropy generator (the plain one's fingerprints
    // collapse onto few band keys, whose capped buckets would evict the
    // copies); originals at even ids, byte-identical copies at +1
    val audIds = distinct(ctx.n(400), () => 2L * rnd.nextInt(1 << 29))
    val aud = audIds.zipWithIndex.flatMap { case (id, i) =>
      val b = Multimodal.syntheticWavMixed(id)
      if (i % 5 == 0) { plant += (("audio", id + 1, id, true)); Seq(id -> b, (id + 1) -> b) }
      else Seq(id -> b)
    }
    // video: contents c; variant 0 always, variants 1–3 planted for every
    // third content. Which assets get copies is fixed, so every seed gets
    // the same shape of work; the seed picks the ids and so the content.
    val contents = distinct(ctx.n(160), () => rnd.nextInt(1 << 28).toLong)
    val vid = contents.zipWithIndex.flatMap { case (c, i) =>
      val vs = if (i % 3 == 0) 0 to 1 + (i / 3) % 3 else 0 to 0
      vs.map { v =>
        // variant 1 re-encodes the same frames; 2 and 3 also perturb them
        if (v > 0) plant += (("video", 4 * c + v, 4 * c, v == 1))
        (4 * c + v) -> Multimodal.syntheticVideoMp4(4 * c + v)
      }
    }
    planted = plant.toSeq
    paths = Map("image" -> ctx.path("in/images.parquet"),
      "audio" -> ctx.path("in/audio.parquet"), "video" -> ctx.path("in/video.parquet"))
    Seq("image" -> img, "audio" -> aud, "video" -> vid).foreach { case (m, rows) =>
      rows.toDF("id", "payload").repartition(4).write.mode("overwrite").parquet(paths(m))
    }
    counts = Map("image" -> img.size, "audio" -> aud.size, "video" -> vid.size)
    bytes = (img ++ aud ++ vid).map(_._2.length.toLong).sum
  }

  def assets: Int = counts.values.sum

  def open(ctx: Ctx): Unit = paths.values.foreach(p => ctx.spark.read.parquet(p).count())

  def inputCounts: Map[String, Double] = Map(
    "assets" -> assets.toDouble, "images" -> counts("image").toDouble,
    "audio" -> counts("audio").toDouble, "videos" -> counts("video").toDouble,
    "planted_copies" -> planted.size.toDouble, "bytes" -> bytes.toDouble)

  private final case class Sigs(img: DataFrame, aud: DataFrame, vid: DataFrame,
                                vidFp: DataFrame) {
    def all: Seq[DataFrame] = Seq(img, aud, vid, vidFp)
  }

  /** Decode every corpus once: four concurrent signature passes, pinned. */
  private def decode(ctx: Ctx): Sigs = {
    def in(m: String) = ctx.spark.read.parquet(paths(m))
    val Seq(i, a, v, f) = graft.util.Par.map(Seq(
      () => Multimodal.imageSignatures(in("image"), "id", "payload").toDF().localCheckpoint(true),
      () => Multimodal.audioSignatures(in("audio"), "id", "payload").toDF().localCheckpoint(true),
      () => Multimodal.videoPerceptualHash(in("video"), "id", "payload").toDF().localCheckpoint(true),
      () => Multimodal.videoFingerprint(in("video"), "id", "payload").toDF().localCheckpoint(true)))
    Sigs(i, a, v, f)
  }

  private def pairGraphs(s: Sigs): Seq[(String, DataFrame, DataFrame)] = Seq(
    ("image", s.img.select("id"),
      Multimodal.imageAHashPairs(s.img.select("id", "width", "height", "ahash"))),
    ("audio", s.aud.select("id"), Multimodal.audioFingerprintPairs(
      s.aud.select(col("id"), col("channels"), col("n_windows"), col("wfp").as("fp")))),
    ("video", s.vid.select("id"), Multimodal.videoPerceptualPairs(s.vid)))

  private def exactFps(s: Sigs): Seq[(String, DataFrame)] = Seq(
    "image" -> s.img.select("id", "width", "height", "fp"),
    "audio" -> s.aud.select(col("id"), col("channels"), col("n_samples"), col("sfp").as("fp")),
    "video" -> s.vidFp.select("id", "n_samples", "fp"))

  private def verdicts(s: Sigs, perceptual: DataFrame): DataFrame =
    exactFps(s).map { case (m, fps) =>
      Multimodal.mediaAdmissionVerdicts(fps, "fp", perceptual.where(col("modality") === m), m)
    }.reduce(_ unionByName _).localCheckpoint(true)

  def pass(ctx: Ctx, traced: Boolean): PassResult = {
    val tr = ctx.tracer
    val lv = new LayerValues
    val (sigs, clusters, verdictRows, passS) =
      if (!traced) {
        val (s, d) = tr.span("pass", "decode")(decode(ctx))
        val (cl, c) = tr.span("pass", "clusters") {
          Multimodal.mediaNearDupClustersMulti(pairGraphs(s)).localCheckpoint(true)
        }
        val (vd, v) = tr.span("pass", "verdicts")(verdicts(s, cl))
        (s, cl, vd, d.seconds + c.seconds + v.seconds)
      } else {
        val (s, d) = tr.span("ops.Multimodal", "decode")(decode(ctx))
        val (pg, p) = tr.span("ops.Multimodal", "pairs") {
          pairGraphs(s).map { case (m, ids, pairs) =>
            (m, ids, pairs.select("id_a", "id_b").localCheckpoint(true)) }
        }
        val (cl, c) = tr.span("ops.Dedup", "closure") {
          Multimodal.mediaNearDupClustersMulti(pg).localCheckpoint(true)
        }
        val (vd, v) = tr.span("ops.Multimodal", "verdicts")(verdicts(s, cl))
        tr.drain()
        Seq(d, p, c, v).foreach(lv.span(_))
        lv.set("ops.Multimodal.decode_s", d.seconds)
        lv.set("ops.Multimodal.decode_cpu_s", d.cpuNs / 1e9)
        lv.set("ops.Multimodal.pairs_s", p.seconds)
        lv.set("ops.Multimodal.pairs_over_cap", p.observed.collect {
          case (k, n) if k.endsWith("pairs_over_cap") => n }.sum)
        lv.set("ops.Multimodal.verdicts_s", v.seconds)
        lv.set("ops.Dedup.star_closure_s", c.seconds)
        lv.set("ops.Dedup.star_closure_jobs", c.jobs.toDouble)
        lv.set("ops.Dedup.task_skew", c.taskSkew)
        lv.set("ops.Multimodal.pairs", pg.map(_._3.count()).sum.toDouble)
        pg.foreach(g => Dedup.releaseOwnCheckpoint(g._3))
        (s, cl, vd, d.seconds + p.seconds + c.seconds + v.seconds)
      }
    val failures = check(sigs, clusters, verdictRows)
    ctx.heapProbe()
    (sigs.all ++ Seq(clusters, verdictRows)).foreach(Dedup.releaseOwnCheckpoint)
    PassResult(assets, passS, passS, lv.toMap, failures)
  }

  /** Planted copies share their original's cluster, and the verdicts
    * match a recount from the clusters and exact fingerprints. */
  private def check(s: Sigs, clusters: DataFrame, verdicts: DataFrame): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cl = clusters.select("modality", "id", "cluster").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    if (cl.size != assets) out += s"clusters: ${cl.size} rows for $assets assets"
    // the perceptual screens are banded, so a perturbed copy within the
    // Hamming threshold but differing in every band may be missed
    val (exact, near) = planted.partition(_._4)
    def split(ps: Seq[(String, Long, Long, Boolean)]) = ps.filter { case (m, c, o, _) =>
      cl.get((m, c)).isEmpty || cl.get((m, c)) != cl.get((m, o)) }
    if (split(exact).nonEmpty)
      out += s"clusters: ${split(exact).size} exact copies not in their original's cluster " +
        split(exact).take(3).map(p => (p._1, p._2, p._3)).mkString(", ")
    if (split(near).size > near.size / 50)
      out += s"clusters: ${split(near).size} of ${near.size} perturbed copies not in " +
        "their original's cluster (more than 2%)"
    val fps = exactFps(s).flatMap { case (m, df) =>
      df.select("id", "fp").collect().map(r => (m, r.getLong(0)) -> r.getString(1)) }.toMap
    val minOfFp = fps.groupBy { case ((m, _), fp) => (m, fp) }
      .view.mapValues(_.keys.map(_._2).min).toMap
    val vd = verdicts.select("modality", "id", "keep_exact", "keep_perceptual", "admit")
      .collect().map(r => ((r.getString(0), r.getLong(1)), (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))))
    if (vd.length != assets || vd.map(_._1).distinct.length != assets)
      out += s"verdicts: ${vd.length} rows for $assets assets"
    val wrong = vd.count { case (k @ (m, id), (ke, kp, ad)) =>
      val wantKp = cl.get(k).contains(id)
      val wantKe = fps.get(k).flatMap(fp => minOfFp.get((m, fp))).contains(id)
      ke != wantKe || kp != wantKp || ad != (wantKe && wantKp)
    }
    if (wrong > 0) out += s"verdicts: $wrong rows disagree with the recount"
    out.toSeq
  }
}
