package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Bmp, Mp4, Multimodal, Png, Wav}

/** The decode QUARANTINE tier (VERDICT r11 #1): corrupt assets become
  * per-asset quarantine verdicts with classified reasons instead of
  * task-killing failures; good assets' signatures and book verdicts are
  * byte-identical to the strict paths'. */
class QuarantineSpec extends SparkTestBase {
  import spark.implicits._
  import Multimodal.QBase

  private val cleanIds = (0L until 24L).toSeq

  // ---- poison fixtures fail decode with the PINNED reason kind --------

  private def kindOf(f: => Any): String =
    try { f; "OK" }
    catch { case scala.util.control.NonFatal(e) =>
      // VERDICT r13 #3: the codecs' decode guards throw TYPED
      // DecodeExceptions — every fixture-kind pin below is therefore a
      // type-dispatch pin, not a message-substring pin
      assert(e.isInstanceOf[graft.ops.DecodeException],
        s"codec guard must throw a typed DecodeException, " +
          s"got ${e.getClass.getName}: ${e.getMessage}")
      Multimodal.classifyDecodeError(e) }

  test("classification dispatches on the exception TYPE; rewording a guard message cannot reclassify") {
    import graft.ops.{Decode, DecodeException}
    // the negative test (VERDICT r13 #3): a message whose wording would
    // keyword-classify DIFFERENTLY must still classify by its kind
    val reworded = intercept[DecodeException] {
      Decode.fail("truncated", "payload size exceeds what actually arrived")
    } // keyword table would say "bomb" ("exceeds"); the kind says truncated
    assert(Multimodal.classifyDecodeError(reworded) == "truncated",
      "a reworded guard message must not reclassify a typed kind")
    assert(Multimodal.classifyDecodeError(
      new DecodeException("bad_crc", "short read near the end")) == "bad_crc")
    // foreign exceptions (codecs this repo does not own) still fall back
    // to the substring table
    assert(Multimodal.classifyDecodeError(
      new RuntimeException("stream truncated mid-read")) == "truncated")
    assert(Multimodal.classifyDecodeError(
      new RuntimeException("something odd happened")) == "malformed")
    // unknown kinds are refused at the throw site, not misfiled later
    intercept[AssertionError] { Decode.fail("banana", "nope") }
  }

  test("each poison fixture fails its decoder with the pinned kind") {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (id <- cleanIds) {
      assert(kindOf(Bmp.decode(
        Multimodal.poisonTruncated(Multimodal.syntheticBmp(id)))) == "truncated")
      assert(kindOf(Png.decode(Multimodal.poisonPngBomb())) == "bomb")
      assert(kindOf(Png.decode(Multimodal.poisonPngBadCrc(id))) == "bad_crc")
      assert(kindOf(Wav.decode(
        Multimodal.poisonTruncated(Multimodal.syntheticWav(id)))) == "truncated")
      assert(kindOf(Wav.decode(Multimodal.poisonWavBadMagic(id))) == "bad_magic")
      assert(kindOf(Mp4.parse(
        Multimodal.poisonTruncated(Multimodal.syntheticMp4(id), 16))) == "truncated")
      assert(kindOf(Mp4.parse(
        Multimodal.poisonMp4Bomb(Multimodal.syntheticMp4(id)))) == "bomb")
      // keyframe poison: container PARSES and the exact fingerprint
      // computes (either-tier rule), only the perceptual decode dies
      val kf = Multimodal.poisonMp4Keyframe(Multimodal.syntheticVideoMp4(id))
      assert(kindOf(Multimodal.videoFpOne(md, id, kf)) == "OK")
      assert(kindOf(Multimodal.videoPHashOne(id, kf, 4)) == "bad_magic")
    }
  }

  test("jpeg/gif poison fixtures fail with pinned kinds; safe stats match strict on clean input") {
    import graft.ops.{Gif, Jpeg}
    for (id <- cleanIds) {
      assert(kindOf(Jpeg.decode(Multimodal.poisonJpegTruncatedEntropy(
        Multimodal.syntheticJpeg(id)))) == "truncated")
      assert(kindOf(Jpeg.decode(Multimodal.poisonJpegBomb(
        Multimodal.syntheticJpeg(id)))) == "bomb")
      assert(kindOf(Gif.decode(Multimodal.poisonTruncated(
        Multimodal.syntheticGif(id)))) == "truncated")
      assert(kindOf(Gif.decode(Multimodal.poisonGifBadMagic(id))) == "bad_magic")
    }
    assert(kindOf(Gif.decode(Multimodal.poisonGifBomb())) == "bomb")
    val jbin = cleanIds.map(id => (id, Multimodal.syntheticJpeg(id))).toDF("id", "img")
    val gbin = cleanIds.map(id => (id, Multimodal.syntheticGif(id))).toDF("id", "img")
    def strip(df: DataFrame) = df.where(col("ok")).drop("ok", "reason")
    assert(strip(Multimodal.jpegStatsSafe(jbin, "id", "img").toDF())
      .exceptAll(Multimodal.jpegStats(jbin, "id", "img").toDF()).count() == 0)
    assert(strip(Multimodal.gifStatsSafe(gbin, "id", "img").toDF())
      .exceptAll(Multimodal.gifStats(gbin, "id", "img").toDF()).count() == 0)
  }

  test("aHash refuses a raster over 64 pixels: strict throws malformed, safe quarantines") {
    // 9×8 = 72 pixels: bit 64 would fold onto bit 0 of the one-word hash
    val big = Bmp.encode(9, 8, (x, y) => ((x * 29) % 256, (y * 31) % 256, (x * y) % 256))
    val df = Seq((7L, big)).toDF("id", "img")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.imageAHash(df, "id", "img").collect()
    }
    val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case d: graft.ops.DecodeException => d }
    assert(cause.map(_.kind).contains("malformed"),
      s"expected a malformed DecodeException, got $e")
    val safe = Multimodal.imageAHashSafe(df, "id", "img")
      .select("id", "ok", "reason").as[(Long, Boolean, String)].collect().toSeq
    assert(safe == Seq((7L, false, "decode:malformed")))
  }

  test("safe passes keep the quarantine row schema: names, types, nullability") {
    import org.apache.spark.sql.types.StructType
    val img = bin(Multimodal.syntheticBmp, "img")
    val aud = bin(Multimodal.syntheticWav, "clip")
    val vid = bin(Multimodal.syntheticVideoMp4, "vid")
    def schema(sig: String) = StructType.fromDDL(
      s"id BIGINT NOT NULL, ok BOOLEAN NOT NULL, reason STRING, $sig")
    val stats = "width BIGINT NOT NULL, height BIGINT NOT NULL, sum_r BIGINT NOT NULL, " +
      "sum_g BIGINT NOT NULL, sum_b BIGINT NOT NULL, px_min BIGINT NOT NULL, " +
      "px_max BIGINT NOT NULL"
    val expected = Seq(
      Multimodal.imageAHashSafe(img, "id", "img") ->
        "width BIGINT NOT NULL, height BIGINT NOT NULL, ahash BIGINT NOT NULL",
      Multimodal.imagePixelFingerprintSafe(img, "id", "img") ->
        "width BIGINT NOT NULL, height BIGINT NOT NULL, fp STRING",
      Multimodal.imageSignaturesSafe(img, "id", "img") ->
        "width BIGINT NOT NULL, height BIGINT NOT NULL, ahash BIGINT NOT NULL, fp STRING",
      Multimodal.audioFingerprintSafe(aud, "id", "clip") ->
        "channels BIGINT NOT NULL, n_windows BIGINT NOT NULL, fp BIGINT NOT NULL",
      Multimodal.audioSampleFingerprintSafe(aud, "id", "clip") ->
        "channels BIGINT NOT NULL, n_samples BIGINT NOT NULL, fp STRING",
      Multimodal.audioSignaturesSafe(aud, "id", "clip") ->
        ("channels BIGINT NOT NULL, n_windows BIGINT NOT NULL, wfp BIGINT NOT NULL, " +
          "n_samples BIGINT NOT NULL, sfp STRING"),
      Multimodal.videoFingerprintSafe(vid, "id", "vid") ->
        "n_samples BIGINT NOT NULL, fp STRING",
      Multimodal.videoPerceptualHashSafe(vid, "id", "vid") ->
        ("width BIGINT NOT NULL, height BIGINT NOT NULL, n_key BIGINT NOT NULL, " +
          "sig BIGINT NOT NULL"),
      Multimodal.jpegStatsSafe(img, "id", "img") -> stats,
      Multimodal.gifStatsSafe(img, "id", "img") -> stats)
    for ((df, sig) <- expected) assert(df.schema == schema(sig), df.schema.treeString)
  }

  // ---- safe variants == strict variants on clean fixtures -------------

  private def bin(gen: Long => Array[Byte], c: String): DataFrame =
    cleanIds.map(id => (id, gen(id))).toDF("id", c)

  test("safe signature variants match strict ones on a clean corpus") {
    val img = bin(Multimodal.syntheticBmp, "img")
    val aud = bin(Multimodal.syntheticWav, "clip")
    val vidP = bin(Multimodal.syntheticVideoMp4, "vid")
    val vidE = bin(Multimodal.syntheticMp4, "vid")
    def diff(safe: DataFrame, strict: DataFrame): Long = {
      val s = safe.where(col("ok")).drop("ok", "reason")
      s.exceptAll(strict).count() + strict.exceptAll(s).count()
    }
    assert(diff(Multimodal.imageAHashSafe(img, "id", "img").toDF(),
      Multimodal.imageAHash(img, "id", "img").toDF()) == 0)
    assert(diff(Multimodal.imagePixelFingerprintSafe(img, "id", "img").toDF(),
      Multimodal.imagePixelFingerprint(img, "id", "img").toDF()) == 0)
    assert(diff(Multimodal.audioFingerprintSafe(aud, "id", "clip").toDF(),
      Multimodal.audioFingerprint(aud, "id", "clip").toDF()) == 0)
    assert(diff(Multimodal.audioSampleFingerprintSafe(aud, "id", "clip").toDF(),
      Multimodal.audioSampleFingerprint(aud, "id", "clip").toDF()) == 0)
    assert(diff(Multimodal.videoFingerprintSafe(vidE, "id", "vid").toDF(),
      Multimodal.videoFingerprint(vidE, "id", "vid").toDF()) == 0)
    assert(diff(Multimodal.videoPerceptualHashSafe(vidP, "id", "vid").toDF(),
      Multimodal.videoPerceptualHash(vidP, "id", "vid").toDF()) == 0)
  }

  test("fused signature passes ≡ the separate ones — strict on clean, safe on poisoned corpora") {
    // the r14 decode-once fusion: one parse of the corpus emits BOTH
    // tiers' signatures; each projection must be row-identical to the
    // separate pass it replaces (the books and the index builders now
    // compose exclusively from the fused frames)
    def same(a: DataFrame, b: DataFrame): Unit =
      assert(a.exceptAll(b).count() + b.exceptAll(a).count() == 0,
        s"fused projection diverged from the separate pass")
    val img = bin(Multimodal.syntheticBmp, "img")
    val aud = bin(Multimodal.syntheticWav, "clip")
    val iSig = Multimodal.imageSignatures(img, "id", "img").toDF()
    same(iSig.select("id", "width", "height", "ahash"),
      Multimodal.imageAHash(img, "id", "img").toDF())
    same(iSig.select("id", "width", "height", "fp"),
      Multimodal.imagePixelFingerprint(img, "id", "img").toDF())
    val aSig = Multimodal.audioSignatures(aud, "id", "clip").toDF()
    same(aSig.select(col("id"), col("channels"), col("n_windows"),
        col("wfp").as("fp")),
      Multimodal.audioFingerprint(aud, "id", "clip").toDF())
    same(aSig.select(col("id"), col("channels"), col("n_samples"),
        col("sfp").as("fp")),
      Multimodal.audioSampleFingerprint(aud, "id", "clip").toDF())
    // SAFE tier over a poisoned corpus: the one fused reason must equal
    // EACH tier's separate reason (same bytes, same sniffed decode,
    // same first guard) — including the quarantine rows
    val pImg = img.unionByName(Seq(
      (QBase + 0L, Multimodal.poisonTruncated(Multimodal.syntheticBmp(QBase))),
      (QBase + 5L, Multimodal.poisonPngBomb()),
      (QBase + 10L, Multimodal.poisonPngBadCrc(QBase + 10L))).toDF("id", "img"))
    val pAud = aud.unionByName(Seq(
      (QBase + 0L, Multimodal.poisonTruncated(Multimodal.syntheticWav(QBase))),
      (QBase + 5L, Multimodal.poisonWavBadMagic(QBase + 5L))).toDF("id", "clip"))
    val iSafe = Multimodal.imageSignaturesSafe(pImg, "id", "img").toDF()
    same(iSafe.select("id", "ok", "reason", "width", "height", "ahash"),
      Multimodal.imageAHashSafe(pImg, "id", "img").toDF())
    same(iSafe.select("id", "ok", "reason", "width", "height", "fp"),
      Multimodal.imagePixelFingerprintSafe(pImg, "id", "img").toDF())
    val aSafe = Multimodal.audioSignaturesSafe(pAud, "id", "clip").toDF()
    same(aSafe.select(col("id"), col("ok"), col("reason"), col("channels"),
        col("n_windows"), col("wfp").as("fp")),
      Multimodal.audioFingerprintSafe(pAud, "id", "clip").toDF())
    same(aSafe.select(col("id"), col("ok"), col("reason"), col("channels"),
        col("n_samples"), col("sfp").as("fp")),
      Multimodal.audioSampleFingerprintSafe(pAud, "id", "clip").toDF())
  }

  // ---- keyframe-less batch posture: counted drop, not a task kill -----

  private def dropStss(bytes: Array[Byte]): Array[Byte] = {
    val b = bytes.clone()
    val pat = "stss".getBytes("US-ASCII")
    var at = -1
    var i = b.length - 4
    while (at < 0 && i >= 0) {
      if (b(i) == pat(0) && b(i + 1) == pat(1) && b(i + 2) == pat(2) &&
        b(i + 3) == pat(3)) at = i
      i -= 1
    }
    require(at >= 0, "no stss fourcc in fixture")
    // zero the entry count: the box keeps its length, the parser reads
    // an empty sync-sample set
    b(at + 8) = 0; b(at + 9) = 0; b(at + 10) = 0; b(at + 11) = 0
    b
  }

  test("keyframe-less clips: batch path drops with a counter, strict throws, safe quarantines") {
    val mixed = Seq(
      (0L, Multimodal.syntheticVideoMp4(0L)),
      (1L, dropStss(Multimodal.syntheticVideoMp4(1L))),
      (2L, Multimodal.syntheticVideoMp4(2L))).toDF("id", "vid")
    val batch = Multimodal.videoPerceptualHash(mixed, "id", "vid").toDF()
    assert(batch.select("id").as[Long].collect().sorted.toSeq == Seq(0L, 2L))
    intercept[org.apache.spark.SparkException] {
      Multimodal.videoPerceptualHashStrict(mixed, "id", "vid").toDF().count()
    }
    val safe = Multimodal.videoPerceptualHashSafe(mixed, "id", "vid").toDF()
    val q = safe.where(!col("ok")).select("id", "reason").as[(Long, String)]
      .collect().toMap
    assert(q == Map(1L -> "decode:no_keyframes"))
  }

  test("the video re-encoders refuse a keyframe-less clip, naming the generator") {
    val clip = dropStss(Multimodal.syntheticVideoMp4(1L))
    val generators = Seq[(String, Array[Byte] => Array[Byte])](
      "nnUpscaleVideo2x" -> (Multimodal.nnUpscaleVideo2x(_)),
      "letterboxVideo" -> (Multimodal.letterboxVideo(_, 1, 1, 2, 1)),
      "rotateVideoMp4" -> (Multimodal.rotateVideoMp4(_, 1)),
      "mirrorVideoMp4" -> (Multimodal.mirrorVideoMp4(_)))
    for ((name, generate) <- generators) {
      val e = intercept[graft.ops.DecodeException](generate(clip))
      assert(e.kind == "malformed" && e.getMessage.contains(s"$name:"),
        s"$name refused with ${e.kind}: ${e.getMessage}")
    }
  }

  // ---- the poisoned book: good verdicts byte-identical, corrupt rows
  //      quarantined with the fixture-pinned reasons --------------------

  private def cleanBook(): DataFrame =
    Multimodal.mediaAdmissionBookSafe(
      bin(Multimodal.syntheticBmp, "img"), bin(Multimodal.syntheticWav, "clip"),
      bin(Multimodal.syntheticVideoMp4, "vid"), bin(Multimodal.syntheticMp4, "vid"))

  /** The clean corpora plus the poisoned-ingest fixtures' corrupt assets:
    * the image and perceptual video kinds are the gates' own; the audio
    * and exact-MP4 kinds exist only here. */
  private def poisonedBook(): DataFrame = {
    def withPoison(good: DataFrame, c: String, kinds: Seq[Long => Array[Byte]]): DataFrame =
      good.unionByName(cleanIds.flatMap(Multimodal.poisoned(_, kinds)).toDF("id", c))
    Multimodal.mediaAdmissionBookSafe(
      withPoison(bin(Multimodal.syntheticBmp, "img"), "img", Multimodal.ImagePoisons),
      withPoison(bin(Multimodal.syntheticWav, "clip"), "clip", Seq(
        e => Multimodal.poisonTruncated(Multimodal.syntheticWav(QBase + e)),
        e => Multimodal.poisonWavBadMagic(QBase + e))),
      withPoison(bin(Multimodal.syntheticVideoMp4, "vid"), "vid", Multimodal.VideoPoisons),
      withPoison(bin(Multimodal.syntheticMp4, "vid"), "vid", Seq(
        e => Multimodal.poisonTruncated(Multimodal.syntheticMp4(QBase + e), 16),
        e => Multimodal.poisonMp4Bomb(Multimodal.syntheticMp4(QBase + e)),
        e => Multimodal.syntheticMp4(QBase + e)))) // exact tier stays good
  }

  // ---- mismatched tier id sets: full-outer join, never a silent drop --

  test("asset seen by only one video tier is quarantined as missing:<tier>, not dropped") {
    // the two video tiers read DIFFERENT corpora; an ingest wiring bug
    // (or a tier-specific upstream filter) can hand them mismatched id
    // sets. With an inner join such an asset would vanish from the book
    // entirely — neither admitted nor quarantined (ADVICE r12).
    val onlyExact = 777L      // present in the exact corpus only
    val onlyPercept = 888L    // present in the perceptual corpus only
    val book = Multimodal.mediaAdmissionBookSafe(
      bin(Multimodal.syntheticBmp, "img"), bin(Multimodal.syntheticWav, "clip"),
      bin(Multimodal.syntheticVideoMp4, "vid")
        .unionByName(Seq((onlyPercept, Multimodal.syntheticVideoMp4(onlyPercept)))
          .toDF("id", "vid")),
      bin(Multimodal.syntheticMp4, "vid")
        .unionByName(Seq((onlyExact, Multimodal.syntheticMp4(onlyExact)))
          .toDF("id", "vid")))
    val odd = book.where(col("id").isin(onlyExact, onlyPercept))
      .select(col("id"), col("admit"), col("reason"))
      .as[(Long, Boolean, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(odd.keySet == Set(onlyExact, onlyPercept),
      "one-tier assets must surface in the book, not silently vanish")
    assert(odd(onlyExact) == ((false, "missing:perceptual")))
    assert(odd(onlyPercept) == ((false, "missing:exact")))
    // the clean both-tier ids are untouched by the outer join
    assert(book.where(col("id") < 100L && col("reason") =!= "").count() == 0)
  }

  // ---- content-keyed artifact caches: in-JVM regeneration rebuilds ----

  test("mediaSignatureIndex rebuilds when the fixture regenerates in place") {
    val dir = new java.io.File(tempDir("graft-ixkey"))
    try {
      def writeEvents(n: Int): Unit =
        spark.range(n).select(col("id").as("event_id"),
            timestamp_micros(col("id") * 1000000L).as("ts"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${dir.getAbsolutePath}/events.parquet")
      writeEvents(4)
      val p1 = SparkEntry.mediaSignatureIndex(spark, dir.getAbsolutePath)
      val p1again = SparkEntry.mediaSignatureIndex(spark, dir.getAbsolutePath)
      assert(p1 == p1again, "unchanged fixture must hit the cache")
      Thread.sleep(20) // ensure a distinct mtime even on coarse clocks
      writeEvents(6)
      val p2 = SparkEntry.mediaSignatureIndex(spark, dir.getAbsolutePath)
      assert(spark.read.parquet(s"$p2/img_ahash").count() == 6,
        "an in-place fixture regeneration must rebuild the artifact, " +
          "not serve the stale first build")
      graft.util.Fs.deleteRecursive(new java.io.File(p2))
    } finally graft.util.Fs.deleteRecursive(dir)
  }

  test("artifact work dirs are keyed on the fixture dir: a re-stamped fixture rebuilds in one dir") {
    val dir = tempDir("graft-ixdir")
    val ev = new java.io.File(s"$dir/events.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"), ev.toPath)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirsOf(purpose: String): Set[String] =
      tmp.listFiles().filter(_.getName.startsWith(s"graft_${purpose}_"))
        .map(_.getPath).toSet
    val builds = Seq[(String, (org.apache.spark.sql.SparkSession, String) => String)](
      "media_index" -> SparkEntry.mediaSignatureIndex,
      "quarantine_index" -> SparkEntry.quarantineSignatureIndex)
    val before = builds.map { case (p, _) => p -> dirsOf(p) }.toMap
    val first = builds.map { case (p, build) => p -> build(spark, dir) }.toMap
    assert(ev.setLastModified(ev.lastModified + 60000L), "could not re-stamp the fixture")
    try {
      for ((p, build) <- builds) {
        val again = build(spark, dir)
        assert(again == first(p), s"$p: a re-stamped fixture moved its work dir")
        assert(dirsOf(p) -- before(p) == Set(first(p)),
          s"$p: expected one new work dir, got ${dirsOf(p) -- before(p)}")
      }
    } finally first.values.foreach(d => graft.util.Fs.deleteRecursive(new java.io.File(d)))
  }

  test("poisoned admission book: good rows byte-identical, corrupt rows quarantined") {
    val clean = cleanBook()
    val poisoned = poisonedBook()
    assert(clean.where(col("reason") =!= "").count() == 0,
      "a clean corpus must quarantine nothing")
    val goodRows = poisoned.where(col("id") < QBase)
    assert(goodRows.exceptAll(clean).count() == 0 &&
      clean.exceptAll(goodRows).count() == 0,
      "poison must not perturb good assets' verdicts")
    val q = poisoned.where(col("id") >= QBase)
    // every poisoned asset quarantined: no admits, all flags false
    assert(q.where(col("admit") || col("keep_exact") || col("keep_perceptual"))
      .count() == 0)
    val reasons = q.select(col("modality"), (col("id") - QBase).as[Long],
      col("reason").as[String])
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    for (e <- cleanIds.filter(_ % 5 == 0)) {
      assert(reasons(("image", e)) == (((e / 5) % 3) match {
        case 0 => "decode:truncated"; case 1 => "decode:bomb"
        case _ => "decode:bad_crc" }))
      assert(reasons(("audio", e)) == (((e / 5) % 2) match {
        case 0 => "decode:truncated"; case _ => "decode:bad_magic" }))
      assert(reasons(("video", e)) == (((e / 5) % 3) match {
        case 0 => "decode:truncated"; case 1 => "decode:bomb"
        case _ => "decode:bad_magic" }))
    }
  }
}
