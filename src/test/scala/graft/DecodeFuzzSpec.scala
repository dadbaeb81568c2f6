package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.ops.{Decode, Multimodal}

/** Seeded fuzz of the quarantine claim "a corrupt payload becomes a
  * quarantine row, never a task failure": each codec's synthetic payloads
  * are mutated (a truncation at a random offset, one flipped bit, a 32-bit
  * size field patched to 0x7FFFFFF0) and run through the `*Safe` passes.
  * Every pass must finish, give one row per input id, classify every
  * failure as `decode:<kind>`, and admit only rows the strict pass
  * reproduces on the same bytes. The seed is fixed, so a failure replays. */
class DecodeFuzzSpec extends SparkTestBase {
  import spark.implicits._

  private val Seed = 0x5EEDL
  private val BaseIds = 0L until 12L
  private val Huge = 0x7FFFFFF0

  private def be32(b: Array[Byte], at: Int): Int =
    (b(at) & 0xFF) << 24 | (b(at + 1) & 0xFF) << 16 | (b(at + 2) & 0xFF) << 8 |
      (b(at + 3) & 0xFF)

  private def fourccs(b: Array[Byte], tag: String): Seq[Int] = {
    val t = tag.getBytes("US-ASCII")
    (0 to b.length - 4).filter(i => (0 until 4).forall(k => b(i + k) == t(k)))
  }

  /** A codec's 32-bit size fields: (offset, big-endian) candidates the
    * size mutation picks from. */
  private type SizeFields = Array[Byte] => Seq[(Int, Boolean)]

  // header: file size, pixel offset, DIB size, width, height, image size
  private val bmpSizes: SizeFields = _ => Seq(2, 10, 14, 18, 22, 34).map((_, false))
  // IHDR length, width, height; the next chunk's length
  private val pngSizes: SizeFields = _ => Seq(8, 16, 20, 33).map((_, true))
  // SOF0 height+width (two 16-bit fields read as one 32-bit span)
  private val jpegSizes: SizeFields = b =>
    (0 until b.length - 1)
      .find(i => (b(i) & 0xFF) == 0xFF && (b(i + 1) & 0xFF) == 0xC0)
      .map(at => (at + 5, true)).toSeq
  // logical screen width+height; the first image descriptor's width+height
  private val gifSizes: SizeFields = b => {
    val gct = if ((b(10) & 0x80) != 0) 3 << ((b(10) & 7) + 1) else 0
    val desc = 13 + gct
    Seq((6, false)) ++
      (if (desc + 9 <= b.length && b(desc) == 0x2C) Seq((desc + 5, false)) else Nil)
  }
  // RIFF size, fmt size, sample rate, data size
  private val wavSizes: SizeFields = _ => Seq(4, 16, 24, 40).map((_, false))
  // every top-level box size, every sample-table box size and entry count
  private val mp4Sizes: SizeFields = b => {
    val top = Iterator.iterate(0)(off => off + be32(b, off))
      .takeWhile(off => off >= 0 && off + 8 <= b.length)
      .take(16).toSeq
    val tables = Seq("stts", "stss", "stsc", "stsz", "stco").flatMap { t =>
      fourccs(b, t).flatMap(at => Seq(at - 4, at + (if (t == "stsz") 12 else 8)))
    }
    (top ++ tables).filter(at => at >= 0 && at + 4 <= b.length).map((_, true))
  }

  /** Mutant `m` of `bytes`: 0 truncates, 1 flips one bit, 2 patches a
    * size field; the rng is the codec's, so the sequence is fixed. */
  private def mutate(bytes: Array[Byte], m: Int, sizes: SizeFields,
                     rng: scala.util.Random): Array[Byte] = m match {
    case 0 => bytes.take(rng.nextInt(bytes.length))
    case 1 =>
      val b = bytes.clone()
      val i = rng.nextInt(b.length)
      b(i) = (b(i) ^ (1 << rng.nextInt(8))).toByte
      b
    case _ =>
      val b = bytes.clone()
      val fields = sizes(b)
      val (at, bigEndian) = fields(rng.nextInt(fields.length))
      val v = Array((Huge >>> 24).toByte, (Huge >>> 16).toByte,
        (Huge >>> 8).toByte, Huge.toByte)
      (0 until 4).foreach(k => b(at + k) = if (bigEndian) v(k) else v(3 - k))
      b
  }

  /** The corpus: every base payload (id 4e) and its three mutants
    * (ids 4e+1 .. 4e+3). */
  private def corpus(codec: String, gen: Long => Array[Byte],
                     sizes: SizeFields): Seq[(Long, Array[Byte])] = {
    val rng = new scala.util.Random(Seed ^ codec.hashCode)
    BaseIds.flatMap { e =>
      val bytes = gen(e)
      (4 * e, bytes) +: (0 until 3).map(m => (4 * e + 1 + m, mutate(bytes, m, sizes, rng)))
    }
  }

  private def check(codec: String, inputs: Seq[(Long, Array[Byte])],
                    safe: DataFrame => DataFrame,
                    strict: DataFrame => DataFrame): Unit = {
    val frame = inputs.toDF("id", "bin")
    val rows = safe(frame).collect() // a task failure here fails the spec
    val ids = rows.map(_.getAs[Long]("id")).sorted.toSeq
    assert(ids == inputs.map(_._1).sorted, s"$codec: one row per input id")
    val bad = rows.filterNot(_.getAs[Boolean]("ok")).map(_.getAs[String]("reason"))
      .filterNot(r => r.startsWith("decode:") &&
        Decode.Kinds.contains(r.stripPrefix("decode:")))
    assert(bad.isEmpty, s"$codec: unclassified reasons ${bad.distinct.mkString(", ")}")
    val okIds = rows.filter(_.getAs[Boolean]("ok")).map(_.getAs[Long]("id")).toSet
    assert(inputs.map(_._1).filter(_ % 4 == 0).forall(okIds),
      s"$codec: a clean payload was quarantined")
    // guards the fuzz itself: mutants that all stayed valid would make
    // the checks below vacuous
    assert(okIds.size < inputs.size, s"$codec: no mutant was quarantined")
    val admitted = rows.filter(_.getAs[Boolean]("ok"))
      .map(r => Row.fromSeq(r.get(0) +: r.toSeq.drop(3))).toSet
    val reproduced =
      strict(inputs.filter(r => okIds(r._1)).toDF("id", "bin")).collect().toSet
    assert(admitted == reproduced, s"$codec: admitted rows differ from the strict pass")
  }

  test("seeded mutants: image codecs quarantine per asset, admitted rows equal strict") {
    val sig = (df: DataFrame) => Multimodal.imageSignaturesSafe(df, "id", "bin")
    val sigStrict = (df: DataFrame) => Multimodal.imageSignatures(df, "id", "bin").toDF()
    check("bmp", corpus("bmp", Multimodal.syntheticBmp, bmpSizes), sig, sigStrict)
    check("png", corpus("png", Multimodal.syntheticPng, pngSizes), sig, sigStrict)
    check("jpeg", corpus("jpeg", Multimodal.syntheticJpeg, jpegSizes),
      Multimodal.jpegStatsSafe(_, "id", "bin"),
      Multimodal.jpegStats(_, "id", "bin").toDF())
    check("gif", corpus("gif", Multimodal.syntheticGif, gifSizes),
      Multimodal.gifStatsSafe(_, "id", "bin"),
      Multimodal.gifStats(_, "id", "bin").toDF())
  }

  test("seeded mutants: audio and video quarantine per asset, admitted rows equal strict") {
    check("wav", corpus("wav", Multimodal.syntheticWav, wavSizes),
      Multimodal.audioSignaturesSafe(_, "id", "bin"),
      Multimodal.audioSignatures(_, "id", "bin").toDF())
    val mp4 = corpus("mp4", Multimodal.syntheticVideoMp4, mp4Sizes)
    check("mp4 fingerprint", mp4,
      Multimodal.videoFingerprintSafe(_, "id", "bin"),
      Multimodal.videoFingerprint(_, "id", "bin").toDF())
    check("mp4 perceptual", mp4,
      Multimodal.videoPerceptualHashSafe(_, "id", "bin"),
      Multimodal.videoPerceptualHashStrict(_, "id", "bin").toDF())
  }
}
