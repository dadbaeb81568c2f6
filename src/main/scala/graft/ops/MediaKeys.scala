package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import Multimodal._

/** The signature half of an invariant media key: how a payload frame
  * becomes `(id, <hashCol>[, n_key])` rows, and how those rows band.
  * Every invariant key shares the family posture — 16-bit × 4 banding
  * over the 64-bit signature, `maxHamming` 6 (≤3 exhaustive, 4–6
  * probabilistic), bucket cap 64, candidate cap 4 — so only the
  * signature function, the hash column, the band group and the metric
  * tag differ. `valid` excludes degenerate signatures from every
  * screen (the trim key's signature 0: no energy onset, so in the one
  * corpus-wide group every such clip would pair with every other at
  * Hamming 0). */
final case class SigKey(sign: (DataFrame, String, String) => DataFrame,
                        hashCol: String, group: Column, tag: String,
                        valid: Option[Column] = None) {

  private[ops] def validOnly(sigs: DataFrame): DataFrame =
    valid.fold(sigs)(p => sigs.filter(p))

  /** All near-dup pairs within one signature frame (`id_a < id_b`). */
  def pairs(sigs: DataFrame): DataFrame =
    bandedHammingPairs(validOnly(sigs), hashCol, group, MediaKeys.BandBits,
      MediaKeys.NumBands, MediaKeys.MaxHamming, MediaKeys.BucketCap,
      MediaKeys.CandCap, tag)

  /** A new batch's signatures against a standing corpus's (the
    * persisted index), one row per (batch_id, corpus_id) hit. */
  def screen(corpus: DataFrame, batch: DataFrame): DataFrame =
    incrementalBandedHamming(validOnly(corpus), validOnly(batch), hashCol,
      group, MediaKeys.BandBits, MediaKeys.NumBands, MediaKeys.MaxHamming,
      MediaKeys.BucketCap, MediaKeys.CandCap, tag + "_incr")
}

/** One invariant-key media family: a [[SigKey]] plus the seeded fixture
  * its gates run on. Event `e` yields the original `source(e)` at id
  * 2e and, when `hasCopy(e)`, the edited copy `copyOf(e)` at id 2e+1 —
  * disjoint id spaces at any sweep scale, and 2e < 2e+1 makes the
  * min-id keeper keep originals and drop copies. The four gate legs
  * are built here once for every family:
  *   - `pairs`: originals ∪ copies → signatures → banded-Hamming pairs;
  *   - `keep`: the same signatures, decoded once, through the shared
  *     closure to a keep/drop verdict;
  *   - `incremental`: copies screened against the originals' index;
  *   - `stream`: the same screen with copies arriving as a stream,
  *     uncapped, into a durable parquet sink (stream ≡ batch
  *     hit-for-hit). */
final case class MediaKey(family: String, key: SigKey,
                          source: Long => Array[Byte],
                          copyOf: Long => Array[Byte],
                          hasCopy: Long => Boolean,
                          streamGate: String, streamTag: String,
                          streamWorkDir: String) {

  val pairsGate: String = s"dedup_${family}_invariant"
  val keepGate: String = s"${pairsGate}_keep"
  val incrementalGate: String = s"${pairsGate}_incremental"
  def gateNames: Seq[String] = Seq(pairsGate, keepGate, incrementalGate, streamGate)

  /** The family's four driver-contract entries. */
  def queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    pairsGate -> ((s, d) => pairs(MediaKeys.eventIds(s, d))),
    keepGate -> ((s, d) => keep(MediaKeys.eventIds(s, d))),
    incrementalGate -> ((s, d) => incremental(MediaKeys.eventIds(s, d))),
    streamGate -> ((s, d) => stream(s, d)))

  private def originals(ids: Dataset[Long]): DataFrame = {
    import ids.sparkSession.implicits._
    val gen = source
    ids.mapPartitions(_.map(e => (2 * e, gen(e)))).toDF("id", "payload")
  }

  private def copies(ids: Dataset[Long]): DataFrame = {
    import ids.sparkSession.implicits._
    val gen = copyOf
    ids.filter(hasCopy).mapPartitions(_.map(e => (2 * e + 1, gen(e))))
      .toDF("id", "payload")
  }

  private def signed(payloads: DataFrame): DataFrame =
    key.sign(payloads, "id", "payload")

  private def allSigs(ids: Dataset[Long]): DataFrame =
    signed(originals(ids).unionByName(copies(ids)))

  def pairs(ids: Dataset[Long]): DataFrame = key.pairs(allSigs(ids))

  def keep(ids: Dataset[Long]): DataFrame = {
    val sigs = allSigs(ids).localCheckpoint(true) // two consumers — decode once
    mediaNearDupClusters(sigs.select("id"), key.pairs(sigs))
  }

  def incremental(ids: Dataset[Long]): DataFrame = {
    // the standing index, read per band; the screen is materialized so
    // its blocks can be released now instead of squatting in executor
    // storage for the JVM's remaining gates
    val corpus = signed(originals(ids)).localCheckpoint(true)
    val out = key.screen(corpus, signed(copies(ids))).localCheckpoint(true)
    Dedup.releaseOwnCheckpoint(corpus)
    out
  }

  def stream(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingIngest
    StreamingIngest.screenStream(
      key.validOnly(signed(originals(
        MediaKeys.spread(spark.read.parquet(s"$dir/events.parquet"))))),
      key.validOnly(signed(copies(
        MediaKeys.spread(StreamingIngest.mediaEvents(spark, dir))))),
      StreamingIngest.Screen(key.hashCol, key.group, MediaKeys.BandBits,
        MediaKeys.MaxHamming),
      streamTag, streamWorkDir, dir)
  }
}

/** The twelve invariant-key media families — the ONE place a family is
  * defined. A new family is one more row here; its gate bodies, band
  * constants, checkpoint discipline and stream sink come from
  * [[MediaKey]]. The DuckDB oracle re-derives each key from closed
  * form in its own table (`graft.oracle.OracleSql.invariantFamilies`);
  * it lives in the `oracle` module, which has neither Spark nor this
  * object on its classpath, so the compiler keeps it independent. */
object MediaKeys {

  private[ops] val BandBits = 16
  private[ops] val NumBands = 4
  private[ops] val MaxHamming = 6
  private[ops] val BucketCap = 64
  private[ops] val CandCap = 4

  /** Event-id scan SPREAD before the generate/decode `mapPartitions`:
    * the events fixture is ONE parquet file with ONE row group, so
    * every media gate's expensive per-row stage (synthetic gen + codec
    * encode + real decode) would inherit a single-task scan and run on
    * one core (measured: the decode stage of every video gate was a
    * 1-task stage; spreading it cut `multimodal_video_fingerprint`
    * 4.5 s → sub-second). The exchange moves one long per event —
    * orders of magnitude cheaper than the work it parallelizes — and
    * hash-partitions on the deterministic id (never round-robin, which
    * is not retry-safe), so results are byte-identical. Works on batch
    * and streaming frames. */
  def spread(events: DataFrame): Dataset[Long] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id").cast("long"))
      .repartition(spark.sparkContext.defaultParallelism, col("event_id"))
      .as[Long]
  }

  /** [[spread]] over the `events` table of `dir`. */
  def eventIds(spark: SparkSession, dir: String): Dataset[Long] =
    spread(graft.sources.Tables(spark, dir, "events"))

  /** The media gates' fixture frame: `(id, gen(id))` for every id, as
    * columns `id` and `c`. The payloads are generated per partition of
    * `ids` — after [[spread]], the synthetic encode spreads like the
    * decode that consumes it. Works on batch and streaming frames. */
  def payloads(ids: Dataset[Long], gen: Long => Array[Byte], c: String): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions(_.map(e => (e, gen(e)))).toDF("id", c)
  }

  private def videoGroup(prefix: String): Column =
    concat(lit(prefix), col("n_key").cast("string"))

  private val AudioRateKey =
    SigKey(audioRateInvariantHash(_, _, _).toDF(), "rfp", lit("rate"), "aud_ri")

  /** Every 7th asset re-uploaded as a nearest-neighbor 2× upscale. */
  val ImageScale = MediaKey("image_scale",
    SigKey(imageScaleInvariantHash(_, _, _).toDF(), "ahash", lit("thumb"), "img_si"),
    syntheticBmp, e => nnUpscale2x(syntheticBmp(e)), _ % 7 == 0,
    "streaming_scale_invariant_dedup", "img_si_stream", "stream_si_dedup")

  /** Every 7th clip re-uploaded as a zero-order-hold 2× upsample. */
  val AudioRate = MediaKey("audio_rate", AudioRateKey,
    syntheticWavMixed, e => zohUpsample2x(syntheticWavMixed(e)), _ % 7 == 0,
    "streaming_rate_invariant_dedup", "aud_ri_stream", "stream_ri_dedup")

  /** Every 7th clip re-encoded NN-2×-upscaled, keyframe placement kept;
    * `n_key` stays in the group (different keyframe counts occupy
    * different bit ranges). */
  val VideoScale = MediaKey("video_scale",
    SigKey(videoScaleInvariantHash(_, _, _).toDF(), "sig", videoGroup("vthumb:"),
      "vid_si"),
    syntheticVideoMp4, e => nnUpscaleVideo2x(syntheticVideoMp4(e)), _ % 7 == 0,
    "streaming_video_scale_invariant_dedup", "vid_si_stream", "stream_vsi_dedup")

  /** The keyStride-varying fixtures, every 7th NN-2× re-muxed: rescaled
    * AND keyframe-re-placed. `n_key` is the constant slot count, so the
    * group is corpus-wide. */
  val VideoScaleTime = MediaKey("video_scale_time",
    SigKey(videoScaleInvariantHashTimeAligned(_, _, _).toDF(), "sig",
      lit("vthumb_t"), "vid_sti"),
    syntheticVideoMp4T, e => nnUpscaleVideo2x(syntheticVideoMp4T(e)), _ % 7 == 0,
    "streaming_video_scale_time_invariant_dedup", "vid_sti_stream",
    "stream_vsti_dedup")

  /** Every 5th asset letterboxed (pads 1+e%3 / 1+e%2 / 2 / 1) then
    * NN-2×-upscaled. */
  val ImageCrop = MediaKey("image_crop",
    SigKey(imageCropInvariantHash(_, _, _).toDF(), "ahash", lit("cbox"), "img_ci"),
    syntheticBmp,
    e => nnUpscale2x(letterbox(syntheticBmp(e),
      1 + (e % 3).toInt, 1 + (e % 2).toInt, 2, 1)),
    _ % 5 == 0,
    "streaming_crop_invariant_dedup", "img_ci_stream", "stream_ci_dedup")

  /** Every 5th clip letterboxed per frame then NN-2×-rescaled. */
  val VideoCrop = MediaKey("video_crop",
    SigKey(videoCropInvariantHash(_, _, _).toDF(), "sig", videoGroup("vcbox:"),
      "vid_ci"),
    syntheticVideoMp4,
    e => nnUpscaleVideo2x(letterboxVideo(syntheticVideoMp4(e),
      1 + (e % 3).toInt, 1 + (e % 2).toInt, 2, 1)),
    _ % 5 == 0,
    "streaming_video_crop_invariant_dedup", "vid_ci_stream", "stream_vci_dedup")

  /** Every 5th clip ZOH-2×-upsampled then silence-padded (lead 1+e%5,
    * trail 1+e%3 frames). Signature 0 (no energy onset) never screens. */
  val AudioTrim = MediaKey("audio_trim",
    SigKey(audioTrimInvariantHash(_, _, _).toDF(), "rfp", lit("trim"), "aud_ti",
      valid = Some(col("rfp") =!= 0L)),
    syntheticWavMixed,
    e => padSilence(zohUpsample2x(syntheticWavMixed(e)),
      1 + (e % 5).toInt, 1 + (e % 3).toInt),
    _ % 5 == 0,
    "streaming_trim_invariant_dedup", "aud_ti_stream", "stream_ati_dedup")

  /** Every 3rd asset horizontally mirrored then NN-2×-upscaled. */
  val ImageMirror = MediaKey("image_mirror",
    SigKey(imageMirrorInvariantHash(_, _, _).toDF(), "ahash", lit("mthumb"), "img_mi"),
    syntheticBmp, e => nnUpscale2x(mirrorBmp(syntheticBmp(e))), _ % 3 == 0,
    "streaming_mirror_invariant_dedup", "img_mi_stream", "stream_mi_dedup")

  /** Every 4th asset rotated 90°·(1 + e%3) then NN-2×-upscaled. */
  val ImageRotation = MediaKey("image_rotation",
    SigKey(imageRotationInvariantHash(_, _, _).toDF(), "ahash", lit("rthumb"),
      "img_ri"),
    syntheticBmp, e => nnUpscale2x(rotateBmp(syntheticBmp(e), 1 + (e % 3).toInt)),
    _ % 4 == 0,
    "streaming_rotation_invariant_dedup", "img_roti_stream", "stream_roti_dedup")

  /** Every 3rd clip frame-mirrored then NN-2×-rescaled. */
  val VideoMirror = MediaKey("video_mirror",
    SigKey(videoMirrorInvariantHash(_, _, _).toDF(), "sig", videoGroup("vmthumb:"),
      "vid_mi"),
    syntheticVideoMp4, e => nnUpscaleVideo2x(mirrorVideoMp4(syntheticVideoMp4(e))),
    _ % 3 == 0,
    "streaming_video_mirror_invariant_dedup", "vid_mi_stream", "stream_vmi_dedup")

  /** Every 4th clip rotated 90°·(1 + e%3) per frame then NN-2×-rescaled. */
  val VideoRotation = MediaKey("video_rotation",
    SigKey(videoRotationInvariantHash(_, _, _).toDF(), "sig", videoGroup("vrthumb:"),
      "vid_roti"),
    syntheticVideoMp4,
    e => nnUpscaleVideo2x(rotateVideoMp4(syntheticVideoMp4(e), 1 + (e % 3).toInt)),
    _ % 4 == 0,
    "streaming_video_rotation_invariant_dedup", "vid_roti_stream",
    "stream_vroti_dedup")

  /** The channel-swap axis gated through the EXISTING rate key (the
    * energy sums over channels, so an L/R swap vanishes from the
    * signature by construction): every 4th clip, stereo ones only (odd
    * events carry two channels; a swap on mono is the identity), is
    * L/R-swapped after a ZOH-2× upsample. */
  val AudioChannelSwap = MediaKey("audio_channel_swap", AudioRateKey,
    syntheticWavMixed, e => swapChannels(zohUpsample2x(syntheticWavMixed(e))),
    _ % 4 == 1,
    "streaming_channel_swap_invariant_dedup", "aud_cs_stream", "stream_acs_dedup")

  val all: Seq[MediaKey] = Seq(ImageScale, AudioRate, VideoScale, VideoScaleTime,
    ImageCrop, VideoCrop, AudioTrim, ImageMirror, ImageRotation, VideoMirror,
    VideoRotation, AudioChannelSwap)
}
