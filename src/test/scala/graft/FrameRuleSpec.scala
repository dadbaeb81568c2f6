package graft

import graft.ops.{Mp4, Multimodal}
import graft.ops.Multimodal.{CropRule, Keyframes, MirrorRule, RotationRule, ScaleRule}

/** Each invariance axis has ONE frame rule, shared by its image key and
  * its video key: a clip of one keyframe must sign as the 16-bit fold of
  * the image key of that frame. A later edit that changes one modality's
  * rule without the other fails here. */
class FrameRuleSpec extends SparkTestBase {
  import spark.implicits._

  private val rules = Seq("scale" -> ScaleRule, "crop" -> CropRule,
    "mirror" -> MirrorRule, "rotation" -> RotationRule)

  test("a one-keyframe clip's video key is the fold of its frame's image key, for every rule") {
    // plain fixtures plus a letterboxed one, so the crop rule trims
    val frames = Seq(1L, 2L, 9L, 14L).map(e => e -> Multimodal.syntheticBmp(e)) :+
      (20L -> Multimodal.letterbox(Multimodal.syntheticBmp(3L), 2, 1, 1, 3))
    val images = frames.toDF("id", "img")
    val clips = frames.map { case (id, f) => (id, Mp4.encode(Seq(f))) }.toDF("id", "vid")
    def imageKeys(rule: Multimodal.FrameRule): Map[Long, Long] =
      Multimodal.imageInvariantHash(rule)(images, "id", "img")
        .collect().map(r => r.id -> r.ahash).toMap
    val folds = rules.map { case (name, rule) => name -> imageKeys(rule).map {
      case (id, h) => id -> Multimodal.fold16(h) } }.toMap
    // the rules disagree on these frames, so a video key signing with
    // another axis's rule cannot pass
    assert(folds.values.toSet.size == rules.size, s"rules fold alike: $folds")
    for ((name, rule) <- rules) {
      val video = Multimodal.videoInvariantHash(Keyframes, rule)(clips, "id", "vid")
        .collect().map(r => r.id -> ((r.n_key, r.sig))).toMap
      assert(folds(name).values.toSet.size == frames.size, s"$name: image keys collide")
      assert(video == folds(name).map { case (id, f) => id -> ((1L, f)) },
        s"$name: video key is not the fold of the image key")
    }
  }
}
