package graft

/** One-shot bench-drift probe (VERDICT r5 Next #1, generalized r12):
  * times target queries at sf0.1 in two suite positions inside ONE
  * JVM —
  * (A) immediately after the standard Bench warmup, ×3;
  * (B) after a load-bearing prefix of heavy queries, ×2.
  * If A≈B and both ≪ the BENCH number, the drift is cross-entry JVM load
  * (GC/codegen-cache pressure), not a plan or position effect.
  *
  * Run: sbt "Test/runMain graft.DriftProbe [sfDir] [query ...]"
  * (defaults to the r5 protocol's dedup_clusters when no queries given;
  * r12 ran it on streaming_image_dedup and multimodal_video_phash_aligned
  * — the r11 media-family drift, VERDICT r11 #4).
  */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val targets = if (args.length > 1) args.drop(1).toSeq else Seq("dedup_clusters")
    val spark = Sessions.builder("graft-drift-probe", Sessions.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def force(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    force("p5_completed_count") // Bench's warmup query
    println("== position A: right after warmup ==")
    for (t <- targets; i <- 1 to 3) println(f"A$i $t ${force(t)}%.2f s")
    println("== position B: after a heavy media prefix ==")
    val prefix = Seq("q1_agg", "q3_join", "dedup_minhash_lsh",
      "dedup_image_clusters", "dedup_audio_clusters",
      "multimodal_video_phash", "dedup_video_perceptual_clusters")
    prefix.foreach(n => println(f"  prefix $n ${force(n)}%.2f s"))
    for (t <- targets; i <- 1 to 2) println(f"B$i $t ${force(t)}%.2f s")
    spark.stop()
  }
}
