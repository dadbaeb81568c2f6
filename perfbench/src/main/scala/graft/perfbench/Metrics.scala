package graft.perfbench

/** Per-layer metric names and units, in the order they are reported.
  * A traced run reports every one of them; a layer the workload does not
  * exercise reports 0. `BENCHMARK.json` lists the same names. */
object Metrics {
  private def layer(l: String, jobs: Boolean = true): Seq[(String, String)] =
    Seq(s"$l.cpu_s" -> "s") ++ (if (jobs) Seq(s"$l.jobs" -> "count") else Nil) ++
      Seq(s"$l.shuffle_bytes" -> "bytes", s"$l.spill_bytes" -> "bytes", s"$l.gc_s" -> "s")

  val perLayer: Seq[(String, String)] =
    Seq(
      "engine.overhead_s" -> "s", "engine.jobs" -> "count",
      "engine.chunk_s_p50" -> "s", "engine.chunk_s_p95" -> "s",
      "engine.idle_s" -> "s", "engine.plan_s" -> "s", "engine.resume_plan_s" -> "s",
      "engine.checkpoint_saves" -> "count", "engine.checkpoint_save_ms" -> "ms",
      "engine.replayed_rows" -> "rows", "engine.resume_ratio" -> "ratio",
      "engine.jdbc.jobs" -> "count", "engine.jdbc.chunk_s_p50" -> "s",
      "engine.jdbc.chunk_s_p95" -> "s", "engine.jdbc.idle_s" -> "s",
      "engine.jdbc.plan_s" -> "s", "engine.jdbc.resume_plan_s" -> "s",
      "engine.jdbc.checkpoint_saves" -> "count", "engine.jdbc.replayed_rows" -> "rows",
      "engine.jdbc.resume_ratio" -> "ratio",
      "engine.resync_rows_per_s" -> "rows/s") ++ layer("engine", jobs = false) ++
    Seq(
      "sources.scan_s" -> "s", "sources.read_amplification" -> "ratio",
      "sources.read_amplification_range" -> "ratio",
      "sources.jdbc_read_s" -> "s") ++ layer("sources") ++
    Seq(
      "sinks.parquet_write_s" -> "s", "sinks.bytes_ratio" -> "ratio",
      "sinks.merge_insert_s" -> "s", "sinks.merge_update_s" -> "s",
      "sinks.failed_tasks" -> "count") ++ layer("sinks") ++
    Seq(
      "ops.Dedup.pairs_s" -> "s", "ops.Dedup.pairs" -> "count",
      "ops.Dedup.over_cap" -> "count", "ops.Dedup.closure_s" -> "s",
      "ops.Dedup.closure_jobs" -> "count", "ops.Dedup.star_closure_s" -> "s",
      "ops.Dedup.star_closure_jobs" -> "count", "ops.Dedup.task_skew" -> "ratio") ++
      layer("ops.Dedup") ++
    Seq("ops.Curation.verdicts_s" -> "s") ++ layer("ops.Curation") ++
    Seq(
      "ops.Similarity.sweep_s" -> "s", "ops.Similarity.sweep_jobs" -> "count",
      "ops.Similarity.recall" -> "ratio") ++ layer("ops.Similarity", jobs = false) ++
    Seq(
      "ops.Multimodal.decode_s" -> "s", "ops.Multimodal.decode_cpu_s" -> "s",
      "ops.Multimodal.pairs_s" -> "s", "ops.Multimodal.pairs" -> "count",
      "ops.Multimodal.pairs_over_cap" -> "count",
      "ops.Multimodal.verdicts_s" -> "s") ++ layer("ops.Multimodal") ++
    Seq("trace.overhead_pct" -> "%")
}
