package perfbench

/** Every per-layer metric a traced run reports, with its unit. Layer
  * names follow the engine's modules; a workload that does not run a
  * layer reports 0 for it, which is the prediction a change to that
  * layer must keep. BENCHMARK.json's `per_layer` lists the same names. */
object Layers {
  val Queries: Seq[String] =
    Seq("p1_preprocess_pipeline", "d4_neardup_clusters", "a3_ann_ivf")

  val All: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "session.stop_s" -> "s", "session.warmup_pass_s" -> "s",
    "jvm.gc_s" -> "s", "spark.sched_wait_s" -> "s", "trace.overhead_s" -> "s",
    "cdc.catalog.self_s" -> "s",
    "cdc.parse.self_s" -> "s", "cdc.parse.task_busy_s" -> "s",
    "cdc.parse.records_out" -> "count", "cdc.parse.input_read_ratio" -> "ratio",
    "cdc.filter.self_s" -> "s", "cdc.filter.records_out" -> "count",
    "cdc.render.self_s" -> "s", "cdc.render.task_busy_s" -> "s",
    "cdc.render.records_out" -> "count",
    "cdc.sort.self_s" -> "s", "cdc.sort.jobs" -> "count",
    "cdc.sort.shuffle_write_mb" -> "MB", "cdc.sort.spill_mb" -> "MB",
    "cdc.sort.task_skew" -> "ratio",
    "sink.sql.self_s" -> "s", "sink.sql.jobs" -> "count",
    "sink.sql.driver_only_s" -> "s",
    "cdc.parallel_speedup" -> "ratio",
    "sources.decode.self_s" -> "s", "sources.decode.task_busy_s" -> "s",
    "sources.decode.records_out" -> "count",
    "sources.decode.input_read_ratio" -> "ratio",
    "cdc.scd2.self_s" -> "s", "cdc.scd2.shuffle_write_mb" -> "MB",
    "cdc.scd2.spill_mb" -> "MB", "cdc.scd2.task_skew" -> "ratio",
    "sink.lake.self_s" -> "s", "sink.lake.files_written" -> "count",
    "sink.lake.bytes_written_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.files_per_batch_p50" -> "count",
    "streaming.query_planning_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms", "streaming.latest_offset_ms_p50" -> "ms",
    "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.add_batch_ms_max" -> "ms", "streaming.pre_sink_ms_p50" -> "ms",
    "streaming.trigger_wait_ms_p50" -> "ms", "sink.stream.ms_p50" -> "ms",
    "feed.generator_lag_ms_max" -> "ms") ++
    Queries.flatMap(q => Seq("plan_s" -> "s", "self_s" -> "s", "task_busy_s" -> "s",
      "driver_only_s" -> "s", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
      "broadcast_build_ms" -> "ms", "jobs" -> "count")
      .map { case (m, u) => s"queries.$q.$m" -> u })
}
