package perfbench

/** Per-layer figures of a traced run: self time per layer from the span
  * tree, Spark counters per call layer, and the span file itself. */
object Layers {
  /** Span layers, root first. `bench` is the benchmark's own phase span;
    * `spark.job` is job time not covered by a running stage,
    * `spark.stage` is time with some stage running. */
  val Names = Seq("bench", "streaming", "queries", "store", "Tables", "spark.job", "spark.stage")

  /** Every per-layer metric, so each traced run reports the full set; a
    * layer a workload never enters reads 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("trigger_ms_p50" -> "ms", "trigger_ms_p90" -> "ms", "add_batch_ms" -> "ms",
      "planning_ms" -> "ms", "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms",
      "latest_offset_ms" -> "ms", "micro_batches" -> "count", "state_rows" -> "count",
      "state_mem_bytes" -> "bytes", "state_commit_ms" -> "ms",
      "late_rows_dropped" -> "count", "input_lag_files" -> "count",
      "gen_late_ms" -> "ms", "sink_puts" -> "count", "sink_put_ms" -> "ms",
      "filter_matches" -> "count", "single_core_tweets_per_s" -> "1/s")
      .map { case (n, u) => s"streaming.$n" -> u } ++
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "planning_ms" -> "ms", "driver_gap_ms" -> "ms", "scheduler_delay_ms" -> "ms",
      "executor_run_ms" -> "ms", "executor_cpu_ms" -> "ms", "gc_ms" -> "ms",
      "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
      "fetch_wait_ms" -> "ms", "spill_bytes" -> "bytes", "input_bytes" -> "bytes")
      .map { case (n, u) => s"queries.$n" -> u } ++
    Seq("Tables.read_ms" -> "ms", "Tables.input_bytes" -> "bytes") ++
    Seq("append_jobs" -> "count", "serve_jobs" -> "count", "compactions" -> "count",
      "generations_live" -> "count", "bytes_on_disk" -> "bytes", "files_on_disk" -> "count")
      .map { case (n, u) => s"store.$n" -> u } ++
    Seq("topn_tweets_per_s" -> "1/s", "topn_emit_p50_ms" -> "ms", "topn_emit_p90_ms" -> "ms",
      "hybrid_serve_p50_ms" -> "ms", "drift_serve_p50_ms" -> "ms", "append_p50_ms" -> "ms", "store_bytes_ratio" -> "ratio",
      "failed_share" -> "share") ++
    Names.map(l => s"trace.self_ms.$l" -> "ms") ++
    Seq("trace.coverage" -> "share", "trace.overhead_pct" -> "%", "trace.unsettled_calls" -> "count")

  def defaults(r: Result): Unit = PerLayer.foreach { case (n, u) => r.metric(n, 0.0, u) }

  /** Write the spans, and report self time per layer plus the Spark
    * counters of every call (calls into `queries`, `store` and `Tables`
    * all run batch operators, so their counters sum into `queries.*`). */
  def report(ctx: Ctx, spans: Seq[Span]): Unit = {
    val r = ctx.result
    Spans.writeJsonl(ctx.out.resolve("spans.jsonl"), spans)
    val self = Spans.selfTimes(spans)
    Names.foreach(l => r.metric(s"trace.self_ms.$l", self.getOrElse(l, 0.0), "ms"))
    val wall = spans.filter(_.parent < 0).map(s => s.end - s.start).sum
    r.metric("trace.coverage", if (wall > 0) self.values.sum / wall else 0.0, "share")
    r.metric("trace.unsettled_calls", ctx.probe.unsettled.toDouble, "count")
    val c = new Counters
    ctx.probe.byLayer.values.foreach(c.add)
    if (ctx.probe.byLayer.nonEmpty) {
      r.metric("queries.jobs", c.jobs.toDouble, "count")
      r.metric("queries.stages", c.stages.toDouble, "count")
      r.metric("queries.tasks", c.tasks.toDouble, "count")
      r.metric("queries.planning_ms", c.planningMs, "ms")
      r.metric("queries.driver_gap_ms",
        Seq("queries", "store", "Tables").map(self.getOrElse(_, 0.0)).sum, "ms")
      r.metric("queries.scheduler_delay_ms", c.schedDelayMs.toDouble, "ms")
      r.metric("queries.executor_run_ms", c.runMs.toDouble, "ms")
      r.metric("queries.executor_cpu_ms", c.cpuMs, "ms")
      r.metric("queries.gc_ms", c.gcMs.toDouble, "ms")
      r.metric("queries.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes")
      r.metric("queries.shuffle_read_bytes", c.shuffleRead.toDouble, "bytes")
      r.metric("queries.fetch_wait_ms", c.fetchWaitMs.toDouble, "ms")
      r.metric("queries.spill_bytes", c.spill.toDouble, "bytes")
      r.metric("queries.input_bytes", c.input.toDouble, "bytes")
    }
    ctx.probe.byLayer.get("Tables").foreach(t =>
      r.metric("Tables.input_bytes", t.input.toDouble, "bytes"))
  }
}
