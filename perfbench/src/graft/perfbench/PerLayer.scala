package graft.perfbench

/** Every per-layer metric a `--trace 1` run reports, with its unit. A
  * metric of a layer the workload does not exercise reads 0. */
object PerLayer {
  private val Routes = Seq("time", "workid", "latest")
  private val Methods = Seq("queryByTime", "queryByWorkId", "queryLatest")
  private val CallSiteLayers = Seq("query", "store", "streaming", "operators", "queries",
    "listing", "perfbench")

  val all: Seq[(String, String)] =
    Routes.flatMap(r => Seq(s"api.$r.rtt_ms" -> "ms", s"api.$r.self_ms" -> "ms")) ++
      Seq("api.response_bytes" -> "bytes") ++
      Methods.flatMap(m => Seq(s"query.$m.call_ms" -> "ms", s"query.$m.jobs" -> "count",
        s"query.$m.task_ms" -> "ms", s"query.$m.bytes_read" -> "bytes",
        s"query.$m.rows_read_per_row_returned" -> "ratio")) ++
      Seq("store.records.construct_ms" -> "ms", "store.records.live_dirs" -> "count",
        "store.records.cells" -> "count", "store.records.files" -> "count",
        "store.records.bytes_per_user_byte" -> "ratio", "store.append_ms" -> "ms",
        "store.latest_upsert_ms" -> "ms", "store.compact_ms" -> "ms",
        "store.workid_rebuild_ms" -> "ms") ++
      Seq("streaming.ingest.batch_ms" -> "ms", "streaming.ingest.msgs_per_batch" -> "count",
        "streaming.ingest.jobs_per_batch" -> "count", "streaming.ingest.queue_wait_ms" -> "ms",
        "streaming.ingest.queue_depth_end" -> "count") ++
      Seq("sources.push_ms" -> "ms", "sources.queue_send_ms" -> "ms",
        "core.records_per_file" -> "ratio") ++
      CallSiteLayers.map(l => s"callsite.$l.task_s" -> "s") ++
      Seq("battery.construct_s" -> "s", "battery.plan_s" -> "s", "battery.exec_s" -> "s",
        "battery.jobs" -> "count", "battery.stages" -> "count", "battery.task_s" -> "s",
        "battery.shuffle_bytes" -> "bytes") ++
      Seq("neardup", "grams").flatMap(st => Seq(s"store.$st.live_dirs" -> "count",
        s"store.$st.files" -> "count", s"store.$st.bytes" -> "bytes")) ++
      Battery.Queries.flatMap(q => Seq(s"battery.$q.exec_s" -> "s", s"battery.$q.jobs" -> "count")) ++
      Seq("jvm.gc_ms" -> "ms", "spark.residual_cached_blocks" -> "count",
        "trace.overhead_p50_pct" -> "%", "trace.overhead_ops_pct" -> "%")
}
