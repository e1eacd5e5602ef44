package perfbench

/** The per-layer metrics of a traced run, computed from its spans. Every
  * workload reports every metric; a layer the workload does not call
  * reads 0. Times are per call unless named otherwise. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    // graft.storage — ParquetLog commit and point-read paths
    "storage.append_ms" -> "ms",
    "storage.append_jobs" -> "count",
    "storage.append_tasks" -> "count",
    "storage.append_driver_ms" -> "ms",
    "storage.files_per_append" -> "count",
    "storage.bytes_stored_per_input_byte" -> "ratio",
    "storage.io_write_bytes" -> "B",
    "storage.get_ms" -> "ms",
    "storage.get_jobs" -> "count",
    "storage.getmany_jobs" -> "count",
    "storage.redact_jobs" -> "count",
    // graft.query — the QuerySpec algebra lowered to Spark
    "query.plan_ms" -> "ms",
    "query.exec_ms" -> "ms",
    "query.jobs" -> "count",
    // graft.sources — the graft-log connector's scans
    "sources.bytes_read" -> "B",  // rchar of /proc/self/io during the query
    "sources.rows_read_per_row_returned" -> "ratio",
    // graft.live — the live tail's micro-batches
    "live.trigger_ms" -> "ms",
    "live.add_batch_ms" -> "ms",
    "live.latest_offset_ms" -> "ms",
    "live.microbatches_per_append" -> "ratio",
    "live.useful_batch_frac" -> "frac",
    // graft.indexes / graft.multilog — derived views
    "indexes.kv_pump_ms" -> "ms",
    "indexes.kv_pump_jobs" -> "count",
    "indexes.kv_get_ms" -> "ms",
    "multilog.pump_ms" -> "ms",
    "multilog.pump_jobs" -> "count",
    "multilog.sublog_query_ms" -> "ms",
    // graft.streaming — one IngestDaemon batch through every tier
    "streaming.batch_jobs" -> "count",
    "streaming.batch_stages" -> "count",
    "streaming.batch_tasks" -> "count",
    "streaming.batch_task_ms" -> "ms",
    "streaming.batch_driver_ms" -> "ms",
    "streaming.shuffle_bytes" -> "B",
    "streaming.spill_bytes" -> "B",
    "streaming.files_per_batch" -> "count",
    // the engine under all layers, and the benchmark itself
    "engine.core_busy_frac" -> "frac",
    "engine.gc_ms" -> "ms",
    "bench.generator_late_max_ms" -> "ms",
    "bench.trace_overhead_frac" -> "frac"
  )

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** `workload` supplies the metrics only it can compute; the rest come
    * from the spans. */
  def compute(t: Tracer, workload: Map[String, Double]): Seq[(String, Double, String)] = {
    def spans(name: String) = t.named(name)
    def per(name: String)(f: Span => Double) = mean(spans(name).map(f))
    // pumps that found nothing new return before any Spark work
    def pumps(name: String) = spans(name).filter(_.rowsReturned > 0)
    val appends = spans("storage.append")
    val queries = t.all.filter(_.name.startsWith("query."))
    // SQL executions whose planning began inside a query span; query
    // spans run one at a time on the client thread
    val execs = t.executions.toArray(Array.empty[(Long, Double, Double)]).toSeq
    val queryExecs = execs.filter { case (start, _, _) =>
      queries.exists(q => Tracer.nanoToEpochMs(q.startNs) <= start && start <= Tracer.nanoToEpochMs(q.endNs))
    }
    val progress = t.progress.toArray(Array.empty[(Long, Long, Long, Long)]).toSeq
    val useful = progress.filter(_._1 > 0)
    val batches = spans("streaming.batch")
    val values: Map[String, Double] = Map(
      "storage.append_ms" -> per("storage.append")(_.durMs),
      "storage.append_jobs" -> per("storage.append")(_.jobs.get.toDouble),
      "storage.append_tasks" -> per("storage.append")(_.tasks.get.toDouble),
      "storage.append_driver_ms" -> per("storage.append")(_.driverMs),
      "storage.files_per_append" -> per("storage.append")(_.filesAdded.toDouble),
      "storage.io_write_bytes" -> per("storage.append")(_.wcharBytes.toDouble),
      "storage.get_ms" -> per("storage.get")(_.durMs),
      "storage.get_jobs" -> per("storage.get")(_.jobs.get.toDouble),
      "storage.getmany_jobs" -> per("storage.get_many")(_.jobs.get.toDouble),
      "storage.redact_jobs" -> per("storage.redact")(_.jobs.get.toDouble),
      "query.plan_ms" -> (if (queries.isEmpty) 0.0 else queryExecs.map(_._2).sum / queries.size),
      "query.exec_ms" -> (if (queries.isEmpty) 0.0 else queryExecs.map(_._3).sum / queries.size),
      "query.jobs" -> mean(queries.map(_.jobs.get.toDouble)),
      "sources.bytes_read" -> mean(queries.map(_.rcharBytes.toDouble)),
      "sources.rows_read_per_row_returned" -> {
        val returned = queries.map(_.rowsReturned).sum
        if (returned == 0) 0.0 else queries.map(_.inputRecords.get).sum.toDouble / returned
      },
      "live.trigger_ms" -> mean(useful.map(_._2.toDouble)),
      "live.add_batch_ms" -> mean(useful.map(_._3.toDouble)),
      "live.latest_offset_ms" -> mean(useful.map(_._4.toDouble)),
      "live.microbatches_per_append" ->
        (if (appends.isEmpty) 0.0 else useful.size.toDouble / appends.size),
      "live.useful_batch_frac" ->
        (if (progress.isEmpty) 0.0 else useful.size.toDouble / progress.size),
      "indexes.kv_pump_ms" -> mean(pumps("indexes.kv_pump").map(_.durMs)),
      "indexes.kv_pump_jobs" -> mean(pumps("indexes.kv_pump").map(_.jobs.get.toDouble)),
      "indexes.kv_get_ms" -> per("indexes.kv_get")(_.durMs),
      "multilog.pump_ms" -> mean(pumps("multilog.pump").map(_.durMs)),
      "multilog.pump_jobs" -> mean(pumps("multilog.pump").map(_.jobs.get.toDouble)),
      "multilog.sublog_query_ms" -> per("multilog.sublog_query")(_.durMs),
      "streaming.batch_jobs" -> mean(batches.map(_.jobs.get.toDouble)),
      "streaming.batch_stages" -> mean(batches.map(_.stages.get.toDouble)),
      "streaming.batch_tasks" -> mean(batches.map(_.tasks.get.toDouble)),
      "streaming.batch_task_ms" -> mean(batches.map(_.taskMs.get.toDouble)),
      "streaming.batch_driver_ms" -> mean(batches.map(_.driverMs)),
      "streaming.shuffle_bytes" -> mean(batches.map(_.shuffleBytes.get.toDouble)),
      "streaming.spill_bytes" -> mean(batches.map(_.spillBytes.get.toDouble)),
      "streaming.files_per_batch" -> mean(batches.map(_.filesAdded.toDouble)),
      "engine.core_busy_frac" ->
        (if (t.windowMs <= 0) 0.0 else t.windowTaskMs / (t.windowMs * Main.Cores)),
      "engine.gc_ms" -> t.windowGcMs.toDouble
    ) ++ workload
    All.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
