package perfbench

/** The per-layer metrics of a traced run, named by library module. Every
  * traced run reports all of them; a layer the workload does not load
  * reads 0. */
object Layers {
  val curateStages: Seq[String] =
    Seq("ingested", "quality", "exact_dedup", "near_dedup", "rebalanced", "exported")

  val all: Seq[(String, String)] = Seq(
    "queries.construct_ms" -> "ms",
    "queries.construct_jobs" -> "count",
    "queries.cold_construct_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimizer_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "codegen.compile_ms" -> "ms",
    "codegen.cold_compile_ms" -> "ms",
    "codegen.fallbacks" -> "count",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.exchanges" -> "count",
    "exec.repartition_exchanges" -> "count",
    "exec.run_ms" -> "ms",
    "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.busy_ratio" -> "ratio",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.peak_task_mem_mb" -> "MB",
    "operators.FrameCache.assets_built" -> "count",
    "operators.FrameCache.cold_assets_built" -> "count") ++
    (Tracer.operatorFiles :+ "other").map(f => s"operators.jobs.$f" -> "count") ++ Seq(
    "streaming.batch_jobs" -> "count",
    "streaming.dedup_update_jobs" -> "count",
    "streaming.sink_jobs" -> "count",
    "streaming.index_write_jobs" -> "count",
    "streaming.vector_batch_jobs" -> "count",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.latency_slope" -> "ratio",
    "sources.extract_ms" -> "ms",
    "sources.http_requests" -> "count",
    "sources.http_bytes" -> "bytes",
    "transform.ms" -> "ms",
    "transform.jobs" -> "count",
    "load.ms" -> "ms",
    "load.jobs" -> "count",
    "load.rows" -> "count") ++
    curateStages.map(s => s"curate.stage_ms.$s" -> "ms") ++ Seq(
    "curate.jobs" -> "count",
    "trace.overhead_ratio" -> "ratio",
    "trace.span_coverage" -> "ratio")

  private val units = all.toMap

  def unit(name: String): String = units.getOrElse(name, "count")

  /** `partial` completed with zeros for the layers it does not mention. */
  def complete(partial: Map[String, Double]): Seq[(String, Double)] =
    all.map { case (k, _) => k -> partial.getOrElse(k, 0.0) }
}
