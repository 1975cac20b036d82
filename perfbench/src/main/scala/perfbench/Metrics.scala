package perfbench

/** The metric catalogue. End-to-end metrics are printed by every workload
  * on untraced runs; per-layer metrics by every workload on traced runs,
  * 0 where a layer does not run. Keep in step with BENCHMARK.json.
  */
object Metrics {
  final case class M(name: String, unit: String)

  val endToEnd: Seq[M] = Seq(M("pass_s", "s"), M("setup_s", "s"))

  val perLayerFixed: Seq[M] = Seq(
    M("tokenize.kernel_s", "s"),
    M("tokenize.kernel_docs_per_s_1core", "docs/s"),
    M("tokenize.spans_out", "count"),
    M("tokenize.error_spans", "count"),
    M("pipeline.docs_per_s", "docs/s"),
    M("pipeline.docs_per_s_1core", "docs/s"),
    M("pipeline.scaling_eff", "ratio"),
    M("pipeline.output_bytes_per_input_byte", "ratio"),
    M("pipeline.floor_s", "s"),
    M("pipeline.overhead_s", "s"),
    M("pipeline.phase.scan_key_s", "s"),
    M("pipeline.phase.relocate_s", "s"),
    M("pipeline.phase.kernel_write_s", "s"),
    M("pipeline.phase.metrics_s", "s"),
    M("pipeline.phase.driver_s", "s"),
    M("pipeline.self_time_coverage", "ratio"),
    M("pipeline.scan_amplification", "ratio"),
    M("pipeline.empty_task_share", "ratio"),
    M("pipeline.shuffle_write_bytes", "B"),
    M("pipeline.heavy_task_skew", "ratio"),
    M("pipeline.light_task_skew", "ratio"),
    M("pipeline.output_files", "count"),
    M("pipeline.spill_bytes", "B"),
    M("pipeline.manifests_committed", "count"),
    M("pipeline.executor_run_s", "s"),
    M("pipeline.executor_cpu_s", "s"),
    M("pipeline.gc_s", "s"),
    M("pipeline.core_busy_share", "ratio"),
    M("pipeline.tasks", "count"),
    M("queries.total_s", "s"),
    M("queries.spark_jobs", "count"),
    M("queries.input_records", "count"),
    M("queries.shuffle_write_bytes", "B"),
    M("queries.gc_s", "s"),
    M("trace.overhead_share", "ratio"))

  def perQuery(name: String): M = M(s"queries.${name}_s", "s")

  def perLayer: Seq[M] =
    perLayerFixed ++ Queries.benchSet.sorted.map(perQuery)

  /** `{"name": {"value": v, "unit": u}, ...}` for every metric of `ms`. */
  def json(ms: Seq[M], values: Map[String, Double]): String =
    Json.obj(ms.map { m =>
      m.name -> s"""{"value":${Json.num(values.getOrElse(m.name, 0.0))},"unit":${Json.str(m.unit)}}"""
    })
}
