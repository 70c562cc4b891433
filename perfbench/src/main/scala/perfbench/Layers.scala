package perfbench

/** The per-layer metrics every traced run reports. A workload that does not
  * exercise a layer reports it as 0 (it is that layer's control). */
object Layers {
  private def s(names: String*) = names.map(_ -> "s")
  private def n(names: String*) = names.map(_ -> "count")
  private def b(names: String*) = names.map(_ -> "bytes")

  val static: Seq[(String, String)] =
    s("ingest.read_s", "ingest.parse_s") ++ b("ingest.bytes") ++
      n("ingest.records", "ingest.corrupt_records", "ingest.tasks") ++
      s("rules.self_s", "rules.cpu_s") ++
      n("rules.validations", "rules.failed_validations", "rules.fenced_nodes") ++
      s("rules.codegen_compile_s") ++
      s("sequential.self_s", "sequential.max_task_s") ++
      b("sequential.shuffle_bytes", "sequential.spill_bytes") ++
      n("sequential.errors") ++
      s("aggregate.self_s") ++ b("aggregate.shuffle_bytes") ++ n("aggregate.histogram_rows") ++
      s("sinks.parquet_s") ++ b("sinks.parquet_bytes") ++ s("sinks.metadata_s", "sinks.es_s") ++
      n("sinks.es_requests", "sinks.es_docs") ++ s("sinks.cw_s") ++
      n("sinks.cw_requests", "sinks.cw_datums") ++
      n("streaming.batches") ++ Seq("streaming.files_per_batch" -> "count") ++
      Seq("streaming.latest_offset_ms", "streaming.get_batch_ms", "streaming.query_planning_ms",
        "streaming.add_batch_ms", "streaming.wal_commit_ms").map(_ -> "ms") ++
      s("streaming.gen_lag_s", "streaming.latency_tail_s") ++
      Seq("streaming.latency_tail_pct" -> "%", "streaming.late_frac" -> "ratio") ++
      n("spark.jobs", "spark.stages", "spark.tasks") ++ s("spark.cpu_s", "spark.gc_s") ++
      b("spark.spill_bytes") ++
      s("trace.wall_s", "trace.layer_sum_s", "trace.unattributed_s") ++
      Seq("trace.records_per_s" -> "rec/s", "trace.untraced_records_per_s" -> "rec/s",
        "trace.overhead_ratio" -> "ratio")

  val registry: Seq[(String, String)] = Registry.Queries.flatMap { q =>
    Seq(s"registry.$q.construct_s" -> "s", s"registry.$q.action_s" -> "s",
      s"registry.$q.jobs" -> "count", s"registry.$q.shuffle_bytes" -> "bytes")
  }

  val all: Seq[(String, String)] = static ++ registry

  /** Engine counters of one span tree. */
  def engine(t: Tally): Seq[(String, Double)] = Seq(
    "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
    "spark.tasks" -> t.tasks.toDouble, "spark.cpu_s" -> t.cpuNs / 1e9,
    "spark.gc_s" -> t.gcMs / 1e3, "spark.spill_bytes" -> t.spillBytes.toDouble)

  /** Every per-layer metric, in the fixed order, zero where not measured. */
  def complete(measured: Seq[(String, Double)]): Seq[Metric] = {
    val got = measured.toMap
    val unknown = got.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    all.map { case (name, unit) => Metric(name, got.getOrElse(name, 0.0), unit) }
  }
}
