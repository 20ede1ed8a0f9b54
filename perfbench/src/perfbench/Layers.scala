package perfbench

/** Per-layer metrics of a traced run. Every metric is reported on every
  * workload; a layer the workload does not exercise reads 0.
  */
object Layers {

  /** Op kinds of the workloads' closed loops (probe ops are excluded). */
  private val Probe = "probe_"

  val Names: Seq[(String, String)] = Seq(
    "scd.merge_build_s" -> "s",
    "scd.lookup_s" -> "s",
    "scd.asof_s" -> "s",
    "scd.asof_join_s" -> "s",
    "plans.asof_join_native_s" -> "s",
    "catalog.time_travel_s" -> "s",
    "catalog.resolve_s" -> "s",
    "catalog.publish_s" -> "s",
    "catalog.bytes_written_per_merge" -> "B",
    "catalog.bytes_written_per_changed_row" -> "B",
    "catalog.stored_bytes_per_live_byte" -> "ratio",
    "catalog.files_per_version" -> "count",
    "catalog.rows_scanned_per_row_returned" -> "ratio",
    "catalog.delta_chain_length" -> "count",
    "streaming.batch_body_s" -> "s",
    "streaming.engine_overhead_s" -> "s",
    "streaming.batch_growth" -> "ratio",
    "streaming.resolve_build_s" -> "s",
    "streaming.resolve_exec_s" -> "s",
    "pipeline.gates_s" -> "s",
    "pipeline.gate_keep_ratio" -> "ratio",
    "dedup.lsh_add_batch_first_s" -> "s",
    "dedup.lsh_add_batch_last_s" -> "s",
    "dedup.pairs_per_candidate" -> "ratio",
    "spark.build_s" -> "s",
    "spark.actions_per_op" -> "count",
    "spark.planning_s" -> "s",
    "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.core_utilization" -> "ratio",
    "spark.shuffle_bytes_per_op" -> "B",
    "spark.spill_bytes_per_op" -> "B",
    "spark.gc_s_per_op" -> "s",
    "spark.failed_tasks" -> "count",
    // median, over top-level spans that reach the layer, of its self time
    "self.exec_s" -> "s",
    "self.scd_s" -> "s",
    "self.catalog_s" -> "s",
    "self.plans_s" -> "s",
    "self.streaming_s" -> "s",
    "self.pipeline_s" -> "s",
    "self.dedup_s" -> "s",
    "trace.overhead_frac" -> "ratio",
    "trace.incomplete_ops" -> "count")

  def compute(r: Run, t: SparkTrace): Seq[(String, String, Double)] = {
    val done = t.spans.filter(_.end >= 0)
    val ops = done.filter(s => s.layer == "op" && !s.name.startsWith(Probe) &&
      s.name != "ingest_end")
    val opWork = t.workByOp
    def med(xs: Iterable[Double]): Double = Main.median(xs.toSeq)
    def callP50(names: String*): Double =
      med(done.filter(s => names.contains(s.name)).map(_.seconds))
    def kindP50(kind: String): Double =
      med(r.samples.getOrElse(kind, Nil))
    def perOp(f: Work => Double): Double =
      if (ops.isEmpty) 0.0
      else ops.map(o => f(opWork.getOrElse(o.id, new Work))).sum / ops.size
    val execNs = done.filter(_.layer == "exec").groupBy(_.op)
      .map { case (op, ss) => op -> ss.map(s => s.end - s.start).sum }
    val opSeconds = ops.map(_.seconds).sum
    val rowsReturned = r.layerVals.get("rows_returned").map(_.sum).getOrElse(0.0)
    val readKinds = Set("lookup", "asof", "time_travel", "asof_join", "asof_join_native")
    val readScan = ops.filter(o => readKinds(o.name))
      .map(o => opWork.getOrElse(o.id, new Work).scanRows).sum
    val self = t.selfSeconds
    val traced = r.samples.values.flatten.toSeq
    val computed: Map[String, Double] = Map(
      "scd.merge_build_s" -> callP50("ScdMerge.merge"),
      "scd.lookup_s" -> kindP50("lookup"),
      "scd.asof_s" -> kindP50("asof"),
      "scd.asof_join_s" -> kindP50("asof_join"),
      "plans.asof_join_native_s" -> kindP50("asof_join_native"),
      "catalog.time_travel_s" -> kindP50("time_travel"),
      "catalog.resolve_s" -> callP50("ParquetCatalog.table", "ParquetCatalog.tableAsOfVersion"),
      "catalog.publish_s" -> callP50("ParquetCatalog.overwrite"),
      "catalog.rows_scanned_per_row_returned" ->
        (if (rowsReturned > 0) readScan / rowsReturned else 0.0),
      "streaming.resolve_build_s" -> callP50("StreamingCorpus.resolveSurvivors"),
      "streaming.resolve_exec_s" -> med(done.filter(s => s.layer == "exec" &&
        ops.exists(o => o.id == s.op && o.name == "resolve")).map(_.seconds)),
      "spark.build_s" -> (if (ops.isEmpty) 0.0 else
        ops.map(o => o.end - o.start - execNs.getOrElse(o.id, 0L)).sum / 1e9 / ops.size),
      "spark.actions_per_op" -> perOp(_.actions.toDouble),
      "spark.planning_s" -> perOp(_.planningNs / 1e9),
      "spark.jobs_per_op" -> perOp(_.jobs.toDouble),
      "spark.tasks_per_op" -> perOp(_.tasks.toDouble),
      "spark.core_utilization" -> (if (opSeconds > 0)
        ops.map(o => opWork.getOrElse(o.id, new Work).runMs).sum / 1e3 / (opSeconds * r.cpus)
        else 0.0),
      "spark.shuffle_bytes_per_op" -> perOp(_.shuffleBytes.toDouble),
      "spark.spill_bytes_per_op" -> perOp(_.spillBytes.toDouble),
      "spark.gc_s_per_op" -> perOp(_.gcMs / 1e3),
      "spark.failed_tasks" -> ops.map(o => opWork.getOrElse(o.id, new Work).failedTasks).sum.toDouble,
      "trace.overhead_frac" -> (if (traced.nonEmpty && r.untraced.nonEmpty)
        Main.median(traced) / Main.median(r.untraced.toSeq) - 1 else 0.0),
      "trace.incomplete_ops" -> t.drainTimeouts.toDouble
    ) ++ Seq("exec", "scd", "catalog", "plans", "streaming", "pipeline", "dedup")
      .map(l => s"self.${l}_s" -> med(self.collect { case ((_, `l`), v) => v }))
    Names.map { case (n, u) =>
      (n, u, computed.getOrElse(n, med(r.layerVals.getOrElse(n, Nil))))
    }
  }
}
