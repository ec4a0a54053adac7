package perfbench

/** The per-layer metrics of the traced run, named after the engine's
  * modules; `spark.plan` and `spark.exec` are the Spark host that the
  * engine's `plans` and `functions` rules run inside. Times and counts
  * are means per traced op unless the name says otherwise. */
object Layers {
  val Areas: Seq[String] = OperatorInventory.Areas

  val Names: Seq[(String, String)] = Seq(
    "op.wall_ms" -> "ms",
    "spark.plan.analysis_ms" -> "ms",
    "spark.plan.optimization_ms" -> "ms",
    "spark.plan.planning_ms" -> "ms",
    "spark.exec.job_ms" -> "ms",
    "driver.self_ms" -> "ms",
    "spark.exec.jobs" -> "count",
    "spark.exec.tasks" -> "count",
    "spark.exec.task_run_ms" -> "ms",
    "spark.exec.task_cpu_ms" -> "ms",
    "spark.exec.rows_read" -> "count",
    "spark.exec.bytes_read" -> "bytes",
    "spark.exec.shuffle_bytes" -> "bytes",
    "spark.exec.bytes_written" -> "bytes",
    "spark.exec.files_written" -> "count",
    "SnapshotLog.commits" -> "count",
    "SnapshotLog.log_files" -> "count",
    "SnapshotLog.log_bytes" -> "bytes",
    "SnapshotLog.versions_ms_first" -> "ms",
    "SnapshotLog.versions_ms_last" -> "ms",
    "SnapshotLog.manifest_ms_first" -> "ms",
    "SnapshotLog.manifest_ms_last" -> "ms",
    "SnapshotCatalog.files_selected_ratio" -> "ratio",
    "SnapshotCatalog.rows_read_per_row_returned" -> "ratio",
    "SnapshotCatalog.files_rewritten_per_dml" -> "count",
    "SnapshotCatalog.bytes_written_per_row_changed" -> "bytes",
    "MvRewrite.served_ratio" -> "ratio",
    "MvRewrite.bail_ms" -> "ms",
    "AnnRewrite.fired_ratio" -> "ratio",
    "sim.rows_scored_per_query" -> "count",
    "Stage.builds" -> "count",
    "Stage.bytes" -> "bytes",
    "jvm.gc_ms" -> "ms",
    "machine.cpu_anchor_s" -> "s",
    "trace.overhead_ratio" -> "ratio"
  ) ++ Areas.map(a => s"area.${a}_s" -> "s")

  private def mean(xs: Seq[OpTrace])(f: OpTrace => Double): Double =
    if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size

  def fromTraces(ts: Seq[OpTrace]): Map[String, Double] = {
    val m = mean(ts) _
    Map(
      "op.wall_ms" -> m(_.wallMs),
      "spark.plan.analysis_ms" -> m(_.analysisMs),
      "spark.plan.optimization_ms" -> m(_.optimizationMs),
      "spark.plan.planning_ms" -> m(_.planningMs),
      "spark.exec.job_ms" -> m(_.execMs),
      "driver.self_ms" -> m(_.driverMs),
      "spark.exec.jobs" -> m(_.jobs.toDouble),
      "spark.exec.tasks" -> m(_.tasks.toDouble),
      "spark.exec.task_run_ms" -> m(_.taskRunMs.toDouble),
      "spark.exec.task_cpu_ms" -> m(_.taskCpuMs),
      "spark.exec.rows_read" -> m(_.rowsRead.toDouble),
      "spark.exec.bytes_read" -> m(_.bytesRead.toDouble),
      "spark.exec.shuffle_bytes" -> m(_.shuffleBytes.toDouble),
      "spark.exec.bytes_written" -> m(_.bytesWritten.toDouble))
  }

  /** Mean self time per layer for each op kind; the layer columns of a row
    * add up to its wall column, to the millisecond. */
  def table(ts: Seq[OpTrace]): Seq[String] = {
    val head = f"  ${"layer self time (mean ms)"}%-26s ${"n"}%5s ${"wall"}%9s ${"analysis"}%9s " +
      f"${"optimize"}%9s ${"planning"}%9s ${"jobs"}%9s ${"driver"}%9s"
    def row(label: String, xs: Seq[OpTrace]): String = {
      val m = mean(xs) _
      f"  $label%-26s ${xs.size}%5d ${m(_.wallMs)}%9.2f ${m(_.analysisMs)}%9.2f ${m(_.optimizationMs)}%9.2f " +
        f"${m(_.planningMs)}%9.2f ${m(_.execMs)}%9.2f ${m(_.driverMs)}%9.2f"
    }
    head +: (ts.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, xs) => row(k, xs) } :+ row("all traced ops", ts))
  }
}
