package perfbench

/** Per-layer metrics of one traced iteration, named by module. */
object Layers {

  val Operators: Seq[String] =
    Seq("Dedup", "Decontaminate", "Repetition", "Heuristics", "Importance", "Sampling", "SequencePack", "Pipeline")

  /** Every per-layer metric, in report order; all workloads report all of
    * them (0 where a workload does not reach the layer).
    */
  def names: Seq[(String, String)] =
    Seq("session.start_s" -> "s") ++
      Seq("count", "scan", "write", "readback").map(p => s"sources.${p}_s" -> "s") ++
      Seq(
        "sources.scan_tasks" -> "count", "sources.write_tasks" -> "count", "sources.rows_read" -> "count",
        "sources.files" -> "count", "sources.bytes_written" -> "bytes", "sources.max_shard_bytes" -> "bytes",
        "sources.peak_heap_mb" -> "MB",
        "operators.checkpoint_bytes" -> "bytes"
      ) ++
      Operators.flatMap(o => Seq(s"operators.$o.busy_s" -> "s", s"operators.$o.jobs" -> "count")) ++
      Seq("functions.kernels_s" -> "s") ++
      GatesSmall.Gates.flatMap(g => Seq(s"catalog.$g.s" -> "s", s"catalog.$g.jobs" -> "count")) ++
      Seq(
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
        "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
        "spark.core_idle_frac" -> "ratio", "trace.overhead_s" -> "s"
      )

  /** Span name to metric name: `sources.count` -> `sources.count_s`,
    * `catalog.<gate>` -> `catalog.<gate>.s`.
    */
  def spanMetric(span: String): String =
    if (span.startsWith("catalog.")) s"$span.s" else s"${span}_s"

  /** Counters of one traced iteration. `wall` is its timed seconds. Jobs
    * outside every span (output checks) and jobs of trace-only spans are
    * left out of the `spark.*` and operator counters.
    */
  def of(spans: Seq[Span], jobs: Seq[JobRec], listener: JobListener, wall: Double, cores: Int): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach(s => m(spanMetric(s.name)) += s.seconds)
    val assigned = Attribution.assign(spans, jobs)
    def in(name: String) = assigned.collect { case (j, Some(s)) if s.name == name => j.sums }
    val scan = in("sources.scan")
    val write = in("sources.write")
    m("sources.scan_tasks") = scan.map(_.tasks).sum.toDouble
    m("sources.write_tasks") = write.map(_.tasks).sum.toDouble
    m("sources.rows_read") = write.map(_.inputRecords).sum.toDouble
    assigned.foreach {
      case (j, Some(s)) if s.name.startsWith("catalog.") => m(s"${s.name}.jobs") += 1
      case _ =>
    }
    val counted = assigned.collect { case (j, Some(s)) if !s.traceOnly => j }
    counted.foreach { j =>
      Attribution.operatorOf(listener.callSite(j)).foreach { op =>
        m(s"operators.$op.busy_s") += j.sums.runMs / 1e3
        m(s"operators.$op.jobs") += 1
      }
    }
    val t = counted.map(_.sums).foldLeft(TaskSums())(_ + _)
    m("spark.jobs") = counted.size.toDouble
    m("spark.stages") = counted.map(_.stages).sum.toDouble
    m("spark.tasks") = t.tasks.toDouble
    m("spark.task_run_s") = t.runMs / 1e3
    m("spark.task_cpu_s") = t.cpuNs / 1e9
    m("spark.gc_s") = t.gcMs / 1e3
    m("spark.shuffle_write_bytes") = t.shuffleWrite.toDouble
    m("spark.shuffle_read_bytes") = t.shuffleRead.toDouble
    m("spark.spill_bytes") = t.spill.toDouble
    m("spark.input_bytes") = t.inputBytes.toDouble
    m("spark.output_bytes") = t.outputBytes.toDouble
    m("spark.core_idle_frac") = 1.0 - (t.runMs / 1e3) / (wall * cores)
    m.toMap
  }
}
