package graft.perfbench

/** Per-layer metrics of a traced run, named after the engine's modules.
  * Times, counts and bytes are means per traced operation unless the name
  * says otherwise; a layer the workload does not reach reports 0. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "queries.construct_ms" -> "ms", "queries.construct_jobs" -> "count",
    "queries.construct_share" -> "ratio",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.action_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.sched_gap_ms" -> "ms",
    "exec.slot_util" -> "ratio",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.task_gc_ms" -> "ms", "exec.input_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "ops.cached_bytes_peak" -> "bytes", "ops.persist_leaked" -> "count",
    "catalog.resolve_ms" -> "ms", "catalog.call_ms" -> "ms",
    "sources.snapshot_ms" -> "ms", "sources.live_files" -> "count",
    "sources.dv_files" -> "count", "sources.read_bytes" -> "bytes",
    "sources.read_amp" -> "ratio",
    "io.files_added" -> "count", "io.files_removed" -> "count",
    "io.bytes_written" -> "bytes", "io.rewrite_bytes" -> "bytes",
    "io.manifest_bytes" -> "bytes", "io.compact_bytes_rewritten" -> "bytes",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
    "trace.overhead_frac" -> "ratio")

  private val unitOf = units.toMap
  def unit(name: String): String = unitOf(name)

  def metrics(run: Seq[Sample], traces: Seq[(Sample, OpTrace)], cores: Int,
              wl: Workload): Map[String, Double] = {
    val ts = traces.map(_._2)
    val n = math.max(1, ts.size).toDouble
    def mean(f: OpTrace => Double): Double = ts.map(f).sum / n
    val opMs = traces.map { case (s, _) => s.endMs - s.startMs }.sum
    val construct = ts.map(_.constructMs).sum
    val common = Map(
      "queries.construct_ms" -> construct / n,
      "queries.construct_jobs" -> mean(_.constructJobs.toDouble),
      "queries.construct_share" -> (if (opMs > 0) construct / opMs else 0.0),
      "catalyst.analysis_ms" -> mean(_.phasesMs.getOrElse("analysis", 0.0)),
      "catalyst.optimization_ms" -> mean(_.phasesMs.getOrElse("optimization", 0.0)),
      "catalyst.planning_ms" -> mean(_.phasesMs.getOrElse("planning", 0.0)),
      "exec.action_ms" -> mean(_.actionMs),
      "exec.jobs" -> mean(_.jobs.toDouble),
      "exec.stages" -> mean(_.stages.toDouble),
      "exec.tasks" -> mean(_.tasks.toDouble),
      "exec.sched_gap_ms" -> mean(_.schedGapMs),
      "exec.slot_util" ->
        (if (opMs > 0) ts.map(_.taskRunMs).sum / (opMs * cores) else 0.0),
      "exec.task_run_ms" -> mean(_.taskRunMs),
      "exec.task_cpu_ms" -> mean(_.taskCpuMs),
      "exec.task_gc_ms" -> mean(_.taskGcMs),
      "exec.input_bytes" -> mean(_.inputBytes.toDouble),
      "exec.shuffle_read_bytes" -> mean(_.shuffleReadBytes.toDouble),
      "exec.shuffle_write_bytes" -> mean(_.shuffleWriteBytes.toDouble),
      "exec.spill_bytes" -> mean(_.spillBytes.toDouble),
      "ops.cached_bytes_peak" ->
        (if (ts.isEmpty) 0.0 else ts.map(_.cachedBytes).max.toDouble),
      "ops.persist_leaked" -> ts.map(_.persistDelta).sum.toDouble,
      "jvm.gc_ms" -> mean(_.gcMs.toDouble),
      "jvm.gc_count" -> mean(_.gcCount.toDouble),
      "trace.overhead_frac" -> overhead(run))
    val table = wl.layerMetrics(traces)
    units.map { case (k, _) =>
      k -> table.getOrElse(k, common.getOrElse(k, 0.0)) }.toMap
  }

  /** Tracing overhead: over the operations run both traced and untraced,
    * the geometric mean of (traced median / untraced median), minus one. */
  def overhead(run: Seq[Sample]): Double = {
    val ratios = run.filter(_.ok).groupBy(_.name).values.flatMap { ss =>
      val (t, u) = ss.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds)))
    }.toSeq
    if (ratios.isEmpty) 0.0 else Stats.geomean(ratios) - 1.0
  }
}
