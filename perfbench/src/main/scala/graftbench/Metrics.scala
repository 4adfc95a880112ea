package graftbench

import Stats.{geomean, median, quantile}

/** End-to-end metrics, from the untraced passes. The gated timings are CPU
  * seconds ([[Cpu.programSeconds]]): on a shared 4-vCPU host, the wall time
  * of a pass grows by up to 1.9 times in the minutes when the host takes
  * vCPUs away, far more on `corpus_mix` than any count of passes can even
  * out. Wall times are reported by the traced run ([[EndToEnd.wall]]).
  */
object EndToEnd {

  /** Median of `f` for each operation over `passes`, with its sample count. */
  private def perOp(passes: Seq[PassRec])(f: OpResult => Option[Double]): Map[String, (Double, Int)] =
    passes.flatMap(_.ops).groupBy(_.name).map { case (n, ops) =>
      val s = ops.flatMap(f)
      n -> (median(s), s.size)
    }

  /** Median wall seconds of each operation over `passes`, by operation name. */
  def opMedians(passes: Seq[PassRec]): Map[String, (Double, Int)] = perOp(passes)(_.seconds)

  /** Median CPU seconds of each operation over `passes`, by operation name. */
  def opCpuMedians(passes: Seq[PassRec]): Map[String, (Double, Int)] = perOp(passes)(_.cpuSeconds)

  def metrics(setupS: Double, passes: Seq[PassRec], liveHeapMb: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s", Main.SetupRounds),
    Metric("pass_cpu_s", median(passes.map(_.cpuSeconds)), "s", passes.size),
    Metric("query_cpu_geomean_s", geomean(opCpuMedians(passes).values.map(_._1).toSeq), "s", passes.size),
    Metric("live_heap_mb", liveHeapMb, "MB", 1))

  /** The wall-time counterparts; `series_per_s` is 0 on `corpus_mix`. */
  def wall(w: Workload, passes: Seq[PassRec]): Seq[Metric] = {
    val passS = median(passes.map(_.seconds))
    Seq(
      Metric("series_per_s", if (w.seriesPerPass == 0) 0.0 else w.seriesPerPass / passS, "series/s", passes.size),
      Metric("pass_s", passS, "s", passes.size),
      Metric("query_geomean_s", geomean(opMedians(passes).values.map(_._1).toSeq), "s", passes.size))
  }
}

/** Per-layer metrics, from the traced passes, the serial pass and the
  * listener records. Spark, Catalyst, streaming and I/O figures are summed
  * over the operations of one pass; the reported value is the median over
  * the run's traced passes.
  */
object Layers {

  private def inAny(ops: Seq[Span], t: Double): Boolean = ops.exists(s => s.start <= t && t <= s.end)

  /** The listener's records of one pass, kept when they start inside one of
    * the pass's operation spans (so output checks and drain jobs between
    * operations are left out).
    */
  final case class PassLayers(ops: Seq[Span], l: LayerListener) {
    val tasks = l.tasks.toSeq.filter(t => inAny(ops, t.launch))
    val jobs = l.jobs.toSeq.filter(j => inAny(ops, j.start))
    val stages = l.stages.toSeq.filter(s => inAny(ops, s.start))
    val phases = l.phases.toSeq.filter(p => inAny(ops, p.start))
    val batches = l.batches.toSeq.filter(b => inAny(ops, b.start))

    /** Wall time of each operation not covered by any of its stages. */
    def driverOnlyS: Double = ops.map { op =>
      val covered = stages.filter(s => s.start >= op.start && s.start <= op.end)
        .map(s => (math.max(s.start, op.start), math.min(s.end, op.end)))
      op.duration - SpanMath.unionLength(covered)
    }.sum / 1000.0

    /** Slowest over median task run time, in the stage with the most task time. */
    def taskSkew: Double = {
      val byStage = tasks.groupBy(_.stageId)
      if (byStage.isEmpty) 0.0
      else {
        val busiest = byStage.values.maxBy(_.map(_.runMs).sum)
        val m = median(busiest.map(_.runMs.toDouble))
        if (m <= 0) 0.0 else busiest.map(_.runMs).max / m
      }
    }
  }

  def metrics(w: Workload, passes: Seq[PassRec], tracer: Tracer, spans: Seq[Span], l: LayerListener,
      serial: Seq[(PanelSpec, SerialStats)], skipped: Long, failedRatio: Double,
      calibStartMs: Double, calibEndMs: Double, peakRssMb: Double, cores: Int): Seq[Metric] = {
    val traced = passes.filter(p => p.traced && p.ok)
    val untraced = passes.filter(p => !p.traced && p.ok)
    val opSpans = tracer.operations.filterNot(_.name.startsWith("serial."))
    val per = traced.map(p => PassLayers(opSpans.filter(s => s.start >= p.start && s.end <= p.end), l))
    def m(name: String, unit: String)(f: PassLayers => Double): Metric =
      Metric(name, median(per.map(f)), unit, per.size)

    val ser = serial.flatMap(_._2.series)
    val reg = ser.filter(_.iters.isDefined)
    val evalMs = serial.flatMap(_._2.objectiveEvalMs)
    val serialPerS = if (ser.isEmpty) 0.0 else ser.size / (ser.map(_.runMs).sum / 1000.0)
    val wall = EndToEnd.wall(w, untraced)
    val seriesPerS = wall.head.value
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else quantile(xs, p)
    def spanSum(name: String)(p: PassLayers) =
      spans.filter(s => s.name == name && p.ops.exists(_.id == s.op)).map(_.duration).sum / 1000.0
    val opSelfShare = opSpans.filter(s => traced.exists(p => s.start >= p.start && s.end <= p.end))
      .map(s => SpanMath.selfTime(s, spans) / s.duration)

    wall ++ Seq(
      Metric("failed_ratio", failedRatio, "ratio", passes.flatMap(_.ops).size),
      Metric("disagg.prepare_ms_p50", q(ser.map(_.prepareMs), 0.5), "ms", ser.size),
      Metric("kernels.objective_evals", evalMs.size.toDouble, "count", reg.size),
      Metric("kernels.objective_ms_p50", q(evalMs, 0.5), "ms", evalMs.size),
      Metric("kernels.share",
        if (reg.isEmpty) 0.0 else reg.map(_.objectiveMs).sum / reg.map(_.runMs).sum, "ratio", reg.size),
      Metric("optimizer.iters_p50", q(reg.flatMap(_.iters).map(_.toDouble), 0.5), "count", reg.size),
      Metric("optimizer.iters_p99", q(reg.flatMap(_.iters).map(_.toDouble), 0.99), "count", reg.size),
      Metric("optimizer.iters_mean",
        if (reg.isEmpty) 0.0 else reg.flatMap(_.iters).sum.toDouble / reg.size, "count", reg.size),
      Metric("optimizer.evals_p99", q(reg.flatMap(_.evals).map(_.toDouble), 0.99), "count", reg.size),
      Metric("optimizer.converged_ratio",
        if (reg.isEmpty) 0.0 else reg.count(_.converged.contains(true)).toDouble / reg.size, "ratio", reg.size),
      Metric("serial.series_ms_p50", q(ser.map(_.runMs), 0.5), "ms", ser.size),
      Metric("serial.series_ms_p99", q(ser.map(_.runMs), 0.99), "ms", ser.size),
      Metric("serial.series_ms_max", ser.map(_.runMs).maxOption.getOrElse(0.0), "ms", ser.size),
      Metric("serial.series_per_s", serialPerS, "series/s", ser.size),
      Metric("parallel_efficiency",
        if (serialPerS == 0) 0.0 else seriesPerS / (serialPerS * cores), "ratio", untraced.size),
      m("spark.tasks", "count")(_.tasks.size.toDouble),
      m("spark.task_run_s", "s")(_.tasks.map(_.runMs).sum / 1000.0),
      m("spark.task_cpu_s", "s")(_.tasks.map(_.cpuNs).sum / 1e9),
      m("spark.task_gc_s", "s")(_.tasks.map(_.gcMs).sum / 1000.0),
      m("spark.task_deserialize_s", "s")(_.tasks.map(_.deserializeMs).sum / 1000.0),
      m("spark.shuffle_write_bytes", "bytes")(_.tasks.map(_.shuffleWrite).sum.toDouble),
      m("spark.shuffle_read_bytes", "bytes")(_.tasks.map(_.shuffleRead).sum.toDouble),
      m("spark.shuffle_fetch_wait_s", "s")(_.tasks.map(_.fetchWaitMs).sum / 1000.0),
      m("spark.spill_bytes", "bytes")(_.tasks.map(_.spill).sum.toDouble),
      m("spark.task_skew", "ratio")(_.taskSkew),
      Metric("many_series.skipped", skipped.toDouble, "count", passes.flatMap(_.ops).size),
      m("queries.build_s", "s")(spanSum("registry")),
      m("queries.exec_s", "s")(spanSum("noop_write")),
      m("catalyst.analysis_ms", "ms")(_.phases.map(_.analysisMs).sum),
      m("catalyst.optimization_ms", "ms")(_.phases.map(_.optimizationMs).sum),
      m("catalyst.planning_ms", "ms")(_.phases.map(_.planningMs).sum),
      m("spark.jobs", "count")(_.jobs.size.toDouble),
      m("spark.stages", "count")(_.stages.size.toDouble),
      m("spark.driver_only_s", "s")(_.driverOnlyS),
      m("streaming.batches", "count")(_.batches.size.toDouble),
      m("streaming.trigger_ms", "ms")(_.batches.map(_.triggerMs).sum.toDouble),
      m("streaming.add_batch_ms", "ms")(_.batches.map(_.addBatchMs).sum.toDouble),
      m("streaming.wal_commit_ms", "ms")(_.batches.map(_.walCommitMs).sum.toDouble),
      m("streaming.query_planning_ms", "ms")(_.batches.map(_.planningMs).sum.toDouble),
      m("fs.bytes_written", "bytes")(_.tasks.map(_.outputBytes).sum.toDouble),
      m("spark.input_bytes", "bytes")(_.tasks.map(_.inputBytes).sum.toDouble),
      Metric("jvm.gc_s", median(traced.map(_.gcS)), "s", traced.size),
      Metric("jvm.peak_rss_mb", peakRssMb, "MB", 1),
      Metric("host.calib_start_ms", calibStartMs, "ms", 1),
      Metric("host.calib_end_ms", calibEndMs, "ms", 1),
      Metric("trace.overhead_s", median(traced.map(_.seconds)) - median(untraced.map(_.seconds)), "s",
        traced.size + untraced.size),
      Metric("trace.op_self_share", median(opSelfShare), "ratio", opSelfShare.size))
  }
}
