package perfbench

/** One traced operation (an analytics row or an OLTP request): its window
  * and the harness spans inside it, as (layer, start, end). */
final case class TracedOp(kind: String, start: Double, end: Double,
                          children: Seq[(String, Double, Double)]) {
  def wall: Double = end - start
}

/** Turns traced operations into per-layer metrics. Spark jobs and planning
  * phases are attributed to the operation in whose window they started;
  * self time splits each window among the layers by `priority` (Spark jobs
  * first, then planning, then the harness layers in the order given), and
  * whatever no layer covers is the driver gap, so self times plus the gap
  * add up to the operation's wall time. */
object Layers {
  val SummaryMetrics: Seq[String] = Seq(
    "traced.op_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.jobs", "exec.tasks", "exec.job_wall_ms",
    "exec.task_cpu_ms", "driver.gap_ms")

  /** `prefix` names a phase whose metrics stay out of the summary line. */
  def report(r: Report, ops: Seq[TracedOp], harness: Seq[String], cores: Int,
             prefix: String = ""): Unit = {
    if (ops.isEmpty) return
    SparkProbe.drain()
    val n = ops.size.toLong
    val priority = Seq("exec", "catalyst") ++ harness
    val per = ops.map { op =>
      val share = SparkShare.in(op.start, op.end)
      val self = SelfTime.partition(op.start, op.end,
        share.intervals ++ op.children, priority, "driver.gap")
      (op, share, self)
    }
    def mean(f: ((TracedOp, SparkShare, Map[String, Double])) => Double) =
      per.map(f).sum / n
    def jobsSum(f: JobRec => Double) = mean(p => p._2.jobs.map(f).sum)
    val summary = SummaryMetrics.toSet
    def m(name: String, v: Double, unit: String): Unit =
      r.metric(prefix + name, v, unit, n, inSummary = prefix.isEmpty && summary(name))

    m("traced.op_ms", mean(_._1.wall), "ms")
    Seq("analysis", "optimization", "planning").foreach { ph =>
      m(s"catalyst.${ph}_ms", mean(_._2.phase(ph)), "ms")
    }
    m("exec.jobs", jobsSum(_ => 1.0), "count")
    m("exec.stages", jobsSum(_.stages.toDouble), "count")
    m("exec.tasks", jobsSum(_.tasks.toDouble), "count")
    m("exec.stage_wait_ms", jobsSum(_.stageWaitMs), "ms")
    m("exec.job_wall_ms", jobsSum(j => j.end - j.start), "ms")
    m("exec.task_run_ms", jobsSum(_.taskRunMs), "ms")
    m("exec.task_cpu_ms", jobsSum(_.taskCpuMs), "ms")
    m("exec.gc_ms", jobsSum(_.gcMs), "ms")
    val wallSum = per.map(_._2.jobs.map(j => j.end - j.start).sum).sum
    m("exec.utilization",
      if (wallSum > 0) per.map(_._2.jobs.map(_.taskRunMs).sum).sum / (wallSum * cores) else 0.0,
      "ratio")
    m("exec.input_bytes", jobsSum(_.inputBytes.toDouble), "B")
    m("exec.shuffle_write_bytes", jobsSum(_.shuffleWriteBytes.toDouble), "B")
    m("exec.shuffle_read_bytes", jobsSum(_.shuffleReadBytes.toDouble), "B")
    m("exec.spill_bytes", jobsSum(_.spillBytes.toDouble), "B")
    (priority :+ "driver.gap").foreach { l =>
      val name = if (l == "driver.gap") "driver.gap_ms" else s"self.${l}_ms"
      m(name, mean(_._3(l)), "ms")
    }
    // the partition is exact by construction; this states it per run
    m("self.residual_ms", per.map { case (op, _, self) =>
      math.abs(self.values.sum - op.wall) }.max, "ms")
  }

  /** Codegen compile time and count over the whole run, set-up and check
    * pass included: the counters are process-wide and start at zero. */
  def codegen(r: Report, ops: Long): Unit = {
    val (ns, count) = SparkProbe.codegen()
    r.metric("codegen.compile_s", ns / 1e9, "s", ops, inSummary = true)
    r.metric("codegen.compiles", count.toDouble, "count", ops, inSummary = true)
  }
}
