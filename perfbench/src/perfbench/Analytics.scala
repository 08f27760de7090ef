package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.ext.Stages

/** The analytics workloads: query rows from `SparkEntry.queries`, run one at
  * a time into the noop sink (the same timed action as `graft.Bench`), in a
  * seeded order per pass.
  *
  *  - `sql-ops`: the relational rows q01–q95. Most take a fraction of a
  *    second, so fixed per-query costs (planning, codegen, scheduling)
  *    dominate.
  *  - `llm-pipelines`: the pipeline rows x49–x116, with the shared-stage
  *    registry cleared before every pass so each pass pays the same
  *    shared builds. Time goes to `ext` pipelines and kernels.
  *
  * A run: set up a session several times (reported `setup_s` is the
  * median); a check pass that collects every row and compares it with the
  * committed fingerprint (it also compiles each row's generated code); then
  * timed passes, as many as `seconds` holds at the workload's nominal pass
  * time (at least [[MinPasses]]). The count depends on `seconds` only, never
  * on how fast a pass went: every run does the same work, so the JIT is
  * equally warm when runs are compared. */
object Analytics {
  type Query = (SparkSession, String) => DataFrame

  val SetupReps = 3
  val MinPasses = 3
  /** Nominal seconds per timed pass on 4 cores. */
  def passSeconds(workload: String): Double = if (workload == "sql-ops") 2.5 else 4.0

  /** The rows each workload runs: every eighth relational row and every
    * eleventh pipeline row, in name order (the pipeline rows include x54,
    * which builds a shared stage). The run budget buys either more rows or
    * more passes; more passes bring the JIT closer to steady state, which
    * is what makes runs agree. */
  def rows(workload: String): Seq[(String, Query)] = {
    val (family, stride) = if (workload == "sql-ops") ("q", 8) else ("x", 11)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(_._1.startsWith(family))
      .zipWithIndex.collect { case (q, i) if i % stride == 0 => q }
  }

  /** A row that always fails: `--self-test` adds it to show that a failed
    * row is counted, kept out of the medians and pushed into the tail. */
  val failingRow: (String, Query) =
    "selftest_fail" -> ((s: SparkSession, _: String) => s.sql("SELECT no_such_column FROM region"))

  private final case class Sample(name: String, pass: Int, ok: Boolean,
                                  start: Double, end: Double,
                                  buildStart: Double, buildEnd: Double) {
    def sec: Double = (end - start) / 1e3
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val expected = Fingerprint.load(ctx.expectedFile)
    val selected = rows(r.workload) ++ (if (ctx.selfTest) Seq(failingRow) else Nil)
    r.note("rows", selected.map(_._1).mkString(","))

    // ---- set-up: session + view registration, repeated
    val ensureTimes = Seq.newBuilder[Double]
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val s = ctx.spark.newSession()
      val t1 = System.nanoTime()
      Tables.ensure(s, ctx.dataDir)
      val t2 = System.nanoTime()
      ensureTimes += (t2 - t1) / 1e9
      (s, (t2 - t0) / 1e9)
    }
    r.metric("setup_s", Stats.median(setups.map(_._2)), "s", SetupReps,
      inSummary = !ctx.trace.enabled)
    if (ctx.trace.enabled)
      r.metric("tables.ensure_s", Stats.median(ensureTimes.result()), "s", SetupReps)

    r.progress("set up")
    // ---- check pass: every row collected and compared with its committed
    // fingerprint; this also compiles each row's generated code
    val spark = setups.last._1
    val c0 = System.nanoTime()
    selected.foreach { case (name, fn) =>
      try {
        val got = Fingerprint.of(fn(spark, ctx.dataDir).collect())
        expected.get(name) match {
          case Some(want) if want == got =>
          case Some(want) => r.fail(s"$name: fingerprint $got, expected $want")
          case None => r.fail(s"$name: no expected fingerprint")
        }
      } catch { case e: Throwable => r.fail(s"$name: ${firstLine(e)}") }
      spark.catalog.clearCache()
    }
    r.attempted += selected.size
    r.metric("check_pass_s", (System.nanoTime() - c0) / 1e9, "s", selected.size)
    Stages.clearShared()
    r.progress("check pass done")
    // ---- timed passes
    val rng = new scala.util.Random(ctx.seed)
    val samples = Seq.newBuilder[Sample]
    val sharedBuilds = Seq.newBuilder[Double]
    val passes = math.max(MinPasses, math.round(ctx.seconds / passSeconds(r.workload)).toInt)
    (1 to passes).foreach { pass =>
      if (r.workload == "llm-pipelines") Stages.clearShared()
      System.gc() // start each pass with a clean heap, outside the timed rows
      val b0 = Stages.sharedBuilds
      rng.shuffle(selected).foreach { case (name, fn) =>
        var b = (0.0, 0.0)
        val t0 = Clock.nowMs()
        val ok = try {
          ctx.trace.span("row", s"$name#$pass") {
            val bs = Clock.nowMs()
            val df = ctx.trace.span("build", s"$name#$pass")(fn(spark, ctx.dataDir))
            b = (bs, Clock.nowMs())
            df.write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Throwable => r.fail(s"$name pass $pass: ${firstLine(e)}"); false }
        samples += Sample(name, pass, ok, t0, Clock.nowMs(), b._1, b._2)
        // drop any cache a row made, outside the timed region
        spark.catalog.clearCache()
      }
      sharedBuilds += (Stages.sharedBuilds - b0).toDouble
    }
    val all = samples.result()
    r.progress(s"$passes timed passes done")
    r.attempted += all.size
    val good = all.filter(_.ok)

    if (!ctx.trace.enabled) {
      val passTotals = (1 to passes).map(p => good.filter(_.pass == p).map(_.sec).sum)
      val secs = good.map(_.sec)
      val withFailures = secs ++ all.filterNot(_.ok).map(_ => Double.PositiveInfinity)
      val (tail, pct) = Stats.tail(withFailures)
      r.metric("suite_s", Stats.median(passTotals), "s", passes)
      r.note("pass_totals_s", passTotals.map(t => f"$t%.2f").mkString(","))
      r.metric("row_tail_s", tail, "s", withFailures.size)
      r.note("row_tail_percentile", f"$pct%.1f")
      val p50 = if (secs.isEmpty) Double.PositiveInfinity else Stats.median(secs)
      r.metric("row_p50_s", p50, "s", secs.size)
      // gated figures: each row's best pass, which drops the first pass's
      // still-warming JIT and one-off stalls; a row that failed in any pass
      // counts as +infinity
      val best = all.groupBy(_.name).values.map { ss =>
        if (ss.forall(_.ok)) ss.map(_.sec).min else Double.PositiveInfinity
      }.toSeq
      r.metric("typical_ms", 1e3 * Stats.geomean(best), "ms", best.size, inSummary = true)
      r.metric("mean_op_ms", 1e3 * Stats.mean(best), "ms", best.size, inSummary = true)
      r.metric("trace_probe_ms", 1e3 * Stats.mean(secs), "ms", secs.size)
    } else {
      r.metric("stages.shared_builds", Stats.mean(sharedBuilds.result()), "count", passes)
      val ops = good.map { s =>
        TracedOp("row", s.start, s.end, Seq(("build", s.buildStart, s.buildEnd)))
      }
      Layers.report(r, ops, Seq("build"), ctx.cores)
      r.metric("trace_probe_ms", Stats.mean(ops.map(_.wall)), "ms", ops.size)
      // build-time query construction and the Stages jobs it starts
      val n = good.size.toLong
      r.metric("build.s", good.map(s => s.buildEnd - s.buildStart).sum / 1e3 / n, "s", n)
      val stageJobs = good.map(s => SparkProbe.jobsIn(s.buildStart, s.buildEnd))
      r.metric("stages.jobs", stageJobs.map(_.size).sum.toDouble / n, "count", n)
      r.metric("stages.s", stageJobs.map(_.map(j => j.end - j.start).sum).sum / 1e3 / n, "s", n)
      Layers.codegen(r, n)
    }
  }

  def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption().getOrElse("").take(200)

  /** Fingerprint every row of the suite on `dataDir` (regenerates the
    * committed expected file). */
  def writeFingerprints(spark: SparkSession, dataDir: String, out: java.nio.file.Path): Unit = {
    Tables.ensure(spark, dataDir)
    val fps = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val fp = Fingerprint.of(fn(spark, dataDir).collect())
      spark.catalog.clearCache()
      name -> fp
    }
    java.nio.file.Files.writeString(out, Fingerprint.render(fps))
  }
}
