package perfbench

import scala.collection.mutable

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample. A failed operation enters as +infinity, so one
    * failure among the last ten pushes the tail to infinity. Returns the
    * percentile too, so the report can state it. Below 11 samples there is
    * no such percentile and the maximum is reported. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0)
    else {
      val idx = s.size - 11
      (s(idx), 100.0 * (idx + 1) / s.size)
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Geometric mean: every operation counts by its ratio, so one slow
    * operation cannot dominate. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.PositiveInfinity else math.exp(xs.map(math.log).sum / xs.size)
}

/** Collects one run's metrics. Every metric prints as a bare JSON line
  * (name, value, unit, workload, sample count); the metrics named in
  * BENCHMARK.json also go into the final summary line, which is the last
  * line of standard output. */
final class Report(val workload: String, val seed: Long, val cores: Int,
                   val traced: Boolean) {
  private val lines = mutable.ArrayBuffer[String]()
  private val summary = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L

  /** Record an operation that failed or returned a wrong answer. */
  def fail(what: String): Unit = synchronized {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what")
  }

  def metric(name: String, value: Double, unit: String, samples: Long,
             inSummary: Boolean = false): Unit = synchronized {
    lines += s"""{"name":${Json.str(name)},"value":${Json.num(value)},""" +
      s""""unit":${Json.str(unit)},"workload":${Json.str(workload)},""" +
      s""""samples":$samples,"seed":$seed,"cores":$cores,"trace":${if (traced) 1 else 0}}"""
    if (inSummary) summary(name) = (value, unit)
  }

  /** Progress on standard error, with seconds since the JVM started. */
  def progress(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  def note(key: String, value: String): Unit = synchronized {
    lines += s"""{"note":${Json.str(key)},"value":${Json.str(value)},""" +
      s""""workload":${Json.str(workload)},"seed":$seed}"""
  }

  def metricLines: Seq[String] = synchronized(lines.toList)

  def summaryLine: String = synchronized {
    val ms = summary.map { case (k, (v, u)) =>
      // the summary holds numbers only: a tail that holds a failure
      // (+infinity) prints as the largest double
      val finite = if (v.isInfinite) Double.MaxValue else v
      s"""${Json.str(k)}:{"value":${Json.num(finite)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$ms}"""
  }
}

object Json {
  def str(s: String): String = graft.command.Json.escapeQ(s)

  /** Full precision; non-finite values (a tail holding a failure) print as
    * the string "inf" rather than invalid JSON. */
  def num(d: Double): String =
    if (d.isNaN) "\"nan\""
    else if (d.isInfinite) (if (d > 0) "\"inf\"" else "\"-inf\"")
    else java.lang.Double.toString(d)
}
