package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, report: Report, trace: Trace,
                     dataDir: String, expectedFile: Path, outDir: Path,
                     seed: Long, seconds: Int, cores: Int, selfTest: Boolean)

/** Entry point of the benchmark JVM (started by `perfbench/run.py`).
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cores <n> --data <dir> --expected <file> --out <dir>
  *                [--self-test]
  * perfbench.Main --write-fingerprints <file> --data <dir> --cores <n> --out <dir>
  * }}}
  *
  * Prints every metric as a bare JSON line, then the summary line, whose
  * `correct` is false when any operation failed or returned a wrong
  * answer (each one is also named on standard error). */
object Main {
  val Workloads = Seq("sql-ops", "llm-pipelines", "oltp-mixed")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val cores = args("cores").toInt
    val out = Paths.get(args("out")).toAbsolutePath
    val traced = args.get("trace").contains("1")
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the suite compiles far more classes than the 100-entry default
      // cache holds (see graft.Bench)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
    if (traced)
      b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    System.err.println(s"[perfbench] session up after ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) SparkProbe.install(spark)

    args.get("write-fingerprints") match {
      case Some(file) =>
        Analytics.writeFingerprints(spark, args("data"), Paths.get(file))
        spark.stop()
        return
      case None =>
    }

    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val report = new Report(workload, seed, cores, traced)
    val trace = new Trace(traced)
    val ctx = Ctx(spark, report, trace, args("data"), Paths.get(args("expected")),
      out, seed, args("seconds").toInt, cores, args.contains("self-test"))
    try workload match {
      case "sql-ops" | "llm-pipelines" => Analytics.run(ctx)
      case "oltp-mixed" => Oltp.run(ctx)
    } catch {
      case e: Throwable =>
        report.attempted += 1
        report.fail(s"run aborted: ${Analytics.firstLine(e)}")
        e.printStackTrace()
    }
    val attempted = math.max(1L, report.attempted)
    report.metric("failed_frac", report.failed.toDouble / attempted, "ratio", attempted)
    report.metric("rss_peak_mb", rssPeakMb(), "MB", 1)
    if (traced) trace.write(out.resolve(s"spans-$workload-c$cores.jsonl"))
    report.metricLines.foreach(println)
    println(report.summaryLine)
    spark.stop()
    report.progress("stopped")
    // the HTTP server's worker pool is not daemonic; end the JVM here
    sys.exit(0)
  }

  /** VmHWM of this process: the peak resident set. */
  def rssPeakMb(): Double = {
    val status = java.nio.file.Files.readAllLines(Paths.get("/proc/self/status"))
    status.toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def parse(args: List[String]): Map[String, String] = args match {
    case Nil => Map.empty
    case "--self-test" :: rest => parse(rest) + ("self-test" -> "1")
    case k :: v :: rest if k.startsWith("--") => parse(rest) + (k.drop(2) -> v)
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }
}
