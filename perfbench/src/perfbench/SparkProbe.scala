package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the Spark listeners saw, per job, with task metrics summed. */
final case class JobRec(id: Int, start: Double, end: Double, stages: Int,
                        tasks: Long, taskRunMs: Double, taskCpuMs: Double,
                        gcMs: Double, stageWaitMs: Double, inputBytes: Long,
                        shuffleWriteBytes: Long, shuffleReadBytes: Long,
                        spillBytes: Long)

/** Planning phases of one query execution (epoch ms). */
final case class PlanRec(phases: Map[String, (Double, Double)]) {
  def start: Double = phases.values.map(_._1).min
}

/** Listener-based recorder for the Spark side of a traced run: a
  * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for the planning tracker's phases. The listener bus delivers events
  * asynchronously, so attribution to rows and requests happens after the
  * run, by time window ([[drain]] first). */
object SparkProbe extends SparkListener {
  private final class StageAcc(val submitted: Double) {
    var firstLaunch = Double.MaxValue
    var tasks = 0L; var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var input = 0L; var shW = 0L; var shR = 0L; var spill = 0L
  }
  private val jobStart = new ConcurrentHashMap[Int, (Double, Seq[Int])]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  @volatile private var pending = 0

  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    pending += 1
    jobStart.put(e.jobId, (e.time.toDouble, e.stageIds))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val t = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs())
    stages.putIfAbsent(e.stageInfo.stageId, new StageAcc(t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc(e.taskInfo.launchTime))
    acc.firstLaunch = math.min(acc.firstLaunch, e.taskInfo.launchTime.toDouble)
    acc.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      acc.runMs += m.executorRunTime
      acc.cpuMs += m.executorCpuTime / 1e6
      acc.gcMs += m.jvmGCTime
      acc.input += m.inputMetrics.bytesRead
      acc.shW += m.shuffleWriteMetrics.bytesWritten
      acc.shR += m.shuffleReadMetrics.totalBytesRead
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, stageIds) =>
      val accs = stageIds.flatMap(id => Option(stages.remove(id)))
      def sum(f: StageAcc => Double) = accs.map(f).sum
      jobs.add(JobRec(e.jobId, t0, e.time.toDouble, accs.size,
        accs.map(_.tasks).sum, sum(_.runMs), sum(_.cpuMs), sum(_.gcMs),
        accs.filter(_.firstLaunch < Double.MaxValue)
          .map(a => math.max(0.0, a.firstLaunch - a.submitted)).sum,
        accs.map(_.input).sum, accs.map(_.shW).sum, accs.map(_.shR).sum,
        accs.map(_.spill).sum))
    }
    pending -= 1
  }

  private[perfbench] def recordPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.collect {
      case (name, p) if name != "parsing" =>
        name -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    if (ph.nonEmpty) plans.add(PlanRec(ph))
  }

  /** Wait until every started job has ended and the bus has gone quiet. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val n = jobs.size + plans.size
      if (pending == 0 && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  def jobsIn(start: Double, end: Double): Seq[JobRec] =
    jobs.asScala.filter(j => j.start >= start && j.start < end).toSeq

  def plansIn(start: Double, end: Double): Seq[PlanRec] =
    plans.asScala.filter(p => p.start >= start && p.start < end).toSeq

  /** Codegen counters: total compile nanoseconds and number of compiles,
    * both process-wide and updated synchronously by the compiling thread. */
  def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Registered through `spark.sql.queryExecutionListeners` in traced runs,
  * so every session gets it, including the OLTP engine's private one. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    SparkProbe.recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    SparkProbe.recordPlan(qe)
}

/** The Spark jobs and planning phases that started in one operation's
  * window. */
final case class SparkShare(jobs: Seq[JobRec], plans: Seq[PlanRec]) {
  def phase(name: String): Double =
    plans.flatMap(_.phases.get(name)).map { case (a, b) => b - a }.sum
  def intervals: Seq[(String, Double, Double)] =
    jobs.map(j => ("exec", j.start, j.end)) ++
      plans.flatMap(_.phases.values.map { case (a, b) => ("catalyst", a, b) })
}

object SparkShare {
  def in(start: Double, end: Double): SparkShare =
    SparkShare(SparkProbe.jobsIn(start, end), SparkProbe.plansIn(start, end))
}
