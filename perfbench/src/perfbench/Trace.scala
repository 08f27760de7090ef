package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events and planning tracker use, so spans from
  * the harness and from Spark line up. `op` is the row or request the span
  * belongs to; `parent` is the enclosing span's id (0 = none). */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** In-memory span recorder. Disabled (the untraced runs), `span` only runs
  * its body. Spans are written out once, at the end of the run. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[A](name: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = Clock.nowMs()
      try body
      finally {
        spans.add(Span(id, parent, name, op, t0, Clock.nowMs()))
        stack.set(stack.get.tail)
      }
    }

  def newId(): Int = ids.incrementAndGet()

  /** Add a span timed by the caller; `id` comes from [[newId]], so children
    * can name a parent recorded after them. */
  def add(id: Int, parent: Int, name: String, op: String, start: Double, end: Double): Unit =
    if (enabled) spans.add(Span(id, parent, name, op, start, end))

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""")
        .append(s""""op":${Json.str(s.op)},"start_ms":${s.start},"end_ms":${s.end}}""")
        .append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds at nanoTime resolution. */
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

object SelfTime {
  /** Split the interval [start, end] among layers. Each instant goes to
    * the covering interval whose layer comes first in `priority`, or to
    * `gap` when none covers it, so the returned times add up to
    * `end - start` exactly. */
  def partition(start: Double, end: Double, intervals: Seq[(String, Double, Double)],
                priority: Seq[String], gap: String): Map[String, Double] = {
    val rank = priority.zipWithIndex.toMap
    val clipped = intervals.flatMap { case (l, s, e) =>
      val (a, b) = (math.max(s, start), math.min(e, end))
      if (b > a) Some((l, a, b)) else None
    }
    val cuts = (Seq(start, end) ++ clipped.flatMap(i => Seq(i._2, i._3))).distinct.sorted
    val out = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val mid = (a + b) / 2
        val owner = clipped.filter(i => i._2 <= mid && mid < i._3)
          .map(_._1).sortBy(rank).headOption.getOrElse(gap)
        out(owner) += b - a
      case _ =>
    }
    (priority :+ gap).map(l => l -> out(l)).toMap
  }
}
