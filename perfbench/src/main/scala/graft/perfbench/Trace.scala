package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval. `parent` is the id of the enclosing span (0 for a
  * root); `op` is the id of the benchmark op it belongs to (0 for none).
  * Times are `System.nanoTime` readings. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, op: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are appended from any thread and read
  * once at the end of a run; nothing is written until then. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = spans.add(s): Unit

  /** Time `body` as a span named `name` and return its result. */
  def span[T](name: String, parent: Long, op: Long, id: Long = nextId())(
      body: => T): T = {
    val t0 = System.nanoTime()
    try body finally record(Span(id, name, t0, System.nanoTime(), parent, op))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))
}

object Trace {

  /** Self time of every span: its duration minus the part of it covered
    * by its children. Children may overlap each other (stages of one
    * job run concurrently) and may spill past the parent's bounds
    * (listener events arrive late), so coverage is the measure of the
    * union of the children's intervals clipped to the parent. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = kids.getOrElse(s.id, Nil).flatMap { c =>
        val a = math.max(c.startNs, s.startNs)
        val b = math.min(c.endNs, s.endNs)
        if (b > a) Some((a, b)) else None
      }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      clipped.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }

  /** Total self time per span name, in seconds. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id)).sum / 1e9
    }
  }

  def toJson(spans: Seq[Span]): String = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${(s.startNs - t0) / 1000},""" +
        s""""end_us":${(s.endNs - t0) / 1000},"parent":${s.parent},"op":${s.op}}"""
    }.mkString("[", ",\n", "]")
  }
}
