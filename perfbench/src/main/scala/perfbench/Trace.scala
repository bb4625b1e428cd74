package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. Times are epoch nanoseconds (see [[Clock]]); `parent`
  * is the id of the span that caused this one, -1 for a root; `op` ties the
  * spans of one benchmark operation together. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Epoch-nanosecond clock: monotonic between calls, and comparable with the
  * millisecond epoch timestamps that Spark's listener events carry. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpoch + (System.nanoTime() - baseNano)
  def fromMillis(ms: Long): Long = ms * 1000000L
}

/** In-memory span recorder. Spans are kept in memory while the benchmark
  * runs and written out at the end. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var op: Int = -1
  /** Id of the span that closed last. */
  var lastId: Int = -1

  def current: Int = open.headOption.getOrElse(-1)

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = current
    val start = Clock.now()
    open = id :: open
    try body
    finally {
      open = open.tail
      spans += Span(id, parent, op, name, start, Clock.now())
      lastId = id
    }
  }

  /** A span measured elsewhere (a listener event), under `parent`. */
  def add(name: String, parent: Int, start: Long, end: Long): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, op, name, start, math.max(start, end))
    id
  }

  def all: Seq[Span] = spans.toSeq
}

object Trace {
  /** Self time of each span: its duration minus the part of its interval
    * that its children cover. Children are clipped to the parent and their
    * overlaps counted once. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self seconds summed per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  def toJsonLines(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }
}
