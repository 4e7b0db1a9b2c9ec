package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One timed call. `layer` is the name's prefix before the first dot
 *  (`index.collectHits` → `index`); spans of one request share `trace`. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/**
 * In-memory span recorder. Disabled, every method just runs its body, so
 * the untraced run pays one branch per call. Spans nest per thread: a span
 * opened while another is open on the same thread becomes its child.
 */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // (trace, span id) of the innermost open span on this thread
  private val current = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  private val paused = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private def on: Boolean = enabled && !paused.get()

  /** Run `body` on this thread with recording off: the untraced reference
   *  the tracing overhead is measured against. */
  def suspended[A](body: => A): A = {
    val was = paused.get()
    paused.set(true)
    try body finally paused.set(was)
  }

  /** A new request: a root span with a fresh trace id. */
  def request[A](name: String)(body: => A): A =
    if (!on) body else open(name, root = true)(body)

  /** A child span of the innermost open span (a root when none is open). */
  def span[A](name: String)(body: => A): A =
    if (!on) body else open(name, root = false)(body)

  private def open[A](name: String, root: Boolean)(body: => A): A = {
    val stack = current.get()
    val id = ids.incrementAndGet()
    val (trace, parent) =
      if (root || stack.isEmpty) (id, 0L) else (stack.head._1, stack.head._2)
    current.set((trace, id) :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(trace, id, parent, name, t0, System.nanoTime()))
      current.set(stack)
    }
  }

  def all: Seq[Span] = {
    val b = Vector.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }
}

object Trace {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its interval
   *  its direct children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).filter(_.trace == s.trace)
      s.id -> (s.durNs - coveredNs(ch.map(c => (c.startNs, c.endNs)), s.startNs, s.endNs))
    }.toMap
  }

  /** Per layer: self time summed over each trace, then the median over
   *  the traces that have the layer (ms). */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> Stats.median(ss.groupBy(_.trace).values.map(_.map(s => self(s.id)).sum / 1e6))
    }
  }

  /** Per span name: median duration (ms). */
  def medianMsByName(spans: Seq[Span]): Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(_.durNs / 1e6)) }
}
