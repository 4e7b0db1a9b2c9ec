package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

/**
 * Open-loop load: requests are due on a fixed schedule whatever the system
 * does, go to a bounded set of workers, and are timed from when they were
 * DUE, so a stall also charges the wait it imposes on later requests.
 */
object OpenLoop {

  final case class Outcome(dueNs: Long, startNs: Long, endNs: Long, ok: Boolean) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
    /** How late the generator sent this request. */
    def lateMs: Double = (startNs - dueNs) / 1e6
  }

  /** Due times of a constant-rate schedule over `seconds`, starting at t0. */
  def schedule(t0: Long, ratePerS: Double, seconds: Double): Array[Long] = {
    val n = math.max(1, math.round(ratePerS * seconds).toInt)
    val gap = 1e9 / ratePerS
    Array.tabulate(n)(i => t0 + math.round(i * gap))
  }

  /** Run `op(i)` for every due time on `workers` threads; each free worker
   *  takes the next request, waits until it is due, and runs it. */
  def run(due: Array[Long], workers: Int)(op: Int => Boolean): Array[Outcome] = {
    val out = new Array[Outcome](due.length)
    val next = new AtomicInteger(0)
    val threads = (0 until math.max(1, workers)).map { w =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < due.length) {
          var now = System.nanoTime()
          while (now < due(i)) { LockSupport.parkNanos(due(i) - now); now = System.nanoTime() }
          val ok = try op(i) catch { case _: Throwable => false }
          out(i) = Outcome(due(i), now, System.nanoTime(), ok)
          i = next.getAndIncrement()
        }
      }, s"perfbench-open-$w")
      t.start(); t
    }
    threads.foreach(_.join())
    out
  }

  final case class RateResult(rate: Double, n: Int, failed: Int, latency: Stats.Summary,
      lateP50Ms: Double, lateMaxMs: Double, backlogGrowing: Boolean, achievedPerS: Double)

  /** A backlog grows when the generator's lateness over the last quarter of
   *  requests exceeds both that of the first quarter and half the latency
   *  limit: requests queue faster than workers drain them. */
  def backlogGrowing(outcomes: Seq[Outcome], limitMs: Double): Boolean = {
    val q = math.max(1, outcomes.length / 4)
    val first = Stats.median(outcomes.take(q).map(_.lateMs))
    val last = Stats.median(outcomes.takeRight(q).map(_.lateMs))
    last > first && last > limitMs / 2
  }

  def summarize(rate: Double, outcomes: Seq[Outcome], limitMs: Double): RateResult =
    summarizeSegments(rate, Seq(outcomes), limitMs)

  /** One rate run as several separate segments, with other work between
   *  them: latency and lateness over every request, the backlog judged
   *  within each segment, the achieved rate over the segments' own spans. */
  def summarizeSegments(rate: Double, segments: Seq[Seq[Outcome]], limitMs: Double): RateResult = {
    val all = segments.flatten
    val lat = Stats.summarize(all.map(_.latencyMs))
    val late = all.map(_.lateMs)
    val span = segments.map(s => (s.map(_.endNs).max - s.map(_.dueNs).min) / 1e9).sum
    RateResult(rate, all.length, all.count(!_.ok), lat,
      Stats.median(late), late.max, segments.exists(backlogGrowing(_, limitMs)),
      all.count(_.ok) / span)
  }

  /** A rate meets the limit when nothing failed, its tail is within the
   *  limit and its backlog is not growing. */
  def meets(r: RateResult, limitMs: Double): Boolean =
    r.failed == 0 && r.latency.tail <= limitMs && !r.backlogGrowing

  /** The highest ladder rate that meets the limit (None: not even the lowest). */
  def bestRate(results: Seq[RateResult], limitMs: Double): Option[RateResult] =
    results.filter(meets(_, limitMs)).sortBy(_.rate).lastOption
}
