package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite
import OpenLoop.Outcome

class OpenLoopSpec extends AnyFunSuite {
  private val ms = 1000000L

  test("latency runs from the due time, lateness from due to start") {
    val o = Outcome(dueNs = 100 * ms, startNs = 130 * ms, endNs = 150 * ms, ok = true)
    assert(o.latencyMs == 50.0)
    assert(o.lateMs == 30.0)
  }

  test("a stall charges its wait to the requests queued behind it") {
    // one worker, 10 ms apart; request 0 stalls for 100 ms
    val due = OpenLoop.schedule(0, 100, 0.1)
    assert(due.toSeq == (0 until 10).map(_ * 10 * ms))
    var t = 0L
    val outs = due.indices.map { i =>
      val start = math.max(t, due(i))
      val end = start + (if (i == 0) 100 * ms else 1 * ms)
      t = end
      Outcome(due(i), start, end, ok = true)
    }
    assert(outs(1).lateMs == 90.0)
    assert(outs(1).latencyMs == 91.0)
    assert(outs.last.lateMs > 0)
  }

  test("backlog growth and the rate that meets the limit") {
    def outs(lateMs: Int => Double) = (0 until 40).map { i =>
      val due = i * 10 * ms
      val start = due + (lateMs(i) * ms).toLong
      Outcome(due, start, start + 2 * ms, ok = true)
    }
    val steady = outs(_ => 0.5)
    val growing = outs(i => i * 3.0)
    assert(!OpenLoop.backlogGrowing(steady, limitMs = 50))
    assert(OpenLoop.backlogGrowing(growing, limitMs = 50))
    val r1 = OpenLoop.summarize(100, steady, 50)
    val r2 = OpenLoop.summarize(200, growing, 50)
    assert(OpenLoop.meets(r1, 50) && !OpenLoop.meets(r2, 50))
    assert(OpenLoop.bestRate(Seq(r1, r2), 50).map(_.rate).contains(100.0))
    val failing = OpenLoop.summarize(50, steady.updated(3, steady(3).copy(ok = false)), 50)
    assert(failing.failed == 1 && !OpenLoop.meets(failing, 50))
  }

  test("segments: achieved rate over their own spans, backlog judged per segment") {
    def seg(t0: Long, lateMs: Int => Double) = (0 until 40).map { i =>
      val due = t0 + i * 10 * ms
      val start = due + (lateMs(i) * ms).toLong
      Outcome(due, start, start + 2 * ms, ok = true)
    }
    // two 0.4 s segments 10 s apart: 80 requests over 0.8 s, not 10.4 s
    val a = seg(0, _ => 0.5)
    val b = seg(10000 * ms, _ => 0.5)
    val r = OpenLoop.summarizeSegments(100, Seq(a, b), 50)
    assert(r.n == 80 && r.failed == 0 && !r.backlogGrowing)
    assert(math.abs(r.achievedPerS - 80 / 0.785) < 1e-6) // each spans 392.5 ms
    // a backlog that grows within one segment counts, even though lateness
    // across the joined segments would read as shrinking
    val grows = OpenLoop.summarizeSegments(100, Seq(seg(0, i => i * 3.0), b), 50)
    assert(grows.backlogGrowing && !OpenLoop.meets(grows, 50))
    assert(OpenLoop.summarize(100, a, 50) == OpenLoop.summarizeSegments(100, Seq(a), 50))
  }

  test("run dispatches every request, none before it is due") {
    val t0 = System.nanoTime() + 2 * ms
    val due = OpenLoop.schedule(t0, 500, 0.05)
    val outs = OpenLoop.run(due, workers = 2)(_ => true)
    assert(outs.length == due.length && outs.forall(_.ok))
    assert(outs.forall(o => o.startNs >= o.dueNs && o.endNs >= o.startNs))
  }
}
