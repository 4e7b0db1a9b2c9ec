package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, name: String, s: Long, e: Long, trace: Long = 1) =
    Span(trace, id, parent, name, s, e)

  test("self time subtracts the children's covered interval") {
    val spans = Seq(
      span(1, 0, "bench.point", 0, 100),
      span(2, 1, "index.searchHits", 10, 40),
      span(3, 1, "index.catalog", 50, 60),
      span(4, 2, "core.shardSearch", 15, 35))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 30 - 10)
    assert(self(2) == 30 - 20)
    assert(self(3) == 10)
    assert(self(4) == 20)
  }

  test("overlapping children count once and are clipped to the parent") {
    val spans = Seq(
      span(1, 0, "bench.op", 100, 200),
      span(2, 1, "core.a", 90, 150),  // starts before the parent
      span(3, 1, "core.b", 120, 170), // overlaps a
      span(4, 1, "core.c", 190, 260)) // ends after the parent
    assert(Trace.selfTimes(spans)(1) == 100 - 70 - 10)
  }

  test("covered length of an interval union") {
    assert(Trace.coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Trace.coveredNs(Seq((0L, 10L)), 5, 8) == 3)
    assert(Trace.coveredNs(Nil, 0, 10) == 0)
  }

  test("spans of another trace are not children") {
    val spans = Seq(span(1, 0, "bench.a", 0, 10, trace = 1), span(2, 1, "core.x", 0, 10, trace = 2))
    assert(Trace.selfTimes(spans)(1) == 10)
  }

  test("per-layer self time sums within a request and takes the median across requests") {
    val spans = Seq(
      span(1, 0, "bench.point", 0, 10, trace = 1), span(2, 1, "index.a", 0, 4, trace = 1),
      span(3, 1, "index.b", 5, 7, trace = 1),
      span(4, 0, "bench.point", 0, 10, trace = 4), span(5, 4, "index.a", 0, 8, trace = 4))
    val by = Trace.selfMsByLayer(spans)
    assert(by("index") == 6 / 1e6) // traces: 6 ns and 8 ns; nearest-rank median 6
    assert(by("bench") == 2 / 1e6)
  }

  test("the tracer nests spans per thread and does nothing when disabled") {
    val t = new Tracer(enabled = true)
    t.request("bench.r")(t.span("index.x")(t.span("core.y")(())))
    val s = t.all
    val byName = s.map(x => x.name -> x).toMap
    assert(byName("index.x").parent == byName("bench.r").id)
    assert(byName("core.y").parent == byName("index.x").id)
    assert(s.map(_.trace).distinct.size == 1)
    val off = new Tracer(enabled = false)
    assert(off.request("bench.r")(42) == 42 && off.all.isEmpty)
  }
}
