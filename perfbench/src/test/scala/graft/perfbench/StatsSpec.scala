package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    for (n <- 11 to 5000) {
      val p = Stats.tailPercentile(n)
      assert(Stats.beyond(n, p) >= Stats.MinBeyond, s"n=$n p=$p")
      // and it is the highest such percentile: one more rank leaves nine
      assert(Stats.beyond(n, p + 100.0 / n) < Stats.MinBeyond, s"n=$n p=$p")
    }
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(40) == 75.0)
  }

  test("with ten samples or fewer the tail is the maximum") {
    assert(Stats.tailPercentile(10) == 100.0)
    val s = Stats.summarize(Seq(5.0, 1.0, 3.0))
    assert(s.tail == 5.0 && s.tailP == 100.0 && s.p50 == 3.0)
  }

  test("the tail is the sample of rank n - 10") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val s = Stats.summarize(xs)
    assert(s.n == 100 && s.tailP == 90.0)
    assert(s.tail == 90.0)
    assert(s.p50 == 50.0)
  }

  test("nearest-rank percentile and median") {
    val a = Array(1.0, 2.0, 3.0, 4.0)
    assert(Stats.percentile(a, 50) == 2.0)
    assert(Stats.percentile(a, 100) == 4.0)
    assert(Stats.percentile(a, 1) == 1.0)
    assert(Stats.median(Seq(9.0, 7.0)) == 7.0)
    assert(Stats.median(Nil) == 0.0)
  }
}
