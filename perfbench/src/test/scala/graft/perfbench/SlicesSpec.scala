package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SlicesSpec extends AnyFunSuite {

  test("an overrun shortens the next slice of the same kind only") {
    var now = 0L
    val s = new Slices(budgetNs = 1000, rounds = 2, clock = () => now)
    var a = 0; var b = 0
    // round 0: "a" may use 0.5·1000/2 = 250; one step of 400 overruns it
    s.run("a", 0.5, 0)(_ => false) { now += 400; a += 1 }
    s.run("b", 0.5, 0)(_ => false) { now += 100; b += 1 }
    assert(a == 1 && b == 3 && s.used("a") == 400 && s.used("b") == 300)
    // round 1: "a" is owed 500 in total, so one more step of 400 (to 800)
    s.run("a", 0.5, 1)(_ => false) { now += 400; a += 1 }
    s.run("b", 0.5, 1)(_ => false) { now += 100; b += 1 }
    assert(a == 2 && b == 5 && s.used("b") == 500)
  }

  test("a kind that is ahead runs only while `more` asks for it") {
    var now = 0L
    val s = new Slices(budgetNs = 100, rounds = 1, clock = () => now)
    s.run("a", 1.0, 0)(_ => false) { now += 500 }
    var n = 0
    s.run("a", 1.0, 0)(_ => false) { n += 1 }
    assert(n == 0)
    s.run("a", 1.0, 0)(steps => steps < 2) { n += 1 }
    assert(n == 2)
  }
}
