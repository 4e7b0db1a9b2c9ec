package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs; another seed different ones") {
    val m1 = Gen.mixture(7, 8, 16); val m2 = Gen.mixture(7, 8, 16)
    assert(m1.centers.map(_.toSeq).toSeq == m2.centers.map(_.toSeq).toSeq)
    val (a, ca) = Gen.corpus(7, m1, 9000)
    val (b, cb) = Gen.corpus(7, m2, 9000)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq && ca.toSeq == cb.toSeq)
    val (c, _) = Gen.corpus(8, Gen.mixture(8, 8, 16), 9000)
    assert(a.head.toSeq != c.head.toSeq)
    assert(Gen.rowText(7, ca).toSeq == Gen.rowText(7, cb).toSeq)
    assert(Gen.docs(7, 500)._1.toSeq == Gen.docs(7, 500)._1.toSeq)
  }

  test("query sets are distinct from each other and from the corpus") {
    val m = Gen.mixture(3, 8, 16)
    val (corpus, _) = Gen.corpus(3, m, 2000)
    val (q, _) = Gen.queries(3, m, 500)
    assert(q.map(_.toSeq).distinct.length == q.length)
    val cs = corpus.map(_.toSeq).toSet
    assert(!q.exists(v => cs.contains(v.toSeq)))
    val (_, nearest) = Truth.topK(q.take(20), Array.tabulate(2000)(_.toLong), corpus, 5)
    assert(nearest.forall(_ > 0.0))
  }

  test("document shares are near the stated ones") {
    val (text, kinds) = Gen.docs(11, 4000)
    def share(k: Gen.DocKind.Value) = kinds.count(_ == k).toDouble / kinds.length
    assert(math.abs(share(Gen.DocKind.NearDup) - 0.10) < 0.02)
    assert(math.abs(share(Gen.DocKind.Foreign) - 0.10) < 0.02)
    assert(math.abs(share(Gen.DocKind.Repetitive) - 0.05) < 0.02)
    assert(text.forall(_.nonEmpty))
  }

  test("ground truth is the exact top-k, ties broken by id") {
    val vecs = Array(Array(0f, 0f), Array(1f, 0f), Array(0f, 1f), Array(3f, 3f))
    val (t, near) = Truth.topK(Array(Array(0f, 0f)), Array(10L, 11L, 12L, 13L), vecs, 3)
    assert(t.head.toSeq == Seq(10L, 11L, 12L))
    assert(near.head == 0.0)
    assert(Truth.recall(Seq(Seq(10L, 12L, 99L)), t.toSeq) == 2.0 / 3)
  }
}
