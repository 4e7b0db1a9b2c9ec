package graft.perfbench

/** Exact top-k by squared L2 in double precision (ties broken by id) — the
 *  ground truth every recall figure is measured against. */
object Truth {

  /** For each query, the ids of its k nearest vectors among `ids`/`vecs`,
   *  and the distance of its nearest one. */
  def topK(queries: Array[Array[Float]], ids: Array[Long], vecs: Array[Array[Float]],
      k: Int): (Array[Array[Long]], Array[Double]) = {
    val out = new Array[Array[Long]](queries.length)
    val nearest = new Array[Double](queries.length)
    Par.foreach(queries.length) { qi =>
      val q = queries(qi)
      // bounded max-heap on (distance, id)
      val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
        (a: (Double, Long), b: (Double, Long)) =>
          if (a._1 != b._1) java.lang.Double.compare(b._1, a._1) else java.lang.Long.compare(b._2, a._2))
      var i = 0
      while (i < vecs.length) {
        val v = vecs(i)
        var s = 0.0; var d = 0
        while (d < q.length) { val x = q(d).toDouble - v(d).toDouble; s += x * x; d += 1 }
        if (heap.size < k) heap.add((s, ids(i)))
        else {
          val top = heap.peek()
          if (s < top._1 || (s == top._1 && ids(i) < top._2)) { heap.poll(); heap.add((s, ids(i))) }
        }
        i += 1
      }
      val sorted = heap.toArray(new Array[(Double, Long)](0))
        .sortBy { case (dd, id) => (dd, id) }
      out(qi) = sorted.map(_._2)
      nearest(qi) = sorted.head._1
    }
    (out, nearest)
  }

  /** Mean share of each truth list found in the matching result list. */
  def recall(results: Seq[Seq[Long]], truth: Seq[Array[Long]]): Double = {
    require(results.length == truth.length && truth.nonEmpty)
    results.zip(truth).map { case (r, t) => r.toSet.intersect(t.toSet).size.toDouble / t.length }
      .sum / truth.length
  }
}
