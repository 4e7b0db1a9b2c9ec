package graft.perfbench

/** Latency summaries: the median, and the tail as the highest percentile
 *  that still has at least ten samples beyond it. */
object Stats {

  val MinBeyond = 10

  /** Nearest-rank percentile of an ascending array (p in (0, 100]). */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(p / 100.0 * sorted.length - 1e-9).toInt
    sorted(math.min(sorted.length, math.max(1, rank)) - 1)
  }

  /** Samples strictly beyond the nearest-rank p-th percentile of n samples. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Highest percentile of n samples with ≥ [[MinBeyond]] samples beyond it:
   *  the sample of rank n − 10, i.e. percentile 100·(n − 10)/n. With ten
   *  samples or fewer no percentile qualifies; the tail is then the maximum
   *  (reported as percentile 100). */
  def tailPercentile(n: Int): Double =
    if (n > MinBeyond) 100.0 * (n - MinBeyond) / n else 100.0

  final case class Summary(n: Int, p50: Double, tailP: Double, tail: Double)

  def summarize(xs: Iterable[Double]): Summary = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Summary(0, 0, 0, 0)
    else {
      val tp = tailPercentile(s.length)
      Summary(s.length, percentile(s, 50), tp, percentile(s, tp))
    }
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else percentile(xs.toArray.sorted, 50)
}
