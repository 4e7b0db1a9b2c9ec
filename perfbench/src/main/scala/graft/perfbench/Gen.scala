package graft.perfbench

/**
 * Seeded input generators. Every input the engine sees is made here from
 * the run's `--seed`; the same seed gives bit-identical inputs on any
 * thread count (each fixed-size chunk draws from its own stream, keyed by
 * seed, purpose and chunk index).
 */
object Gen {

  /** SplitMix64 finalizer: the stream key and the per-draw mixer. */
  def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic generator for one (seed, stream, chunk) triple:
   *  uniform and Box–Muller Gaussian draws from a SplitMix64 sequence. */
  final class Rng(seed: Long, stream: Long, chunk: Long) {
    private var state = mix64(mix64(mix64(seed) ^ stream) ^ chunk)
    private var spare = Double.NaN
    def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; mix64(state) }
    /** Uniform in [0, 1) with 53 random bits. */
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
    def nextGaussian(): Double =
      if (!spare.isNaN) { val s = spare; spare = Double.NaN; s }
      else {
        var u = nextDouble()
        while (u <= 0.0) u = nextDouble()
        val v = nextDouble()
        val r = math.sqrt(-2.0 * math.log(u))
        spare = r * math.sin(2 * math.Pi * v)
        r * math.cos(2 * math.Pi * v)
      }
  }

  // stream ids: one per purpose, so corpora and query sets never share draws
  private val CentersStream = 1L
  private val CorpusStream = 2L
  private val QueryStream = 3L
  private val AppendStream = 4L
  private val TopicStream = 5L
  private val DocStream = 6L

  private val Chunk = 4096

  /** Gaussian-mixture description: `k` centers ~ N(0, spread²) per dim,
   *  points = center + N(0, sigma²) per dim. */
  final case class Mixture(centers: Array[Array[Float]], sigma: Double) {
    def dim: Int = centers.head.length
    def k: Int = centers.length
  }

  def mixture(seed: Long, k: Int, dim: Int, spread: Double = 1.0,
      sigma: Double = 0.35): Mixture = {
    val r = new Rng(seed, CentersStream, 0)
    Mixture(Array.fill(k, dim)((r.nextGaussian() * spread).toFloat), sigma)
  }

  /** `n` points of `m` drawn from `stream` → (vectors, cluster of each). */
  private def draw(seed: Long, stream: Long, m: Mixture, n: Int)
      : (Array[Array[Float]], Array[Int]) = {
    val vecs = new Array[Array[Float]](n)
    val cl = new Array[Int](n)
    val nChunks = (n + Chunk - 1) / Chunk
    Par.foreach(nChunks) { c =>
      val r = new Rng(seed, stream, c)
      var i = c * Chunk
      val end = math.min(n, i + Chunk)
      while (i < end) {
        val j = r.nextInt(m.k)
        val ctr = m.centers(j)
        val v = new Array[Float](m.dim)
        var d = 0
        while (d < m.dim) { v(d) = (ctr(d) + r.nextGaussian() * m.sigma).toFloat; d += 1 }
        vecs(i) = v; cl(i) = j
        i += 1
      }
    }
    (vecs, cl)
  }

  /** Clustered vector corpus with ids 0 until n. */
  def corpus(seed: Long, m: Mixture, n: Int): (Array[Array[Float]], Array[Int]) =
    draw(seed, CorpusStream, m, n)

  /** Vectors appended during ingest (ids continue after the base). */
  def appends(seed: Long, m: Mixture, n: Int): Array[Array[Float]] =
    draw(seed, AppendStream, m, n)._1

  /** `n` query vectors from the same mixture on their own stream. They are
   *  pairwise distinct and none equals a corpus vector (checked by the
   *  caller against the ground truth: a true distance of 0 fails). */
  def queries(seed: Long, m: Mixture, n: Int): (Array[Array[Float]], Array[Int]) = {
    val (q, cl) = draw(seed, QueryStream, m, n)
    val seen = new java.util.HashSet[java.util.List[java.lang.Float]]()
    q.foreach { v =>
      val key = java.util.Arrays.asList(v.map(java.lang.Float.valueOf): _*)
      require(seen.add(key), "query generator produced a repeated vector")
    }
    (q, cl)
  }

  // ------------------------------------------------------------- text

  private val Vocab: Array[String] = {
    val r = new Rng(0L, TopicStream, 0)
    val letters = "abcdefghiklmnoprstuvw"
    Array.tabulate(4000) { _ =>
      val len = 4 + r.nextInt(6)
      (0 until len).map(_ => letters.charAt(r.nextInt(letters.length))).mkString
    }.distinct
  }
  private val EnStop = Array("the", "a", "of", "and", "is", "to", "in", "that", "it", "for")
  private val FrStop = Array("le", "les", "des", "est", "et", "que", "pour", "dans", "une")

  /** Topic words of one mixture cluster: 6 vocabulary words fixed by (seed, cluster). */
  def topicWords(seed: Long, cluster: Int): Array[String] = {
    val r = new Rng(seed, TopicStream, 1000L + cluster)
    Array.fill(6)(Vocab(r.nextInt(Vocab.length)))
  }

  /** Short per-row text: three of the row's cluster topic words plus two
   *  filler words, so BM25 and the vector side agree on the cluster. */
  def rowText(seed: Long, clusters: Array[Int]): Array[String] = {
    val topics = clusters.distinct.map(c => c -> topicWords(seed, c)).toMap
    val out = new Array[String](clusters.length)
    val nChunks = (clusters.length + Chunk - 1) / Chunk
    Par.foreach(nChunks) { c =>
      val r = new Rng(seed, TopicStream, 2000000L + c)
      var i = c * Chunk
      val end = math.min(clusters.length, i + Chunk)
      while (i < end) {
        val t = topics(clusters(i))
        out(i) = Seq(t(r.nextInt(6)), t(r.nextInt(6)), t(r.nextInt(6)),
          Vocab(r.nextInt(Vocab.length)), Vocab(r.nextInt(Vocab.length))).mkString(" ")
        i += 1
      }
    }
    out
  }

  /** Document kinds in the curate corpus, with their shares. */
  object DocKind extends Enumeration {
    val Clean, NearDup, Foreign, Repetitive = Value
  }
  final case class DocShares(nearDup: Double = 0.10, foreign: Double = 0.10,
      repetitive: Double = 0.05)

  /** English-like documents of 60–120 words. `nearDup` share: a copy of an
   *  earlier clean document with 2 words replaced (Jaccard of 3-shingles
   *  well above 0.6); `foreign`: French stopwords instead of English;
   *  `repetitive`: one bigram repeated for the whole document. */
  def docs(seed: Long, n: Int, shares: DocShares = DocShares())
      : (Array[String], Array[DocKind.Value]) = {
    val text = new Array[String](n)
    val kind = new Array[DocKind.Value](n)
    val r = new Rng(seed, DocStream, 0) // sequential: near-dups copy earlier docs
    def words(len: Int, stop: Array[String]): Array[String] =
      Array.tabulate(len) { i =>
        if (i % 3 == 1) stop(r.nextInt(stop.length)) else Vocab(r.nextInt(Vocab.length))
      }
    val clean = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < n) {
      val u = r.nextDouble()
      val len = 60 + r.nextInt(61)
      if (u < shares.nearDup && clean.nonEmpty) {
        val src = text(clean(clean.length - 1 - r.nextInt(math.min(clean.length, 50))))
        val w = src.split(' ')
        var e = 0
        while (e < 2) { w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)); e += 1 }
        text(i) = w.mkString(" "); kind(i) = DocKind.NearDup
      } else if (u < shares.nearDup + shares.foreign) {
        text(i) = words(len, FrStop).mkString(" "); kind(i) = DocKind.Foreign
      } else if (u < shares.nearDup + shares.foreign + shares.repetitive) {
        val a = Vocab(r.nextInt(Vocab.length)); val b = Vocab(r.nextInt(Vocab.length))
        text(i) = Iterator.fill(len / 2)(s"the $a $b").mkString(" ")
        kind(i) = DocKind.Repetitive
      } else {
        text(i) = words(len, EnStop).mkString(" ") + "."; kind(i) = DocKind.Clean
        clean += i
      }
      i += 1
    }
    (text, kind)
  }
}
