package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.text.{Curate, TextOps}

/**
 * `curate`: the text pipeline over a seeded document corpus with stated
 * shares of near-duplicates, non-en/de text and repetitive text:
 * `Curate.report`, `TextOps.dedupByMinhash`, and connected components over
 * `TextOps.jaccardPairs`.
 */
object CurateWl {
  val Docs = 3000
  val Shares = Gen.DocShares(nearDup = 0.10, foreign = 0.10, repetitive = 0.05)
  val Cfg = Curate.Config(langs = Set("en", "de"))
  val MinJaccard = 0.6

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spark = ctx.spark
    val rep = ctx.report

    val ((text, kinds), genS) = timed(Gen.docs(seed, Docs, Shares))
    rep.named("gen.corpus_s") = (genS, "s")
    rep.info("docs.near_dup") = kinds.count(_ == Gen.DocKind.NearDup)
    rep.info("docs.foreign") = kinds.count(_ == Gen.DocKind.Foreign)
    rep.info("docs.repetitive") = kinds.count(_ == Gen.DocKind.Repetitive)

    ctx.log("set-up")
    // ---- set-up: the corpus as a cached DataFrame + one warm pass of each op ----
    var docs: DataFrame = null
    val setups = (0 until setupRounds).map { r =>
      timed {
        if (docs != null) docs.unpersist(blocking = true)
        docs = docsFrame(ctx, text)
        docs.count()
        warmPass(docs.where(col("id") % 8 === r))
      }._2
    }
    rep.e2e("setup_s") = (Stats.median(setups), "s")

    val budgetNs = (seconds * 1e9).toLong
    val reportLat = ArrayBuffer.empty[Double]
    val dedupLat = ArrayBuffer.empty[Double]
    val ccLat = ArrayBuffer.empty[Double]
    /** Repeat `body` until `share` of the budget has passed (at least once). */
    def phase(share: Double)(body: => Unit): Unit = {
      val end = System.nanoTime() + (budgetNs * share).toLong
      do body while (System.nanoTime() < end)
    }
    phase(0.5) {
      ctx.op("curate") {
        tracer.span("text.report") {
          val staged = Curate.taggedStaged(docs, "text", "id", Cfg)
          try Curate.reportOf(staged.df).collect() finally staged.release()
        }
      } { rows =>
        val total = rows.map(_.getLong(1)).sum
        if (total != Docs) Some(s"report counts sum to $total, expected $Docs")
        else None
      }.foreach { case (rows, ms) =>
        reportLat += ms
        rep.info("report") = rows.map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(",")
      }
    }
    phase(0.25) {
      ctx.op("curate") {
        tracer.span("text.dedupByMinhash")(
          TextOps.dedupByMinhash(docs, "text", "id", minJaccard = MinJaccard).count())
      }(n => if (n <= 0 || n > Docs) Some(s"dedup kept $n of $Docs") else None)
        .foreach { case (_, ms) => dedupLat += ms }
    }
    phase(0.25) {
      ctx.op("curate") {
        tracer.span("text.connectedComponents")(TextOps.connectedComponents(
          TextOps.jaccardPairs(docs, "text", "id", minJaccard = MinJaccard)).count())
      }(n => if (n < 0 || n > Docs) Some(s"$n component rows for $Docs docs") else None)
        .foreach { case (_, ms) => ccLat += ms }
    }
    if (ctx.traced) textLayer(ctx, docs)
    val rs = Stats.summarize(reportLat)
    rep.latency("curate_report", rs)
    rep.e2e("p50_ms") = (rs.p50, "ms")
    val ds = Stats.summarize(dedupLat)
    rep.latency("minhash_dedup", ds)
    rep.e2e("aux_p50_ms") = (ds.p50, "ms")
    rep.latency("connected_components", Stats.summarize(ccLat))
    val dps = Docs * reportLat.length / (reportLat.sum / 1e3)
    rep.e2e("throughput_per_s") = (dps, "1/s")
    rep.named("curate_docs_per_s") = (dps, "docs/s")
  }

  /** One warm-up pass of each measured op over `df`. */
  def warmPass(df: DataFrame): Unit = {
    val staged = Curate.taggedStaged(df, "text", "id", Cfg)
    try Curate.reportOf(staged.df).collect() finally staged.release()
    TextOps.dedupByMinhash(df, "text", "id", minJaccard = MinJaccard).count()
    TextOps.connectedComponents(TextOps.jaccardPairs(df, "text", "id", minJaccard = MinJaccard)).count()
  }

  /** The `text.*` per-layer metrics: each stage timed on its own over
   *  `docs`, median of two passes (traced runs). */
  def textLayer(ctx: Ctx, docs: DataFrame): Unit = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    (0 until 2).foreach(_ => probes(ctx, docs, acc))
    acc.foreach { case (m, xs) => ctx.report.layer(m) = (Stats.median(xs), "s") }
  }

  /** The seeded document corpus as a cached DataFrame (id, text). */
  def docsFrame(ctx: Ctx, text: Array[String]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
        text.indices.map(i => (i.toLong, text(i))), ctx.cores))
      .toDF("id", "text").cache()

  /** Each text stage timed on its own (traced run only). */
  def probes(ctx: Ctx, docs: DataFrame,
      acc: scala.collection.mutable.Map[String, ArrayBuffer[Double]]): Unit = {
    import ctx._
    // each stage is a "curate" operation: its Spark jobs are attributed to it
    def secs(name: String)(body: => Any): Double =
      ctx.op("curate")(tracer.span(name)(body))(_ => None).map(_._2 / 1e3).getOrElse(0.0)
    def put(m: String, v: Double): Unit = acc.getOrElseUpdate(m, ArrayBuffer.empty) += v
    put("text.gates_s", secs("text.gateSurvivors")(
      Curate.gateSurvivors(docs, "text", "id", Cfg).count()))
    put("text.minhash_dedup_s", secs("text.dedupByMinhash")(
      TextOps.dedupByMinhash(docs, "text", "id", minJaccard = MinJaccard).count()))
    var verified = 0L
    put("text.pairs_s", secs("text.jaccardPairs") {
      verified = TextOps.jaccardPairs(docs, "text", "id", minJaccard = MinJaccard).count()
    })
    val pairs = TextOps.jaccardPairs(docs, "text", "id", minJaccard = MinJaccard).cache()
    pairs.count()
    put("text.cc_s", secs("text.connectedComponents")(TextOps.connectedComponents(pairs).count()))
    pairs.unpersist()
    put("text.report_s", secs("text.report") {
      val staged = Curate.taggedStaged(docs, "text", "id", Cfg)
      try Curate.reportOf(staged.df).collect() finally staged.release()
    })
    val candidates = SparkTap.tagged(spark.sparkContext, "curate")(
      TextOps.candidatePairs(TextOps.signatures(docs, "text", "id")).count())
    ctx.report.layer("text.pair_precision") =
      (if (candidates > 0) verified.toDouble / candidates else 0.0, "ratio")
  }
}
