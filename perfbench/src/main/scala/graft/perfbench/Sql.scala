package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import graft.index.Ann
import graft.plans.AnnRewrittenMarker
import graft.search.Hybrid

/**
 * `sql`: SQL text through `spark.sql` against one IVF-Flat index: the
 * rewritten `ORDER BY array_distance(...) LIMIT 10`, `hybrid_search`, and
 * `ann_search_table` with 512 queries per statement. Every statement runs
 * Spark jobs (row fetch-back, BM25, the table search's grid join); the
 * single-query top-k search itself is served from ExactServe's driver cache,
 * since the index's vectors sit under its default budget at this size.
 */
object Sql {
  val N = 8192
  val Dim = 128
  val Clusters = 64
  val K = 10
  val Nprobe = 16
  val TableQueries = 512
  val RecallQueries = 30
  val RecallFloor = 0.85
  val Index = "sql_ivf"
  /** The measured time is split into rounds, each with a slice of every
   *  statement shape, so each gated metric samples the whole run, not one
   *  window of it (see [[Serve.Rounds]]). Shares of --seconds: */
  val Rounds = 4
  val TopkShare = 0.30
  val HybridShare = 0.25
  val TableShare = 0.45
  /** Length of the unrecorded warm-up pass of the mix, after set-up. */
  val WarmSeconds = 10.0

  def sqlVec(q: Array[Float]): String = q.mkString("CAST(array(", ",", ") AS ARRAY<FLOAT>)")

  def topkSql(q: Array[Float], table: String = "corpus"): String =
    s"SELECT id, array_distance(embedding, ${sqlVec(q)}) AS dist FROM $table ORDER BY dist LIMIT $K"

  def hybridSql(q: Array[Float], text: String, table: String = "corpus",
      index: String = Index): String =
    s"SELECT id, _rrf_score FROM hybrid_search('$table', '$index', 'embedding', 'id', " +
      s"${sqlVec(q)}, '$text', $K, 'text')"

  def tableSql(view: String, table: String = "corpus", index: String = Index): String =
    s"SELECT qid, id, _distance FROM ann_search_table('$view', '$table', '$index', $K)"

  def rewritten(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case f: Filter => f.condition.exists(_.isInstanceOf[AnnRewrittenMarker])
      case _ => false
    }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spark = ctx.spark
    import spark.implicits._
    val rep = ctx.report

    // ---- inputs: corpus with a topic-word text column, as parquet ----
    val path = s"${ctx.workDir}/sql_corpus"
    val ((corpus, queries, qClusters), genS) = timed {
      val m = Gen.mixture(seed, Clusters, Dim)
      val (v, cl) = Gen.corpus(seed, m, N)
      val text = Gen.rowText(seed, cl)
      spark.createDataFrame(spark.sparkContext.parallelize(
          v.indices.map(i => (i.toLong, v(i), text(i))), cores))
        .toDF("id", "embedding", "text").write.parquet(path)
      val (q, qc) = Gen.queries(seed, m, 24000)
      (v, q, qc)
    }
    spark.read.parquet(path).createOrReplaceTempView("corpus")
    val ids = Array.tabulate(N)(_.toLong)
    val qSql = 0; val qHyb = 4000; val qTab = 6000; val qWarm = 11500
    val qWarmRun = 12000; val qWarmTable = 14000 // warm-up pass: top-k, hybrid (+1,000), tables
    val (truthSql, nearSql) = Truth.topK(queries.slice(qSql, qSql + RecallQueries), ids, corpus, K)
    val (truthTab, nearTab) = Truth.topK(queries.slice(qTab, qTab + RecallQueries), ids, corpus, K)
    rep.named("gen.corpus_s") = (genS, "s")
    checkThat("queries_distinct_from_corpus", (nearSql ++ nearTab).forall(_ > 0.0),
      "a query vector equals a corpus vector")
    val live: Long => Boolean = id => id >= 0 && id < N
    def queryText(i: Int): String = Gen.topicWords(seed, qClusters(i)).take(3).mkString(" ")
    def queryView(name: String, from: Int): Unit =
      queries.slice(from, from + TableQueries).toSeq.zipWithIndex
        .map { case (q, j) => (j.toLong, q) }.toDF("qid", "qvec").createOrReplaceTempView(name)

    ctx.log("set-up")
    // ---- set-up: index build + warm-up of each statement shape ----
    val builds = ArrayBuffer.empty[Double]
    val setups = (0 until setupRounds).map { r =>
      timed {
        val (_, b) = timed(Ann.buildIndexFactory(spark.read.parquet(path), "embedding", "id",
          Index, s"IVF${math.sqrt(N).round},Flat", Ann.BuildParams(nprobe = Nprobe)))
        builds += b
        val w = qWarm + r
        spark.sql(topkSql(queries(w))).collect()
        spark.sql(hybridSql(queries(w), queryText(w))).collect()
        queryView("q_warm", qWarm - 64 * (r + 1))
        spark.sql(tableSql("q_warm")).collect()
      }._2
    }
    rep.e2e("setup_s") = (Stats.median(setups), "s")
    rep.layer("index.build_s.ivfflat") = (Stats.median(builds), "s")
    val meta = graft.index.IndexCatalog.load(Ann.root(spark), Index)
    val bytes = dirBytes(new java.io.File(graft.index.IndexCatalog.indexDir(Ann.root(spark), Index)))
    rep.layer("index.bytes_on_disk") = (bytes.toDouble, "bytes")
    rep.named("space_amp") = (bytes.toDouble / (N.toLong * Dim * 4), "ratio")
    rep.info("index.exact_serve_budget_bytes") = graft.index.ExactServe.maxBytes(spark)
    rep.info("index.exact_serve_eligible") = graft.index.ExactServe.eligible(spark, meta)

    val plan = Array.fill(5)(ArrayBuffer.empty[Double]) // parse, analyze, optimize, physical, exec
    var rewrites = 0; var statements = 0
    val untraced = ArrayBuffer.empty[Double]
    val sqlLat = ArrayBuffer.empty[Double]
    val sqlHits = ArrayBuffer.empty[Seq[Long]]
    val hybLat = ArrayBuffer.empty[Double]
    val tableS = ArrayBuffer.empty[Double]
    var tabRecall = 0.0
    val roundEnds = ArrayBuffer.empty[(Int, Int, Int)]

    /** [[Rounds]] rounds of rewritten top-k, `hybrid_search` and
     *  `ann_search_table` statements over `secs`, on queries from `sqlQ`,
     *  `hybQ` and `tabQ` on. Every statement is checked (the rewrite rate
     *  too); only a measured pass records latencies. */
    def mix(secs: Double, sqlQ: Int, hybQ: Int, tabQ: Int, measured: Boolean): Unit = {
      val slices = new Slices((secs * 1e9).toLong, Rounds)
      var i = sqlQ; var h = hybQ; var call = 0
      for (r <- 0 until Rounds) {
        if (measured) ctx.log(s"round $r")
        val last = r == Rounds - 1
        // ---- rewritten top-k statements ----
        slices.run("sql", TopkShare, r)(_ => measured && last && i - sqlQ < RecallQueries) {
          val q = queries(i)
          var df: DataFrame = null
          ctx.op("sql") {
            tracer.span("plans.sql") {
              df = spark.sql(topkSql(q))
              df.collect()
            }
          }(rows => Checks.hits(Checks.rowHits(rows), K, live)).foreach { case (rows, ms) =>
            if (measured) {
              sqlLat += ms
              if (i - sqlQ < RecallQueries) sqlHits += rows.map(_.getLong(0)).toSeq
            }
          }
          if (df != null) {
            statements += 1
            if (rewritten(df)) rewrites += 1
            if (measured && ctx.traced) planPhases(ctx, df, plan)
          }
          if (measured && ctx.traced)
            untraced += untracedMs(spark.sql(topkSql(queries(3000 + (i - sqlQ) % 1000))).collect())
          i += 1
        }
        // ---- hybrid_search statements ----
        slices.run("hybrid", HybridShare, r)(_ => h == hybQ) {
          val q = queries(h); val text = queryText(h)
          ctx.op("hybrid") {
            tracer.span("search.hybrid_search")(spark.sql(hybridSql(q, text)).collect())
          }(rows => hybridCheck(rows, live)).foreach { case (_, ms) => if (measured) hybLat += ms }
          if (measured && ctx.traced) hybridProbes(ctx, q, text)
          h += 1
        }
        // ---- ann_search_table statements, 512 distinct queries each ----
        slices.run("table", TableShare, r)(_ => call == 0) {
          queryView("q_batch", tabQ + call * TableQueries)
          ctx.op("table") {
            tracer.span("plans.ann_search_table")(spark.sql(tableSql("q_batch")).collect())
          }(rows => Serve.tableCheck(rows, TableQueries, live)).foreach { case (rows, ms) =>
            if (measured) {
              tableS += ms / 1e3
              if (call == 0) tabRecall = Truth.recall(Serve.byQuery(rows, RecallQueries), truthTab.toSeq)
            }
          }
          call += 1
        }
        if (measured) roundEnds += ((sqlLat.length, hybLat.length, tableS.length))
      }
    }

    ctx.log("warm-up")
    // ---- warm-up: the same mix, unrecorded, on queries of its own, so most
    // JIT compilation is done before timing (without it statement latency
    // fell by a fifth from the first round to the last) ----
    rep.info("warm_s") = timed(mix(WarmSeconds, qWarmRun, qWarmRun + 1000, qWarmTable, measured = false))._2
    // ---- the measured mix ----
    mix(seconds, qSql, qHyb, qTab, measured = true)
    rep.byRound("sql", sqlLat.toSeq, roundEnds.map(_._1).toSeq)
    rep.byRound("hybrid", hybLat.toSeq, roundEnds.map(_._2).toSeq)
    rep.byRound("table", tableS.toSeq, roundEnds.map(_._3).toSeq)

    val sqlSum = Stats.summarize(sqlLat)
    rep.latency("sql", sqlSum)
    traceOverhead(sqlSum.p50, untraced)
    rep.e2e("p50_ms") = (sqlSum.p50, "ms")
    val rewriteRate = if (statements > 0) rewrites.toDouble / statements else 0.0
    rep.layer("plans.rewrite_rate") = (rewriteRate, "ratio")
    rep.info("plans.rewrite_rate") = rewriteRate
    checkThat("rewrite_rate", rewriteRate == 1.0,
      s"$rewrites of $statements top-k statements were rewritten to the index scan")
    rep.layer("plans.query_repeat_share") = (0.0, "ratio")
    // means, not medians: Spark's tracker reports whole milliseconds, and the
    // median of whole milliseconds hides changes smaller than one
    Seq("parse", "analyze", "optimize", "physical", "exec").zip(plan).foreach { case (n, xs) =>
      if (xs.nonEmpty) rep.layer(s"plans.${n}_ms") = (xs.sum / xs.length, "ms")
    }

    val hyb = Stats.summarize(hybLat)
    rep.latency("hybrid", hyb)
    rep.e2e("aux_p50_ms") = (hyb.p50, "ms")

    // median statement, so one statement caught by a GC pause or a burst of
    // host load does not move it
    val tableCallS = Stats.median(tableS)
    val tableQps = if (tableCallS > 0) TableQueries / tableCallS else 0.0
    rep.e2e("throughput_per_s") = (tableQps, "1/s")
    rep.named("table_qps") = (tableQps, "queries/s")
    rep.layer("index.table_search_s.ivfflat") = (tableCallS, "s")
    rep.info("table.calls") = tableS.length
    rep.info("table.call_s") = tableS.toSeq

    val recall = if (sqlHits.length == RecallQueries) Truth.recall(sqlHits.toSeq, truthSql.toSeq) else 0.0
    rep.named("recall_at10") = (recall, "ratio")
    rep.info("table.recall_at10") = tabRecall
    checkThat("recall_floor", recall >= RecallFloor && tabRecall >= RecallFloor,
      f"recall@10 sql $recall%.4f table $tabRecall%.4f below floor $RecallFloor")
    rep.info("query_repeat_share") = 0.0

    // the text layer rides on this workload's traced run (the curate
    // workload is too slow per operation to be steady in a short run)
    if (ctx.traced) {
      ctx.log("text layer")
      val docs = CurateWl.docsFrame(ctx, Gen.docs(seed, CurateWl.Docs, CurateWl.Shares)._1)
      CurateWl.warmPass(docs)
      CurateWl.textLayer(ctx, docs)
      docs.unpersist()
    }
  }

  /** k rows, fused score descending, ids live. */
  def hybridCheck(rows: Array[Row], live: Long => Boolean): Option[String] = {
    val s = rows.map(_.getDouble(1))
    if (rows.length != K) Some(s"expected $K rows, got ${rows.length}")
    else if (s.zip(s.drop(1)).exists { case (a, b) => b > a }) Some("rows not sorted by _rrf_score")
    else rows.find(r => !live(r.getLong(0))).map(r => s"id ${r.getLong(0)} is not in the live set")
  }

  /** Spark's planning phases of a finished statement (its own
   *  QueryPlanningTracker), plus its execution time as the benchmark's
   *  QueryExecutionListener saw it (ms). */
  def planPhases(ctx: Ctx, df: DataFrame, acc: Array[ArrayBuffer[Double]]): Unit = {
    val phases = df.queryExecution.tracker.phases
    val names = Seq("parsing", "analysis", "optimization", "planning")
    names.zipWithIndex.foreach { case (n, j) =>
      phases.get(n).foreach { p =>
        acc(j) += p.durationMs.toDouble
      }
    }
    ctx.tap.flatMap(_.execNs(df.queryExecution)).foreach(ns => acc(4) += ns / 1e6)
  }

  /** The three hybrid stages, each materialized on its own (traced run only). */
  def hybridProbes(ctx: Ctx, q: Array[Float], text: String): Unit = {
    import ctx._
    tracer.request("probe.hybrid") {
      val corpus = spark.table("corpus")
      val bm = tracer.span("search.bm25Ranks") {
        val d = Hybrid.bm25Ranks(corpus, "text", "id", Hybrid.queryTerms(text), 100)
        d.collect(); d
      }
      val vr = tracer.span("search.annVectorRanks") {
        val d = Hybrid.annVectorRanks(spark, Index, q, 100)
        d.collect(); d
      }
      tracer.span("search.rrfFuse")(Hybrid.rrfFuse(bm, vr, K).collect())
    }
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length
}
