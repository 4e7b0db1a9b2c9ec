package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.index.{Ann, IndexCatalog, ShardCache}

/**
 * `serve`: one DiskANN index (4 heap-decoded shards) under point queries —
 * a closed loop and an open-loop rate ladder — and 512-query table
 * searches. Point queries start no Spark job.
 */
object Serve {
  val N = 16000
  val Dim = 128
  val Clusters = 64
  val Shards = 4
  val K = 10
  /** Open-loop ladder (requests/s) and the latency limit on its tail. */
  val Rates: Seq[Double] = Seq(50, 100, 200, 400)
  val LimitMs = 50.0
  /** The rate whose p50 is reported as `aux_p50_ms`. */
  val AuxRate = 100.0
  /** The measured time is split into rounds. Each round holds a slice of the
   *  closed loop, of the open loop at [[AuxRate]] and of the table search,
   *  so each gated metric samples the whole run, not one window of it: a
   *  burst of load from other tenants then moves all three a little instead
   *  of one a lot. Shares of --seconds: */
  val Rounds = 4
  val ClosedShare = 0.30
  val AuxShare = 0.30
  val TableShare = 0.25
  /** ... and each other ladder rate, in one block after the rounds. */
  val LadderShare = 0.05
  val TableQueries = 512
  val RecallQueries = 200
  val RecallFloor = 0.90
  val Index = "serve_diskann"

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spark = ctx.spark
    import spark.implicits._
    val rep = ctx.report

    // ---- inputs (excluded from set-up) ----
    val ((corpus, queries), genS) = timed {
      val m = Gen.mixture(seed, Clusters, Dim)
      (Gen.corpus(seed, m, N)._1, Gen.queries(seed, m, 40000)._1)
    }
    val ids = Array.tabulate(N)(_.toLong)
    val baseDf = spark.createDataFrame(spark.sparkContext.parallelize(
        ids.indices.map(i => (ids(i), corpus(i))), cores)).toDF("id", "vec").cache()
    baseDf.count()
    // a query range per kind of operation, so no query repeats anywhere in the run
    val warmQ = queries.slice(39000, 40000)
    val p1Q = 0; val p2Q = 10000; val p3Q = 20000
    val ((truthP1, nearP1), truthS) = timed(Truth.topK(queries.slice(p1Q, p1Q + RecallQueries), ids, corpus, K))
    val (truthP3, nearP3) = Truth.topK(queries.slice(p3Q, p3Q + RecallQueries), ids, corpus, K)
    rep.named("gen.corpus_s") = (genS, "s")
    rep.info("gen.truth_s") = truthS
    checkThat("queries_distinct_from_corpus", (nearP1 ++ nearP3).forall(_ > 0.0),
      "a query vector equals a corpus vector")
    val live: Long => Boolean = id => id >= 0 && id < N

    ctx.log("set-up")
    // ---- set-up: index build + warm-up, several times; the last one serves ----
    val builds = ArrayBuffer.empty[Double]
    val setups = (0 until setupRounds).map { _ =>
      timed {
        val (_, b) = timed(Ann.buildIndexFactory(baseDf, "vec", "id", Index, "DiskANN",
          Ann.BuildParams(numShards = Shards)))
        builds += b
        warmQ.take(200).foreach(q => Ann.searchHits(spark, Index, q, K).collect())
        Ann.searchTable(warmQ.take(64).toSeq.zipWithIndex.map { case (q, i) => (i.toLong, q) }
          .toDF("qid", "qvec"), "qvec", baseDf, "id", Index, K).count()
      }._2
    }
    rep.e2e("setup_s") = (Stats.median(setups), "s")
    rep.layer("index.build_s.diskann") = (Stats.median(builds), "s")
    val meta = IndexCatalog.load(Ann.root(spark), Index)
    val bytes = indexBytes(meta.shards.flatMap(s => Seq(s.file, s.idsFile)))
    rep.layer("index.bytes_on_disk") = (bytes.toDouble, "bytes")
    rep.named("space_amp") = (bytes.toDouble / (N.toLong * Dim * 4), "ratio")
    rep.info("index.shard_bytes_max") = meta.shards.map(s => new java.io.File(s.file).length).max
    rep.info("index.mmap_threshold_bytes") = ShardCache.mmapThreshold

    def point(q: Array[Float]): Option[(Array[Row], Double)] =
      ctx.op("point") {
        tracer.span("index.searchHits")(Ann.searchHits(spark, Index, q, K).collect())
      }(rows => Checks.hits(Checks.rowHits(rows), K, live))

    var next = p2Q
    def openLoop(rate: Double, secs: Double): Seq[OpenLoop.Outcome] = {
      val due = OpenLoop.schedule(System.nanoTime() + 5000000L, rate, secs)
      val base = next
      next += due.length
      OpenLoop.run(due, cores)(j => point(queries(base + j)).isDefined).toSeq
    }

    def tableCall(off: Int): Option[(Array[Row], Double)] = {
      val qs = queries.slice(off, off + TableQueries)
      val qDf = spark.createDataFrame(qs.toSeq.zipWithIndex.map { case (q, j) => (j.toLong, q) })
        .toDF("qid", "qvec")
      ctx.op("table") {
        tracer.span("index.searchTable")(
          Ann.searchTable(qDf, "qvec", baseDf, "id", Index, K)
            .select(col("qid"), col("id"), col("_distance")).collect())
      }(rows => tableCheck(rows, qs.length, live))
    }

    val untraced = ArrayBuffer.empty[Double]
    val p1 = ArrayBuffer.empty[Double]
    val p1Results = ArrayBuffer.empty[Seq[Long]]
    val auxSegments = ArrayBuffer.empty[Seq[OpenLoop.Outcome]]
    val tableS = ArrayBuffer.empty[Double]
    var p3Recall = 0.0
    val roundEnds = ArrayBuffer.empty[(Int, Int)]

    // ---- rounds of the closed loop, the open loop at AuxRate and the table search ----
    val slices = new Slices((seconds * 1e9).toLong, Rounds)
    var i = p1Q
    var call = 0
    for (r <- 0 until Rounds) {
      ctx.log(s"round $r")
      val last = r == Rounds - 1
      slices.run("point", ClosedShare, r)(_ => last && i - p1Q < RecallQueries) {
        val q = queries(i)
        point(q).foreach { case (rows, ms) =>
          p1 += ms
          if (i - p1Q < RecallQueries) p1Results += rows.map(_.getLong(0)).toSeq
        }
        if (ctx.traced) {
          untraced += untracedMs(point(queries(9000 + (i - p1Q) % 1000)))
          probes(ctx, q)
        }
        i += 1
      }
      auxSegments += openLoop(AuxRate, seconds * AuxShare / Rounds)
      slices.run("table", TableShare, r)(_ => call == 0) {
        tableCall(p3Q + call * TableQueries).foreach { case (rows, ms) =>
          tableS += ms / 1e3
          if (call == 0) p3Recall = Truth.recall(byQuery(rows, RecallQueries), truthP3.toSeq)
        }
        call += 1
      }
      roundEnds += ((p1.length, tableS.length))
    }
    rep.byRound("point", p1.toSeq, roundEnds.map(_._1).toSeq)
    rep.byRound("open.100", auxSegments.flatMap(_.map(_.latencyMs)).toSeq,
      auxSegments.scanLeft(0)(_ + _.length).tail.toSeq)
    rep.byRound("table", tableS.toSeq, roundEnds.map(_._2).toSeq)

    val p1Sum = Stats.summarize(p1)
    rep.latency("point", p1Sum)
    traceOverhead(p1Sum.p50, untraced)
    rep.e2e("p50_ms") = (p1Sum.p50, "ms")
    val recall = if (p1Results.length == RecallQueries)
      Truth.recall(p1Results.toSeq, truthP1.toSeq) else 0.0

    ctx.log("ladder")
    // ---- the rest of the open-loop ladder, one block per rate ----
    val ladder = Rates.map { rate =>
      if (rate == AuxRate) OpenLoop.summarizeSegments(rate, auxSegments.toSeq, LimitMs)
      else OpenLoop.summarize(rate, openLoop(rate, seconds * LadderShare), LimitMs)
    }
    ladder.foreach { r =>
      val tag = s"open.${r.rate.toInt}"
      rep.info(s"$tag.samples") = r.n
      rep.info(s"$tag.p50_ms") = r.latency.p50
      rep.info(s"$tag.tail_ms") = r.latency.tail
      rep.info(s"$tag.tail_percentile") = r.latency.tailP
      rep.info(s"$tag.late_p50_ms") = r.lateP50Ms
      rep.info(s"$tag.late_max_ms") = r.lateMaxMs
      rep.info(s"$tag.backlog_growing") = r.backlogGrowing
      rep.info(s"$tag.achieved_per_s") = r.achievedPerS
    }
    val aux = ladder.find(_.rate == AuxRate).get
    rep.e2e("aux_p50_ms") = (aux.latency.p50, "ms")
    rep.named("open_p50_ms_at_100") = (aux.latency.p50, "ms")
    rep.named("point_qps_at_slo") =
      (OpenLoop.bestRate(ladder, LimitMs).map(_.achievedPerS).getOrElse(0.0), "req/s")
    rep.info("open.limit_ms") = LimitMs

    ctx.log("checks")
    // median call, so one call caught by a GC pause or a burst of host load
    // does not move it
    val tableCallS = Stats.median(tableS)
    val tableQps = if (tableCallS > 0) TableQueries / tableCallS else 0.0
    rep.e2e("throughput_per_s") = (tableQps, "1/s")
    rep.named("table_qps") = (tableQps, "queries/s")
    rep.layer("index.table_search_s.diskann") = (tableCallS, "s")
    rep.info("table.calls") = tableS.length
    rep.info("table.call_s") = tableS.toSeq

    rep.named("recall_at10") = (recall, "ratio")
    rep.info("table.recall_at10") = p3Recall
    checkThat("recall_floor", recall >= RecallFloor && p3Recall >= RecallFloor,
      f"recall@10 point $recall%.4f table $p3Recall%.4f below floor $RecallFloor")
    rep.info("query_repeat_share") = 0.0

    if (ctx.traced) {
      kernelProbe(ctx, queries.slice(p1Q, p1Q + 64), corpus)
      // the streaming layer rides on this workload's traced run (the
      // ingest workload's read latency is too unsteady to gate)
      Ingest.streamingLayer(ctx)
    }
  }

  /** Rows (qid, id, distance) → one hit list per qid (first `n` qids). */
  def byQuery(rows: Array[Row], n: Int): Seq[Seq[Long]] = {
    val g = rows.groupBy(_.getLong(0))
    (0 until n).map(q => g.getOrElse(q.toLong, Array.empty[Row])
      .sortBy(r => (r.get(2).asInstanceOf[Number].doubleValue(), r.getLong(1))).map(_.getLong(1)).toSeq)
  }

  /** Every query has K hits with live ids. */
  def tableCheck(rows: Array[Row], nq: Int, live: Long => Boolean): Option[String] = {
    val g = rows.groupBy(_.getLong(0))
    if (g.size != nq) Some(s"expected $nq queries answered, got ${g.size}")
    else g.collectFirst {
      case (q, rs) if rs.length != K => s"query $q has ${rs.length} rows, expected $K"
      case (q, rs) if rs.exists(r => !live(r.getLong(1))) => s"query $q returned a non-live id"
    }
  }

  def indexBytes(files: Seq[String]): Long = files.map(f => new java.io.File(f).length).sum

  /** Untimed layer probes on the same query (traced run only): the
   *  catalog reads, `Ann.collectHits` alone, and each shard's graph search. */
  def probes(ctx: Ctx, q: Array[Float]): Unit = {
    import ctx._
    val root = Ann.root(spark)
    tracer.request("probe.point") {
      val meta = tracer.span("index.catalog") {
        val m = IndexCatalog.load(root, Index); IndexCatalog.readTombstones(root, Index); m
      }
      tracer.span("index.collectHits")(Ann.collectHits(spark, Index, q, K, 0, 1))
      tracer.span("core.shardSearch") {
        meta.shards.foreach(s => ShardCache.get(s.file, s.idsFile, false).index.search(q, K, 0))
      }
    }
  }

  /** `Simd.l2Sq` ns per call on workload vectors (traced run only). */
  def kernelProbe(ctx: Ctx, qs: Array[Array[Float]], corpus: Array[Array[Float]]): Unit = {
    var sink = 0f
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 4096) {
        val a = qs(i % qs.length); val b = corpus(i % corpus.length)
        sink += graft.core.Simd.l2Sq(a, 0, b, 0, a.length); i += 1
      }
      System.nanoTime() - t0
    }
    (0 until 50).foreach(_ => pass())
    val ns = (0 until 50).map(_ => pass() / 4096.0)
    ctx.report.layer("core.l2_ns") = (Stats.median(ns) + (if (sink == -1f) 1 else 0), "ns")
  }
}
