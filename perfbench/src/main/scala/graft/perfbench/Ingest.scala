package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.index.{Ann, IndexCatalog}
import graft.streaming.StreamingIndex

/**
 * `ingest`: one writer thread appends 1,000-vector batches through
 * `StreamingIndex.appendBatch` (compacting every second batch) and deletes
 * the 100 oldest live ids after each; one reader thread runs point queries
 * beside it. Reader failures are counted, never retried.
 */
object Ingest {
  val Base = 8000
  val Dim = 128
  val Clusters = 64
  val Shards = 4
  val Batch = 1000
  val DeletePerBatch = 100
  /** Compaction runs when the shard count exceeds this: every second batch. */
  val CompactAt: Int = Shards + 1
  val MinCompactions = 3
  val K = 10
  val SelfQueriesPerBatch = 2
  val RecallQueries = 100
  val RecallFloor = 0.90
  val Index = "ingest_diskann"

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spark = ctx.spark
    val rep = ctx.report
    val params = Ann.BuildParams(numShards = Shards)
    val root = Ann.root(spark)

    val maxBatches = 60
    val ((base, appends, queries), genS) = timed {
      val m = Gen.mixture(seed, Clusters, Dim)
      (Gen.corpus(seed, m, Base)._1, Gen.appends(seed, m, maxBatches * Batch),
        Gen.queries(seed, m, 30000)._1)
    }
    rep.named("gen.corpus_s") = (genS, "s")
    def vecOf(id: Long): Array[Float] =
      if (id < Base) base(id.toInt) else appends((id - Base).toInt)
    val baseDf = spark.createDataFrame(spark.sparkContext.parallelize(
      base.indices.map(i => (i.toLong, base(i))), cores)).toDF("id", "vec").cache()
    baseDf.count()
    val qRead = 0; val qRecall = 25000; val qWarm = 29000

    ctx.log("set-up")
    // ---- set-up: base index build + warm-up ----
    val builds = ArrayBuffer.empty[Double]
    val setups = (0 until setupRounds).map { r =>
      timed {
        val (_, b) = timed(Ann.buildIndex(baseDf, "vec", "id", Index, params))
        builds += b
        (0 until 50).foreach(j => Ann.searchHits(spark, Index, queries(qWarm + 100 * r + j), K).collect())
      }._2
    }
    rep.e2e("setup_s") = (Stats.median(setups), "s")
    rep.layer("index.build_s.diskann") = (Stats.median(builds), "s")

    ctx.log("writer and reader")
    // ---- shared state: what a read may return ----
    val visible = new AtomicLong(Base) // ids below this may be served: appended or being appended
    val deletes = new ConcurrentLinkedQueue[(Long, Array[Long])]() // (committed at, ids)
    val writerDone = new AtomicBoolean(false)
    def deletedBefore(t: Long): Set[Long] =
      deletes.asScala.iterator.filter(_._1 < t).flatMap(_._2.iterator).toSet

    val appendLat = ArrayBuffer.empty[Double]
    var appended = 0L
    var compactions = 0
    var writerErr: Throwable = null
    val budgetNs = (seconds * 1e9).toLong
    val t0 = System.nanoTime()

    val writer = new Thread(() => try {
      var b = 0
      var oldest = 0L
      var version = IndexCatalog.load(root, Index).version
      def elapsed = System.nanoTime() - t0
      while (b < maxBatches && (elapsed < budgetNs || compactions < MinCompactions) &&
          elapsed < math.max(4 * budgetNs, 60000000000L)) {
        val ids = (0 until Batch).map(j => Base + b.toLong * Batch + j)
        val df = spark.createDataFrame(spark.sparkContext.parallelize(
          ids.map(id => (id, vecOf(id))), cores)).toDF("id", "vec")
        // a read may see the batch as soon as the append publishes it
        visible.set(ids.last + 1)
        ctx.op("write") {
          if (!ctx.traced) StreamingIndex.appendBatch(df, "vec", "id", Index, params, CompactAt)
          else {
            // appendBatch's own steps, one span each, so compaction shows apart
            tracer.span("index.append")(Ann.append(df, "vec", "id", Index))
            val meta = tracer.span("index.catalog")(IndexCatalog.load(root, Index))
            if (meta.shards.size > CompactAt)
              tracer.span("streaming.compact")(StreamingIndex.compact(spark, Index, Shards))
          }
        }(_ => None).foreach { case (_, ms) =>
          appendLat += ms; appended += Batch
        }
        val v = IndexCatalog.load(root, Index).version
        if (v != version) { compactions += 1; version = v }
        // delete the oldest live ids; reads that start after this see none of them
        val gone = (oldest until oldest + DeletePerBatch).toArray
        ctx.op("write")(Ann.delete(spark, Index, gone.toSeq))(_ => None).foreach { _ =>
          deletes.add((System.nanoTime(), gone)); oldest += DeletePerBatch
        }
        // each sampled appended vector finds itself at distance 0
        (0 until SelfQueriesPerBatch).foreach { s =>
          val id = ids((s * 457 + b * 131) % Batch)
          ctx.op("point")(Ann.searchHits(spark, Index, vecOf(id), K).collect()) { rows =>
            val h = Checks.rowHits(rows)
            if (h.headOption.exists(x => x._1 == id && x._2 == 0.0)) None
            else Some(s"self-query for appended id $id returned ${h.take(2)}")
          }
        }
        b += 1
      }
    } catch { case e: Throwable => writerErr = e } finally writerDone.set(true),
      "perfbench-writer")

    val readLat = ArrayBuffer.empty[Double]
    val tombs = ArrayBuffer.empty[Double]
    val shards = ArrayBuffer.empty[Double]
    writer.start()
    var i = qRead
    while (!writerDone.get()) {
      val start = System.nanoTime()
      ctx.op("point") {
        tracer.span("index.searchHits")(Ann.searchHits(spark, Index, queries(i), K).collect())
      } { rows =>
        val gone = deletedBefore(start)
        val vis = visible.get()
        Checks.hits(Checks.rowHits(rows), K, id => id >= 0 && id < vis)
          .orElse(rows.find(r => gone.contains(r.getLong(0)))
            .map(r => s"id ${r.getLong(0)} was deleted before the read started"))
      }.foreach { case (_, ms) => readLat += ms }
      if (ctx.traced) {
        tombs += IndexCatalog.readTombstones(root, Index).size
        shards += IndexCatalog.load(root, Index).shards.size
      }
      i += 1
    }
    writer.join()
    val writerS = (System.nanoTime() - t0) / 1e9
    if (writerErr != null) report.fail("writer", writerErr.toString, wrong = false)

    val reads = Stats.summarize(readLat)
    rep.latency("point", reads)
    rep.e2e("p50_ms") = (reads.p50, "ms")
    val app = Stats.summarize(appendLat)
    rep.latency("append", app)
    rep.e2e("aux_p50_ms") = (app.p50, "ms")
    val vps = if (appendLat.nonEmpty) appended / (appendLat.sum / 1e3) else 0.0
    rep.e2e("throughput_per_s") = (vps, "1/s")
    rep.named("ingest_vps") = (vps, "vectors/s")
    rep.info("writer.batches") = appendLat.length
    rep.info("writer.wall_s") = writerS
    rep.info("streaming.compactions") = compactions
    checkThat("min_compactions", compactions >= MinCompactions,
      s"$compactions compactions completed, expected at least $MinCompactions")
    if (tombs.nonEmpty) {
      rep.layer("index.tombstones_live") = (Stats.median(tombs), "count")
      rep.layer("index.shards_live") = (Stats.median(shards), "count")
    }

    ctx.log("quiescent")
    // ---- quiescent: recall over the live set ----
    val gone = deletedBefore(Long.MaxValue)
    val liveIds = (0L until visible.get()).filterNot(gone.contains).toArray
    val qs = queries.slice(qRecall, qRecall + RecallQueries)
    val (truth, _) = Truth.topK(qs, liveIds, liveIds.map(vecOf), K)
    val got = qs.toSeq.map(q => Ann.searchHits(spark, Index, q, K).collect().map(_.getLong(0)).toSeq)
    val recall = Truth.recall(got, truth.toSeq)
    rep.named("recall_at10") = (recall, "ratio")
    checkThat("recall_floor", recall >= RecallFloor, f"recall@10 $recall%.4f below floor $RecallFloor")
    val meta = IndexCatalog.load(root, Index)
    val bytes = Serve.indexBytes(meta.shards.flatMap(s => Seq(s.file, s.idsFile)))
    rep.layer("index.bytes_on_disk") = (bytes.toDouble, "bytes")
    rep.named("space_amp") = (bytes.toDouble / (liveIds.length.toLong * Dim * 4), "ratio")
    rep.info("live_vectors") = liveIds.length
    rep.info("query_repeat_share") = 0.0
  }

  /** The streaming layer for another workload's traced run: this workload
   *  on its own context (own index, spans and listener), its streaming and
   *  tombstone metrics and its Spark write metrics copied over, and its
   *  operations and failures counted in the host run. */
  def streamingLayer(ctx: Ctx): Unit = {
    ctx.log("streaming layer")
    val sub = new Ctx(ctx.spark, ctx.seed, ctx.seconds / 2, traced = true, ctx.workDir)
    run(sub)
    Main.finishTraced(sub, sub.tracer.all)
    val keep = (n: String) => n.startsWith("streaming.") || n.startsWith("spark.write.") ||
      n == "index.tombstones_live" || n == "index.shards_live"
    sub.report.layer.foreach { case (n, v) => if (keep(n)) ctx.report.layer(n) = v }
    ctx.report.info("ingest.failures") = sub.report.failed.get
    ctx.report.absorb(sub.report)
  }
}
