package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run:
 *
 *   Main --workload serve|sql|ingest|curate --seed N --seconds S --trace 0|1
 *        --work DIR --out DIR
 *
 * Prints every metric by name and unit, then, as the last stdout line, one
 * JSON object {correct, attempted, failed, metrics}: the gated end-to-end
 * metrics untraced, the per-layer metrics traced. The full artifact (all
 * metrics, sample counts, host context, span self times) goes to --out.
 */
object Main {

  val Workloads: Map[String, Ctx => Unit] = Map(
    "serve" -> Serve.run, "sql" -> Sql.run, "ingest" -> Ingest.run, "curate" -> CurateWl.run)

  /** Gated end-to-end metrics: every workload reports each. (Tails are
   *  printed under per-workload names but not gated: on a shared host they
   *  swing with CPU steal far more than a bound of 0.25 allows.) */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "p50_ms" -> "ms",
    "aux_p50_ms" -> "ms", "throughput_per_s" -> "1/s")

  /** Operation types the Spark listener attributes jobs to. */
  val OpTypes: Seq[String] = Seq("point", "table", "sql", "hybrid", "write", "curate")
  val SelfLayers: Seq[String] = Seq("bench", "index", "core", "plans", "search", "text", "streaming")

  /** Every per-layer metric, reported by every traced run (0 where the
   *  workload bypasses the layer). */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.shard_search_ms" -> "ms", "core.l2_ns" -> "ns",
    "index.collect_hits_ms" -> "ms", "index.local_relation_ms" -> "ms",
    "index.catalog_ms" -> "ms", "index.tombstones_live" -> "count",
    "index.shards_live" -> "count", "index.build_s.diskann" -> "s",
    "index.build_s.ivfflat" -> "s", "index.bytes_on_disk" -> "bytes",
    "index.table_search_s.diskann" -> "s", "index.table_search_s.ivfflat" -> "s",
    "streaming.append_ms" -> "ms", "streaming.compact_s" -> "s",
    "streaming.compactions" -> "count",
    "plans.parse_ms" -> "ms", "plans.analyze_ms" -> "ms", "plans.optimize_ms" -> "ms",
    "plans.physical_ms" -> "ms", "plans.exec_ms" -> "ms", "plans.rewrite_rate" -> "ratio",
    "plans.query_repeat_share" -> "ratio",
    "search.bm25_ms" -> "ms", "search.vector_ranks_ms" -> "ms", "search.rrf_ms" -> "ms",
    "text.gates_s" -> "s", "text.minhash_dedup_s" -> "s", "text.pairs_s" -> "s",
    "text.cc_s" -> "s", "text.report_s" -> "s", "text.pair_precision" -> "ratio",
    "jvm.gc_s" -> "s", "host.busy_frac" -> "ratio", "host.steal_frac" -> "ratio",
    "trace.overhead_ms" -> "ms", "gen.corpus_s" -> "s") ++
    OpTypes.flatMap(op => SparkTap.MetricNames.map(m => s"spark.$op.$m" -> sparkUnit(m))) ++
    SelfLayers.map(l => s"self_ms.$l" -> "ms")

  private def sparkUnit(m: String): String =
    if (m.endsWith("_s")) "s" else if (m.endsWith("_ms")) "ms"
    else if (m.endsWith("_mb")) "MiB" else if (m.endsWith("_frac") || m == "task_skew") "ratio"
    else "count"

  def main(args: Array[String]): Unit =
    try { runMain(args); System.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }

  private def runMain(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a.getOrElse("workload", "")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = new java.io.File(a("work")).getAbsolutePath
    val out = new java.io.File(a("out")).getAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()

    note("jvm up")
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.ann.root", s"$work/indexes")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.Graft.init(spark)
    note("spark up")

    val ctx = new Ctx(spark, seed, seconds, traced, work)
    val rep = ctx.report
    val gc0 = gcMs()
    val h0 = graft.tools.HostLoad.sample()
    val t0 = System.nanoTime()
    note(s"start $workload seed=$seed")
    run(ctx)
    note("done")
    val wallS = (System.nanoTime() - t0) / 1e9
    val (busy, steal) = graft.tools.HostLoad.frac(h0, graft.tools.HostLoad.sample())
    rep.layer("jvm.gc_s") = ((gcMs() - gc0) / 1e3, "s")
    rep.layer("host.busy_frac") = (busy, "ratio")
    rep.layer("host.steal_frac") = (steal, "ratio")
    rep.layer("gen.corpus_s") = rep.named.getOrElse("gen.corpus_s", (0.0, "s"))
    rep.named("error_rate") =
      (rep.failed.get.toDouble / math.max(1L, rep.attempted.get), "ratio")

    val spans = ctx.tracer.all
    if (traced) finishTraced(ctx, spans)

    val host = Map[String, Any](
      "nproc" -> nproc,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "host_busy_frac" -> busy, "host_steal_frac" -> steal, "run_wall_s" -> wallS)
    spark.stop()

    val metrics: Seq[(String, (Double, String))] =
      if (traced) PerLayer.map { case (n, u) => n -> rep.layer.getOrElse(n, (0.0, u)) }
      else EndToEnd.map { case (n, u) => n -> rep.e2e.getOrElse(n,
        throw new IllegalStateException(s"$workload did not measure $n")) }
    val correct = rep.wrong.get == 0

    // human-readable lines: the gated metrics, then every named metric
    println(s"# workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}")
    (rep.e2e.toSeq ++ rep.named.toSeq).foreach { case (n, (v, u)) => println(f"$n%-28s $v%.6f $u") }
    if (traced) rep.layer.toSeq.foreach { case (n, (v, u)) => println(f"$n%-40s $v%.6f $u") }
    rep.failures.asScala.foreach(f => println(s"# failure: $f"))

    new java.io.File(out).mkdirs()
    val stem = s"$out/$workload-seed$seed-trace${if (traced) 1 else 0}"
    writeFile(s"$stem.json", Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "correct" -> correct, "attempted" -> rep.attempted.get, "failed" -> rep.failed.get,
      "wrong" -> rep.wrong.get, "failures" -> rep.failures.asScala.toSeq,
      "end_to_end" -> metricObj(rep.e2e.toSeq),
      "named" -> metricObj(rep.named.toSeq),
      "per_layer" -> metricObj(rep.layer.toSeq),
      "info" -> rep.info.toSeq,
      "span_median_ms" -> Trace.medianMsByName(spans).toSeq.sortBy(_._1),
      "span_self_ms_by_layer" -> Trace.selfMsByLayer(spans).toSeq.sortBy(_._1),
      "host" -> host.toSeq.sortBy(_._1))))
    if (traced) writeFile(s"$stem-spans.jsonl", spans.map(s => Json.obj(Seq(
      "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("", "\n", "\n"))

    println(Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> rep.attempted.get,
      "failed" -> rep.failed.get,
      "metrics" -> metricObj(metrics))))
    System.out.flush()
  }

  private def metricObj(ms: Seq[(String, (Double, String))]): Seq[(String, Any)] =
    ms.map { case (n, (v, u)) => n -> Seq[(String, Any)]("value" -> v, "unit" -> u) }

  /** A traced run's per-layer metrics from its spans and its Spark
   *  listener (per op type, for the op types this run performed). */
  def finishTraced(ctx: Ctx, spans: Seq[Span]): Unit = {
    layersFromSpans(ctx, spans)
    ctx.tap.foreach { tap =>
      OpTypes.foreach { op =>
        val (n, w) = ctx.opStats(op)
        if (n > 0) tap.opMetrics(op, n, w, ctx.cores).foreach { case (m, v) =>
          ctx.report.layer(s"spark.$op.$m") = (v, sparkUnit(m))
        }
      }
      tap.close()
    }
  }

  /** Per-layer metrics read off the spans of the traced run. */
  private def layersFromSpans(ctx: Ctx, spans: Seq[Span]): Unit = {
    val rep = ctx.report
    val med = Trace.medianMsByName(spans)
    def put(metric: String, span: String, scale: Double = 1.0, unit: String = "ms"): Unit =
      med.get(span).foreach(v => rep.layer(metric) = (v * scale, unit))
    put("core.shard_search_ms", "core.shardSearch")
    put("index.collect_hits_ms", "index.collectHits")
    put("index.catalog_ms", "index.catalog")
    for (sh <- med.get("index.searchHits"); ch <- med.get("index.collectHits"))
      rep.layer("index.local_relation_ms") = (sh - ch, "ms")
    put("streaming.append_ms", "index.append")
    put("streaming.compact_s", "streaming.compact", 1e-3, "s")
    val compactions = spans.count(_.name == "streaming.compact")
    if (compactions > 0) rep.layer("streaming.compactions") = (compactions.toDouble, "count")
    put("search.bm25_ms", "search.bm25Ranks")
    put("search.vector_ranks_ms", "search.annVectorRanks")
    put("search.rrf_ms", "search.rrfFuse")
    val self = Trace.selfMsByLayer(spans)
    SelfLayers.foreach(l => self.get(l).foreach(v => rep.layer(s"self_ms.$l") = (v, "ms")))
  }

  /** Progress line on stderr with the JVM's uptime (run.py shows these). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s] $msg")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def writeFile(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

/** Minimal JSON writer for the result line and the artifact. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n"); case '\r' => b.append("\\r"); case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
