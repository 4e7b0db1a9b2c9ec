package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}

/** Everything one workload run shares: the session, its seed and time
 *  budget, the tracer, the Spark listeners (traced runs only) and the
 *  report it fills in. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val workDir: String) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(traced)
  val tap: Option[SparkTap] = if (traced) Some(new SparkTap(spark)) else None
  val report = new Report
  /** Set-ups per run; `setup_s` is their nearest-rank median (with two, the
   *  faster one — the first pays class loading and JIT warm-up). */
  val setupRounds = 2

  /** Wall time of each op type (ns), for the per-op Spark idle share. */
  private val opWallNs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val opCount = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  /**
   * One user-visible operation of type `kind`: counted as attempted, its
   * Spark jobs attributed to `kind`, traced as a request root. A thrown
   * exception is a failed operation (recorded, never retried) and yields
   * None; otherwise `check` judges the result, and a wrong result is a
   * failed operation too. Returns the result and its latency in ms.
   */
  def op[A](kind: String)(body: => A)(check: A => Option[String]): Option[(A, Double)] = {
    report.attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val res = try {
      Right(SparkTap.tagged(spark.sparkContext, kind)(tracer.request(s"bench.$kind")(body)))
    } catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    opWallNs.computeIfAbsent(kind, _ => new AtomicLong()).addAndGet(System.nanoTime() - t0)
    opCount.computeIfAbsent(kind, _ => new AtomicLong()).incrementAndGet()
    res match {
      case Left(e) =>
        report.fail(kind, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}",
          wrong = false)
        None
      case Right(a) =>
        check(a) match {
          case Some(why) => report.fail(kind, why, wrong = true); Some((a, ms))
          case None => Some((a, ms))
        }
    }
  }

  /** Latency (ms) of `call` with span recording suspended: in traced
   *  runs, the interleaved reference `trace.overhead_ms` is measured against. */
  def untracedMs(call: => Any): Double = tracer.suspended(timed(call)._2 * 1e3)

  /** `trace.overhead_ms`: traced minus untraced median latency of one op. */
  def traceOverhead(tracedP50: Double, untraced: Iterable[Double]): Unit =
    if (traced && untraced.nonEmpty) {
      report.layer("trace.overhead_ms") = (tracedP50 - Stats.median(untraced), "ms")
      report.info("trace.untraced_p50_ms") = Stats.median(untraced)
    }

  /** A standalone correctness check (recall floor, rewrite rate, ...). */
  def checkThat(name: String, ok: Boolean, detail: => String): Unit = {
    report.attempted.incrementAndGet()
    if (!ok) report.fail(name, detail, wrong = true)
  }

  def opStats(kind: String): (Long, Double) =
    (Option(opCount.get(kind)).map(_.get).getOrElse(0L),
      Option(opWallNs.get(kind)).map(_.get / 1e9).getOrElse(0.0))

  def log(msg: String): Unit = Main.note(msg)

  /** Time `body` in seconds (no op accounting): set-up and probes. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/**
 * Interleaved time slices. The measured time is split into `rounds` rounds.
 * In each round a kind of operation runs until its own accumulated time
 * reaches its share of the budget up to that round. A slice that overruns
 * (its last operation outlasted what was left of it) so shortens the next
 * slice of the same kind, not the other kinds' slices.
 */
final class Slices(budgetNs: Long, rounds: Int, clock: () => Long = () => System.nanoTime()) {
  private val usedNs = mutable.Map.empty[String, Long]

  def used(kind: String): Long = usedNs.getOrElse(kind, 0L)

  /** Run `step` in round `round` (from 0) while `kind` is behind its share,
   *  and while `more(steps run in this slice)` holds. */
  def run(kind: String, share: Double, round: Int)(more: Int => Boolean)(step: => Unit): Unit = {
    val target = (budgetNs * share * (round + 1) / rounds).toLong
    var steps = 0
    while (used(kind) < target || more(steps)) {
      val t0 = clock()
      step
      usedNs(kind) = used(kind) + clock() - t0
      steps += 1
    }
  }
}

/** Metrics and check outcomes of one run. */
final class Report {
  /** Gated end-to-end metrics (the names BENCHMARK.json lists). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The same measurements under their per-workload names, plus the
   *  end-to-end metrics BENCHMARK.json does not gate (recall, space, errors). */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (traced runs). */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Context for reading the numbers: sample counts, percentiles used, ... */
  val info = mutable.LinkedHashMap.empty[String, Any]

  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val wrong = new AtomicLong(0)
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def fail(kind: String, why: String, wrong: Boolean): Unit = {
    failed.incrementAndGet()
    if (wrong) this.wrong.incrementAndGet()
    if (failures.size < 20) failures.add(s"$kind: $why")
  }

  /** Count another report's operations and failures as this run's. */
  def absorb(o: Report): Unit = {
    attempted.addAndGet(o.attempted.get)
    failed.addAndGet(o.failed.get)
    wrong.addAndGet(o.wrong.get)
    o.failures.forEach(f => if (failures.size < 20) failures.add(f))
  }

  /** The median of each round's samples (`ends`: sample count at the end
   *  of each round), to show drift across a run. */
  def byRound(name: String, xs: Seq[Double], ends: Seq[Int]): Unit =
    info(s"$name.p50_by_round") = (0 +: ends).zip(ends).map { case (a, b) => Stats.median(xs.slice(a, b)) }

  /** Latency summary under `name`: p50 and tail, with sample count and the
   *  percentile the tail is. */
  def latency(name: String, s: Stats.Summary): Unit = {
    named(s"${name}_p50_ms") = (s.p50, "ms")
    named(s"${name}_tail_ms") = (s.tail, "ms")
    info(s"$name.samples") = s.n
    info(s"$name.tail_percentile") = s.tailP
  }
}

/** Result checks shared by the workloads. */
object Checks {
  /** `rows` hold k (id, distance) hits, ascending by distance, ids from `live`. */
  def hits(rows: Seq[(Long, Double)], k: Int, live: Long => Boolean): Option[String] =
    if (rows.length != k) Some(s"expected $k rows, got ${rows.length}")
    else if (rows.zip(rows.drop(1)).exists { case (a, b) => b._2 < a._2 })
      Some("rows not sorted by distance")
    else rows.find(r => !live(r._1)).map(r => s"id ${r._1} is not in the live set")

  def rowHits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getLong(0), r.get(1).asInstanceOf[Number].doubleValue()))
}
