package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * The benchmark's own Spark listeners. Every Spark job is attributed to the
 * operation type the submitting thread was running (a job-local property
 * set by [[SparkTap.tagged]]), and per type the listener sums jobs, stages,
 * tasks, executor time, scheduler delay, shuffle, spill and result bytes.
 * The query-execution listener keeps each finished query's planning phases
 * and execution time, matched back to the operation by its QueryExecution.
 */
final class SparkTap(spark: SparkSession) {
  import SparkTap._

  private val stageOp = mutable.Map.empty[Int, String]
  private val acc = mutable.Map.empty[String, OpAcc]
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[(QueryExecution, Long)]()

  private def accOf(op: String): OpAcc = acc.getOrElseUpdate(op, new OpAcc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("other")
      e.stageIds.foreach(s => stageOp(s) = op)
      accOf(op).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val op = stageOp.getOrElse(e.stageInfo.stageId, "other")
      val a = accOf(op)
      a.stages += 1
      val runs = a.stageTaskRuns.remove(e.stageInfo.stageId).getOrElse(mutable.ArrayBuffer.empty)
      if (runs.length >= 2) {
        val s = runs.sorted
        val med = s(s.length / 2)
        a.skews += (if (med > 0) s.last / med else 1.0)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val op = stageOp.getOrElse(e.stageId, "other")
      val a = accOf(op)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.result += m.resultSize
        val info = e.taskInfo
        a.schedDelayMs += math.max(0L, info.duration - m.executorDeserializeTime -
          m.executorRunTime - m.resultSerializationTime - info.gettingResultTime)
        a.stageTaskRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime.toDouble
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add((qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)

  /** Execution time (ns) the listener saw for `qe`, if it finished. */
  def execNs(qe: QueryExecution): Option[Long] = {
    drain()
    var found: Option[Long] = None
    queries.forEach { case (q, d) => if (q eq qe) found = Some(d) }
    found
  }

  /** Per-op Spark metrics: `ops` operations of that type ran for `wallS`
   *  seconds in total on `cores` cores. */
  def opMetrics(op: String, ops: Long, wallS: Double, cores: Int): Map[String, Double] = {
    drain()
    synchronized {
      val a = acc.getOrElse(op, new OpAcc)
      val n = math.max(1L, ops).toDouble
      val mb = 1024.0 * 1024.0
      Map(
        "jobs_per_op" -> a.jobs / n,
        "stages_per_op" -> a.stages / n,
        "tasks_per_op" -> a.tasks / n,
        "exec_run_s" -> a.runMs / 1e3,
        "exec_cpu_s" -> a.cpuNs / 1e9,
        "idle_frac" -> (if (wallS > 0) math.max(0.0, 1.0 - a.runMs / 1e3 / (wallS * cores)) else 0.0),
        "sched_delay_ms" -> (if (a.tasks > 0) a.schedDelayMs.toDouble / a.tasks else 0.0),
        "task_skew" -> (if (a.skews.nonEmpty) Stats.median(a.skews) else 0.0),
        "shuffle_read_mb" -> a.shuffleRead / mb / n,
        "shuffle_write_mb" -> a.shuffleWrite / mb / n,
        "spill_mb" -> a.spill / mb / n,
        "result_mb" -> a.result / mb / n)
    }
  }
}

object SparkTap {
  val OpKey = "perfbench.op"
  val MetricNames: Seq[String] = Seq("jobs_per_op", "stages_per_op", "tasks_per_op",
    "exec_run_s", "exec_cpu_s", "idle_frac", "sched_delay_ms", "task_skew",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "result_mb")

  private final class OpAcc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var schedDelayMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var result = 0L
    val skews = mutable.ArrayBuffer.empty[Double]
    val stageTaskRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  }

  /** Run `body` with this thread's Spark jobs attributed to `op`. */
  def tagged[A](sc: SparkContext, op: String)(body: => A): A = {
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, prev)
  }
}
