package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
 *  benchmark's listeners have seen all jobs of a phase before it reads them.
 *  (The bus is package-private to Spark, hence this package.) */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
