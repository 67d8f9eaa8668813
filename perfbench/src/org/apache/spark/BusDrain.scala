package org.apache.spark

/** The listener bus is private to Spark; this one call lives in Spark's
  * package so the benchmark can wait for every queued event (task, stage,
  * job and streaming-progress events arrive asynchronously) before it reads
  * any listener counter. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
