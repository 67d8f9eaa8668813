package org.apache.spark

/** The listener bus is private to Spark; this one call lives in Spark's
  * package so a test can wait for every queued event (job, stage and task
  * events arrive asynchronously) before it reads a listener's counters. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
