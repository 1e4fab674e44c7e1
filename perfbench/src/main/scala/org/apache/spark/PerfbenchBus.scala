package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * that a trace written at the end of a run holds every job, stage, task
  * and query-execution event of the run. The bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
