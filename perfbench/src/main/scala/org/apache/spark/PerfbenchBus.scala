package org.apache.spark

/** The listener bus is private to Spark; the traced mode drains it after
  * each op so every job, task and micro-batch event is attributed to the op
  * that caused it before the next op starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
