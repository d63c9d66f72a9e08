package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark waits on it so
  * every task-end event of a traced span is counted before it reads the
  * span's totals. */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
