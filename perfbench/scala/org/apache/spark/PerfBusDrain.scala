package org.apache.spark

/** The listener bus is Spark-private; the benchmark waits on it so that a
  * phase's task metrics are complete before they are read. */
object PerfBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
