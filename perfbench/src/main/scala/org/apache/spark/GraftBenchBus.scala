package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads its counters so that no job's tail events land on the next op. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
