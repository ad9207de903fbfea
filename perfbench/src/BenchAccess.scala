package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before
  * reading its listener's job records.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
