package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * posted event before it reads listener counters (`waitUntilEmpty` is
  * package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
