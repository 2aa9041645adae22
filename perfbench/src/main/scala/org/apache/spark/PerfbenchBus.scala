package org.apache.spark

/** Lets the benchmark wait for its listeners to see every posted event
  * before it reads their totals (the listener bus is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
