package org.apache.spark

/** Lets a spec wait until its listeners have seen every posted event
  * before it reads their counts (the listener bus is package-private). */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
