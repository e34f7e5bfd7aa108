package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads what its listeners saw (the drain is `private[spark]`).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
