package org.apache.spark

/** The listener bus is private to Spark; the traced run must see every
  * task event before it aggregates, so it waits on the bus from here.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
