package org.apache.spark

/** Test access to `private[spark]` SparkContext members. */
object GraftTestBridge {
  /** Block until every event posted so far reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
