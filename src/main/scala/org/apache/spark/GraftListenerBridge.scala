package org.apache.spark

/** Bridge into `private[spark]` surface: drains the listener bus so a
  * reader of listener-accumulated counters sees every event posted so far
  * (stage and streaming-progress events arrive asynchronously). */
object GraftListenerBridge {
  def waitForListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
