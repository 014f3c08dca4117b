package org.apache.spark

/** Bridge into `private[spark]` scheduler internals (the
  * GraftColumnBridge pattern) for `graft.QueryMetrics.measure`, the one
  * metrics collector: listener events are asynchronous, so a window's
  * record is read only after the bus is drained.
  */
object GraftSparkBridge {
  def waitListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
