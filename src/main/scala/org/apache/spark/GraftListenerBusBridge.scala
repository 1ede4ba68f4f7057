package org.apache.spark

/** Spark's listener bus is `private[spark]`; this re-exports the one call
  * `graft.Harness profile` and the specs' job counts need (the same shim
  * technique as `GraftParquetBridge`): block until every event posted so
  * far has been delivered to every registered listener. */
object GraftListenerBusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
