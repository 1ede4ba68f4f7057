package org.apache.spark

/** The listener bus is private to Spark; the traced run must wait for it to
  * deliver every job, task and streaming event of a pass before it
  * attributes them. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
