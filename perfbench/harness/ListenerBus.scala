package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener can be removed without losing the tail of a traced pass.
  * Lives in Spark's package because the bus is `private[spark]`.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
