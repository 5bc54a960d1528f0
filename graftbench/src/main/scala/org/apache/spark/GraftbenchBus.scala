package org.apache.spark

/** Listener-bus drain: events are delivered asynchronously, so the
  * benchmark waits for the bus to empty before it reads its listener.
  * Lives in Spark's package because the bus is package-private.
  */
object GraftbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
