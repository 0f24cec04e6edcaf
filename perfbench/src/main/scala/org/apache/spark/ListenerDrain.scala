package org.apache.spark

/** Listener events are delivered asynchronously; the traced run waits for
  * the bus to drain before it reads its counters. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
