package org.apache.spark

/** The listener bus is package-private; the tracer drains it at the end of
  * each span so every event of the span has been delivered.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
