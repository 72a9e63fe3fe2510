package org.apache.spark

/** The listener bus is private to Spark; the tracer needs every task and
  * stage event delivered before it reads its counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
