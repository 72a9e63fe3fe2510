package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; [[graft.Profile]] needs every
  * job and stage event delivered before it reads its counters. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
