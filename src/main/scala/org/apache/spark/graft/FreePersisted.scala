package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Frees every persistent RDD's blocks between catalog queries
  * ([[graft.Bench]], [[graft.Profile]]). The engine persists nothing but
  * `localCheckpoint`s, for which `RDD.unpersist` logs one WARN each
  * (the lineage cannot be recomputed), and no query reuses another's
  * RDDs, so this goes to the private `unpersistRDD` without the warning. */
object FreePersisted {
  def apply(sc: SparkContext): Unit =
    sc.getPersistentRDDs.keys.foreach(sc.unpersistRDD(_, blocking = false))
}
