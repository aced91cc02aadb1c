package org.apache.spark

import org.apache.spark.rdd.RDD

/** Bridge into `private[spark]` SparkContext surface — the core
  * counterpart of `org.apache.spark.sql.GraftPlanBridge`. */
object GraftCoreBridge {

  /** Remove `rdd`'s persisted blocks and its persistent-RDD registration
    * without blocking, exactly as the context cleaner does for a
    * collected RDD. Unlike `RDD.unpersist` it logs no WARN for a locally
    * checkpointed RDD, and it leaves the RDD's storage level as it was:
    * only for RDDs that are never read again. */
  def unpersist(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
