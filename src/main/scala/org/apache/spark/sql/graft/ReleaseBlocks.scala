package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD

/** Frees a persisted RDD's blocks without blocking, as Spark's
  * ContextCleaner does once the RDD is unreachable: `graft.Pin` releases
  * ticks this way. `RDD.unpersist` does the same but logs a warning for
  * every locally checkpointed RDD that its lineage cannot be recomputed,
  * once per dropped tick. In Spark's package because
  * `SparkContext.unpersistRDD` is package-private. */
object ReleaseBlocks {
  def apply(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
