package org.apache.spark.sql.graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Frees the storage blocks behind a `localCheckpoint()`'d Dataset.
  *
  * `Dataset.unpersist()` only asks the CacheManager to uncache plans
  * registered via `persist()`/`cache()`; a localCheckpoint's
  * MEMORY_AND_DISK blocks live on the checkpointed RDD itself (wrapped
  * in a [[LogicalRDD]] leaf) and are never registered there, so
  * `ds.unpersist()` on a checkpointed Dataset is a silent no-op — the
  * blocks linger until ContextCleaner happens to GC the RDD (r12
  * ADVICE). This helper reaches the RDD through the LogicalRDD leaf
  * and unpersists it directly, which is the release the iterative
  * operators' superseded rounds need. `graft.operators.Rounds` is its
  * one caller.
  *
  * Lives under `org.apache.spark.sql` for access to the internal
  * execution package, mirroring the existing
  * `org.apache.spark.graft.ListenerBusWait` pattern.
  *
  * @return true when a checkpointed RDD was found and unpersisted;
  *         false when the Dataset is not localCheckpoint-backed (the
  *         caller's plain `unpersist()` path applies instead).
  */
object CheckpointBlocks {
  def unpersist(ds: Dataset[_], blocking: Boolean = false): Boolean =
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking)
        true
      case _ => false
    }
}
