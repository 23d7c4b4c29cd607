package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage cuts and the deterministic release of their storage.
  *
  * Cut policy: every engine lineage cut goes through [[cut]], and the
  * deployment picks where its bytes live. With a checkpoint dir set
  * (`sparkContext.setCheckpointDir`, on a cluster pointing at durable
  * storage) each cut is a reliable `checkpoint()`: checkpoint-dir files
  * that survive an executor loss. Without one it is an eager
  * `localCheckpoint()`: executor-local blocks, fastest, lost with their
  * executor. Both are eager and return the same rows
  * (DurableCheckpointParitySpec). The one exemption is
  * StreamingClusters' intra-batch cut, which the streaming state table
  * makes durable.
  *
  * A local cut backs the returned frame with a cached RDD that is NOT
  * registered in the CacheManager, so `Dataset.unpersist` cannot free
  * it; the ContextCleaner frees it only when the driver GCs the last
  * reference. Fixed-point loops and long-running streaming monitors
  * that cut lineage every round/batch must not lease storage memory to
  * GC timing — they free the previous round's blocks explicitly the
  * moment the next round's frame is materialized.
  */
private[graft] object Frames {

  /** Eagerly cut `df`'s lineage under the session's cut policy. */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** Free the cached blocks behind a [[cut]] `df`.
    *
    * UNSAFE unless nothing will ever read `df` (or an un-materialized
    * derivation of it) again: for a local cut the cached blocks ARE the
    * data — lineage was truncated at the checkpoint, so a later action
    * cannot recompute them. For a reliable cut the data lives in
    * checkpoint-dir files and the unpersist is a harmless no-op (file
    * cleanup belongs to `spark.cleaner.referenceTracking.cleanCheckpoints`
    * or job teardown). No-op on frames with no checkpoint leaf (e.g. the
    * empty seed state). */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
