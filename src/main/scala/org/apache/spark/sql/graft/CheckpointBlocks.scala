package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage cuts and deterministic block release for the iterative
  * operators (label-propagation rounds, Lloyd iterations, eager pair
  * pipelines).
  *
  * == Cut strategy: reliable vs local ==
  *
  * [[cut]] truncates a frame's lineage by materializing it. TWO
  * mechanisms, gated on whether the session has a checkpoint
  * directory:
  *
  *   - `sc.setCheckpointDir` SET → `df.checkpoint(eager = true)`:
  *     blocks land in the (typically HDFS/object-store) checkpoint
  *     dir and survive executor loss — the posture a multi-executor
  *     cluster needs, because a LOCAL checkpoint's blocks are
  *     executor-resident with lineage truncated, so losing any
  *     executor mid- or post-loop fails the job permanently (no
  *     recompute path).
  *   - UNSET (single-JVM / local mode) → `df.localCheckpoint(true)`:
  *     no durable storage needed where executor loss means JVM death
  *     anyway, and no filesystem round-trip per iteration.
  *
  * Cluster deployments should `sc.setCheckpointDir` once at session
  * start; every iterative graft operator then becomes
  * executor-loss-tolerant with no further change. Reliable-checkpoint
  * FILES are cleaned by Spark's ContextCleaner only when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (Spark's
  * default is FALSE, which would leak rounds × frame-size files for
  * the application lifetime on iterative loops) — `graft.GraftSession`
  * sets it; a deployment building its own session must too.
  * [[release]] below frees only block-manager storage and never
  * deletes files.
  *
  * == Release ==
  *
  * `Dataset.unpersist` only removes CacheManager entries; the blocks
  * behind an eager `localCheckpoint` are RDD-level persisted and
  * untouched by it — they normally free only when the ContextCleaner
  * garbage-collects the underlying RDD. Iterative operators supersede
  * a checkpointed frame every round, and a long-lived session should
  * not hold round-count × frame-size blocks hostage to driver GC
  * timing. [[release]] walks the frame's analyzed plan for the
  * `LogicalRDD` leaf a checkpoint compiles to and unpersists its
  * RDD directly (non-blocking).
  *
  * Only call it on frames whose blocks no further computation reads —
  * i.e. after every downstream consumer has either materialized
  * (checkpointed) or finished. For a LOCAL checkpoint the recompute
  * lineage is the checkpoint itself, so a released-too-soon frame
  * fails loudly rather than silently recomputing. GUARD: release is
  * restricted to single-leaf frames (the shape every call site has —
  * one checkpointed round). On a frame COMPOSED from several
  * checkpointed inputs it would free blocks still referenced by live
  * sibling frames, so that shape is rejected loudly instead.
  */
object CheckpointBlocks {

  /** Materialize `df` and truncate its lineage — reliable checkpoint
    * when the session has a checkpoint dir, local checkpoint otherwise.
    *
    * The reliable path runs TWO jobs over the frame: the eager count
    * and then the checkpoint-file write (`ReliableCheckpointRDD`
    * re-executes the full lineage in the write job unless the blocks
    * are cached), so an unpersisted frame would pay ~2× compute per
    * round. Persist first — the count job populates the cache, the
    * write job reads it — and drop the cache once the files are
    * durable. The local path needs none of this: `localCheckpoint`
    * persists blocks as its own mechanism.
    */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try df.checkpoint(eager = true)
      finally df.unpersist(blocking = false)
    } else df.localCheckpoint(eager = true)

  def release(df: DataFrame): Unit = {
    val leaves = df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr }
    require(leaves.length <= 1,
      s"CheckpointBlocks.release expects a single checkpointed leaf, found ${leaves.length}: " +
        "releasing a multi-leaf frame would free blocks still referenced by sibling frames")
    leaves.foreach(_.rdd.unpersist(false))
  }
}
