package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one lineage cut of every operator that reads a frame more than
  * once (a two-branch split, a loop's next round, both sides of a
  * self-join, a pinned training sample). The policy is the session's,
  * never the caller's: with no checkpoint dir the cut is a lazy
  * `localCheckpoint` — fastest, blocks appear with the first action,
  * but they are executor-local with TRUNCATED lineage, so an executor
  * loss mid-query kills the job. With a checkpoint dir set
  * (`sc.setCheckpointDir`, an HDFS/object-store path on a cluster) the
  * cut is a RELIABLE checkpoint that survives executor loss, and it
  * materializes at composition time. Streaming frames cannot checkpoint
  * and pass through unchanged. */
object Checkpoint {

  def cut(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty)
      df.localCheckpoint(eager = false)
    else {
      // a bare reliable checkpoint recomputes its input in the
      // checkpoint-write job (the double pass the RDD.checkpoint docs
      // warn about): persist first, so the eager checkpoint's own action
      // fills the cache and the write job reads it back — ONE pass — and
      // release the cache once the checkpointed frame reads its files
      val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
      try pinned.checkpoint()
      finally pinned.unpersist(blocking = false)
    }

  /** Release a [[cut]]'s pin for real: `Dataset.unpersist` goes through
    * the CacheManager, which never registered a checkpoint's backing RDD
    * (it was persisted directly), so on a checkpointed frame it is a
    * silent no-op — verified empirically against getPersistentRDDs. The
    * pin lives in the plan's LogicalRDD leaf; unpersist THAT. Safe on
    * the cut frame itself: its analyzed plan is exactly one LogicalRDD
    * leaf (the cut replaced the original lineage), so an upstream
    * caller's own pin is never touched. A reliable cut's files stay in
    * the checkpoint dir. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
