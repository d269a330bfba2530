package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one lineage cut shared by the operators that read a frame more
  * than once (a two-branch split, a loop's next round, both sides of a
  * self-join). The policy is the session's, never the caller's: with no
  * checkpoint dir the cut is a lazy `localCheckpoint` — fastest, blocks
  * appear with the first action, but they are executor-local with
  * TRUNCATED lineage, so an executor loss mid-query kills the job. With
  * a checkpoint dir set (`sc.setCheckpointDir`, an HDFS/object-store
  * path on a cluster) the cut is a RELIABLE checkpoint that survives
  * executor loss, and it materializes at composition time. Streaming
  * frames cannot checkpoint and pass through unchanged. */
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
}
