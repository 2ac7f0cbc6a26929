package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checkpoint-and-release for the iterative loops (`Graph.pageRank`,
  * `Graph.labelPropagation`, `Dedup.connectedComponents`). Each loop
  * checkpoints its rounds so the logical plan stays constant-size at any
  * round count, and releases the superseded round explicitly — relying on
  * GC + ContextCleaner would hold O(rounds) full copies in executor storage
  * or the checkpoint store mid-algorithm.
  *
  * The mode is fixed when the helper is built: a RELIABLE `checkpoint()`
  * (survives executor loss) when the SparkContext has a checkpoint dir,
  * otherwise `localCheckpoint(eagerLocal)`. The caller picks eagerness:
  * the graph loops materialize eagerly, while connected components leaves
  * its rounds lazy so they materialize inside the round's probe job.
  */
private[graft] final class RoundCheckpoint(spark: SparkSession, eagerLocal: Boolean) {

  private val sc = spark.sparkContext

  private val reliable: Boolean = sc.getCheckpointDir.isDefined

  def apply(df: DataFrame): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint(eagerLocal)

  /** Unpersist the checkpoint RDD behind `df` and, in reliable mode,
    * delete its checkpoint files.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { r =>
      r.unpersist(blocking = false)
      if (reliable) r.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
    }
}
