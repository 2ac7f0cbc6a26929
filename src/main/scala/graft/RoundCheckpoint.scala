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

/** Loop parallelism proportional to the measured edge volume, shared by
  * the checkpointed graph loops (`Graph.pageRank`, `Graph.labelPropagation`,
  * the `Dedup.connectedComponents` loop). Each round's joins/aggregations
  * are separated from the next by a checkpoint, which defeats AQE's
  * cross-round coalescing, so the loop width must be chosen up front:
  * [[EdgesPerReducer]] edges per reducer, clamped at the session's
  * configured width — a 100 TB edge list keeps every reducer, while a
  * small graph stops paying (width × stages × rounds) task-scheduling
  * overhead (measured at sf0.1: the four g_* entries each run ~2x faster
  * with 1 loop partition than with 32).
  */
private[graft] object LoopParallelism {

  /** Edges per loop reducer. Below this many edges a loop runs on one
    * partition — the regime `Dedup.connectedComponents` solves on the
    * driver instead.
    */
  val EdgesPerReducer: Long = 65536L

  /** Run `body` with `spark.sql.shuffle.partitions` set to the loop
    * width for `nEdges` and, at one partition, AQE off (nothing to
    * coalesce or split; its stage-by-stage re-planning only adds latency
    * to every round job). Both settings are restored in `finally`; the
    * loops return checkpointed frames, so downstream consumers plan at
    * the caller's width.
    */
  def apply[A](spark: SparkSession, nEdges: Long)(body: => A): A = {
    val conf = spark.conf
    val confParts = conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.max(1L, math.min(confParts.toLong, nEdges / EdgesPerReducer + 1L))
    conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    val confAqe = conf.get("spark.sql.adaptive.enabled")
    if (loopParts == 1L) conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      conf.set("spark.sql.shuffle.partitions", confParts)
      conf.set("spark.sql.adaptive.enabled", confAqe)
    }
  }
}
