package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Leak-free bookkeeping for library functions that `localCheckpoint`
  * inside a driver loop (connected components, LSH top-k): track
  * exactly the RDD ids THIS caller's checkpoints created, then free all of
  * them except the returned result's own blocks. One instance per call;
  * instances are not thread-safe (each call owns its own).
  *
  * A `localCheckpoint()` result's analyzed plan has one `LogicalRDD` leaf
  * per checkpointed block, and that leaf's RDD id is the persistent RDD the
  * checkpoint pinned, so the ids come from the plan itself — never from a
  * global `getPersistentRDDs` diff, which would race a concurrent sibling
  * call (two `lshTopK` or `connectedComponents` calls on one session) and
  * free ITS live blocks.
  */
final class CheckpointTracker(spark: SparkSession) {
  private val owned = scala.collection.mutable.Set.empty[Int]

  /** Persistent RDD ids owned by the `LogicalRDD` leaves of `df`'s plan. */
  private def checkpointRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Record `df`'s checkpoint block ids; returns `df` for chaining. */
  def track(df: DataFrame): DataFrame = {
    owned ++= checkpointRddIds(df)
    df
  }

  /** Unpersist every tracked block that is not part of `keep`'s plan. */
  def freeAllExcept(keep: DataFrame): Unit =
    freeAllExcept(checkpointRddIds(keep))

  /** Unpersist every tracked block outside `keepIds` (empty = free all). */
  def freeAllExcept(keepIds: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (owned.contains(id) && !keepIds.contains(id)) rdd.unpersist(blocking = false)
    }
}
