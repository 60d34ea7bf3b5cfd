package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge

/** Leak-free bookkeeping for library functions that `localCheckpoint`
  * inside a driver loop (connected components, LSH top-k): track
  * exactly the RDD ids THIS caller's checkpoints created — read from the
  * checkpointed plans' LogicalRDD leaves, never a global
  * `getPersistentRDDs` diff, which would race a concurrent sibling call
  * and free ITS live blocks (round-3 ADVICE) — then free all of them
  * except the returned result's own blocks. One instance per call;
  * instances are not thread-safe (each call owns its own).
  */
final class CheckpointTracker(spark: SparkSession) {
  private val owned = scala.collection.mutable.Set.empty[Int]

  /** Record `df`'s checkpoint block ids; returns `df` for chaining. */
  def track(df: DataFrame): DataFrame = {
    owned ++= SessionBridge.checkpointRddIds(df)
    df
  }

  /** Unpersist every tracked block that is not part of `keep`'s plan. */
  def freeAllExcept(keep: DataFrame): Unit =
    freeAllExcept(SessionBridge.checkpointRddIds(keep))

  /** Unpersist every tracked block outside `keepIds` (empty = free all). */
  def freeAllExcept(keepIds: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (owned.contains(id) && !keepIds.contains(id)) rdd.unpersist(blocking = false)
    }
}
