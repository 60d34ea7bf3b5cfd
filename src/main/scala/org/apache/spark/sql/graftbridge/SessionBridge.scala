package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session/plan bridge for Spark 4's `private[sql]` classic API (same
  * pattern as [[ColumnBridge]]). Two uses in graft:
  *
  *   - iterative driver loops (connected components) run on a
  *     CLONED session so their conf flips (AQE off, loop-sized shuffle
  *     partitions) can never leak into the caller's session — `cloneSession`
  *     copies the full session state (conf, UDFs, temp views) but shares the
  *     SparkContext and cache, and `ofRows` re-roots a DataFrame's logical
  *     plan onto the clone (plans are session-agnostic; execution conf comes
  *     from the session the action runs on);
  *   - leak-free checkpoint cleanup: `checkpointRddIds` reads the persistent
  *     RDD ids a (local)checkpointed DataFrame actually owns (its LogicalRDD
  *     leaves), so library loops unpersist exactly the blocks THEY created —
  *     never a concurrent caller's (round-3 ADVICE: the global
  *     getPersistentRDDs diff raced sibling lshTopK/Components calls).
  */
object SessionBridge {

  /** Clone `s`: isolated copy of the session state over the shared context. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Re-root `df`'s logical plan onto `session` (must share the context). */
  def ofRows(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)

  /** Persistent RDD ids owned by the LogicalRDD leaves of `df`'s plan — for
    * a `localCheckpoint()` result, exactly the checkpointed block's id. */
  def checkpointRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
}
