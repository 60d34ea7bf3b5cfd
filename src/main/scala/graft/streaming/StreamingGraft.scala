package graft.streaming

import graft.pipeline.GraftJob
import graft.tiles.Tiles

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming graft: incremental tile maintenance over an image STREAM
  * joined against the static polygon index — the stream-shaped form of the
  * flagship job (north_star: a growing 10^12-image table whose new batches
  * must update tile stats without rescanning history).
  *
  * Shape: the batch graft job's PIP join picks broadcast or hot-cell
  * salting per run from size estimates, and its salted path counts
  * cells under a window — not a single incremental streaming plan. The
  * supported Spark idiom is `foreachBatch`:
  * each micro-batch runs the (already scale-disciplined) batch job over
  * the NEW images only and appends that batch's per-tile DELTAS — the
  * batch job's own rollup ([[GraftJob.tileRollup]]). Deltas merge: counts
  * sum and the `polys_sketch` HLL sketches union (merged ≡ full recompute,
  * proven in PipelineSpec's incremental-maintenance test). They are folded
  * on read, or periodically into a compacted snapshot via [[compact]] so
  * per-rollup cost stays O(tiles + batches-since-last-compact), not
  * O(all batches). Deltas, snapshots and [[rollup]] all have
  * [[GraftJob.RollupSchema]].
  *
  * Exactly-once: deltas land in a `batch_id=<id>` partition written with
  * dynamic partition overwrite, so a retried micro-batch REPLACES its own
  * partition instead of double-counting — idempotent per batch id, the
  * standard foreachBatch sink contract.
  *
  * A delta dir written before the rollup carried `polys_sketch` (deltas
  * of `n_images`/`n_hits` only) cannot be folded: [[rollup]] and
  * [[compact]] fail on the missing column. Delete it and restart the
  * stream from a fresh checkpoint.
  */
object StreamingGraft {

  /** Start the incremental maintenance query (AvailableNow by default:
    * drain what exists, then stop — restart to pick up new files).
    *
    * @param compactEvery fold deltas into a snapshot ([[compact]]) after
    *        every N micro-batches (0 = never; run compact() out of band).
    *        Compaction runs inside the foreachBatch callback — the
    *        maintenance window where no concurrent rollup of this query's
    *        own output is racing the GC. */
  def run(imagesStream: DataFrame, polys: DataFrame, deltaDir: String,
      checkpointDir: String, z: Int = 10, res: Int = 12,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    imagesStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchDelta(batch, polys, deltaDir, batchId, z, res)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          compact(batch.sparkSession, deltaDir)
          ()
        }
      }
      .trigger(trigger)
      .start()

  /** One micro-batch's delta write — exposed so a retry can be exercised
    * directly (same batchId → same partition replaced, totals unchanged). */
  def writeBatchDelta(batch: DataFrame, polys: DataFrame, deltaDir: String,
      batchId: Long, z: Int, res: Int): Unit =
    // micro-batches are SMALL relative to the static polygon index: while
    // either side's size estimate fits the broadcast threshold, pipJoin's
    // per-batch delta is a broadcast join with zero shuffle of the batch,
    // instead of a hot-cell occupancy count + (cell, salt) shuffle per batch
    GraftJob.run(batch, polys, z = z, res = res)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(deltaDir)

  /** Current tile stats = latest compacted snapshot (if any) merged with
    * the delta partitions NEWER than it. An empty source (no
    * micro-batch ever fired, so no delta dir exists) is empty stats, not a
    * missing-path error.
    *
    * The snapshot watermark also closes the one retry hole compaction
    * opens: a micro-batch whose delta was already folded (its checkpoint
    * commit lost, so foreachBatch replays it) rewrites `batch_id=N` with
    * N <= watermark — and rollup ignores it, so the replay cannot
    * double-count against the snapshot that already contains it. */
  def rollup(spark: SparkSession, deltaDir: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val w = latestSnapshotVersion(deltaDir, conf)
    val tail = deltaBatchIds(deltaDir, conf).filter(_ > w)
    foldStats(spark, deltaDir, w, tail).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], GraftJob.RollupSchema))
  }

  /** snapshot(v) + merge of the PINNED `tail` partition list, or
    * None when both are absent. The ONE fold implementation, shared by
    * `rollup` (read path) and `compact` (write path) so the aggregation
    * shape — and therefore snapshot ≡ folded-deltas equivalence — cannot
    * drift between them. Callers pass the tail listing explicitly; this
    * never re-lists (see compact's pinned-listing invariant). */
  private def foldStats(spark: SparkSession, deltaDir: String, snapshotV: Long,
      tail: Seq[Long]): Option[DataFrame] = {
    val parts = Seq(
      if (snapshotV >= 0) Some(spark.read.parquet(snapshotPath(deltaDir, snapshotV))) else None,
      if (tail.nonEmpty)
        Some(spark.read.option("basePath", deltaDir)
          .parquet(tail.map(id => s"$deltaDir/batch_id=$id"): _*)
          .drop("batch_id"))
      else None
    ).flatten
    if (parts.isEmpty) None
    else Some(GraftJob.withDistinctPolys(Tiles.withTileXY(parts.reduce(_ unionByName _)
      .groupBy("tile")
      .agg(max("tile_z").as("tile_z"), sum("n_images").as("n_images"), sum("n_hits").as("n_hits"),
        hll_union_agg(col("polys_sketch")).as("polys_sketch")))))
  }

  /** Fold every delta partition written so far (plus the previous
    * snapshot) into a new compacted snapshot, then garbage-collect the
    * folded partitions and superseded snapshot versions. Without this,
    * `rollup` cost and small-file count grow linearly with micro-batch
    * count — after 10^4 micro-batches each rollup re-lists and re-reads
    * 10^4 tiny partitions.
    *
    * Crash-safe by write-then-GC ordering: the new snapshot lands under
    * `_snapshot/v=<maxFoldedBatchId>/` (picked up only once its parquet
    * `_SUCCESS` marker exists), so a crash between snapshot write and GC
    * leaves stale delta partitions that rollup already ignores (their
    * batch_id <= the new watermark) — pure garbage, re-collected by the
    * next compact. The `_`-prefixed dir keeps the snapshot invisible to
    * any direct parquet read of the delta dir.
    *
    * GC deletes files a concurrently *planned* rollup may still reference;
    * like any file-based table without a catalog, run compaction from the
    * maintenance path (e.g. between micro-batches in the foreachBatch
    * driver thread — the compactEvery wiring). A reader that does race a
    * compact fails LOUDLY with FileNotFoundException and should re-plan
    * its rollup; do NOT paper over it with
    * `spark.sql.files.ignoreMissingFiles` — rollup lists the snapshot
    * version before the deltas, so a compact committing between the two
    * listings makes that setting silently skip the vanished old snapshot
    * and UNDERCOUNT every batch it contained, which is strictly worse
    * than the error.
    *
    * Returns the new watermark (max folded batch id), or the previous one
    * if there was nothing new to fold. */
  def compact(spark: SparkSession, deltaDir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(deltaDir).getFileSystem(conf)
    def gcDeltasUpTo(w: Long): Unit =
      deltaBatchIds(deltaDir, conf).filter(_ <= w)
        .foreach(id => fs.delete(new Path(s"$deltaDir/batch_id=$id"), true))
    val oldW = latestSnapshotVersion(deltaDir, conf)
    val tail = deltaBatchIds(deltaDir, conf).filter(_ > oldW)
    if (tail.isEmpty) {
      // nothing new to fold, but stale partitions a replayed batch rewrote
      // at-or-below the watermark are still garbage — reclaim them now
      // instead of waiting for the next data-bearing compact
      gcDeltasUpTo(oldW)
      return oldW
    }
    val newW = tail.max
    // The snapshot is built from the EXPLICIT tail listing above, never a
    // re-listing: a micro-batch landing between two listings would
    // otherwise be folded into the snapshot while sitting ABOVE the
    // watermark — rollup would then read it again, double-counting
    // forever. With the pinned list, a concurrent batch > newW is simply
    // not folded (rollup picks it up as tail). The one remaining unsafe
    // concurrency is a retry REWRITING a batch id <= newW mid-fold; the
    // foreachBatch callback serializes that in-stream (compactEvery), and
    // out-of-band callers must not run compact while a writer to the SAME
    // delta dir is active.
    foldStats(spark, deltaDir, oldW, tail).get // tail nonEmpty ⇒ defined
      .write.mode("overwrite").parquet(snapshotPath(deltaDir, newW))
    // GC everything at-or-below the new watermark — including stale
    // partitions a replayed pre-compaction batch rewrote below the OLD
    // watermark (already in the snapshot, ignored by rollup, pure garbage)
    gcDeltasUpTo(newW)
    // superseded snapshot versions, INCLUDING half-written (_SUCCESS-less)
    // leftovers from a crashed compact — they'd otherwise accumulate
    listChildIds(s"$deltaDir/_snapshot", "v=", conf, requireSuccess = false)
      .filter(_ < newW)
      .foreach(v => fs.delete(new Path(snapshotPath(deltaDir, v)), true))
    newW
  }

  private def snapshotPath(deltaDir: String, v: Long): String =
    s"$deltaDir/_snapshot/v=$v"

  /** Delta partition ids present on disk (`batch_id=N` dirs). */
  private def deltaBatchIds(deltaDir: String, conf: Configuration): Seq[Long] =
    listChildIds(deltaDir, "batch_id=", conf, requireSuccess = false)

  /** Committed snapshot versions (dirs with a parquet `_SUCCESS` marker —
    * a half-written snapshot from a crashed compact is never selected). */
  private def snapshotVersions(deltaDir: String, conf: Configuration): Seq[Long] =
    listChildIds(s"$deltaDir/_snapshot", "v=", conf, requireSuccess = true)

  private def latestSnapshotVersion(deltaDir: String, conf: Configuration): Long = {
    val vs = snapshotVersions(deltaDir, conf)
    if (vs.isEmpty) -1L else vs.max
  }

  private def listChildIds(dir: String, prefix: String, conf: Configuration,
      requireSuccess: Boolean): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        if (!name.startsWith(prefix)) None
        else scala.util.Try(name.stripPrefix(prefix).toLong).toOption
          .filter(_ => !requireSuccess || fs.exists(new Path(st.getPath, "_SUCCESS")))
      }
  }
}
