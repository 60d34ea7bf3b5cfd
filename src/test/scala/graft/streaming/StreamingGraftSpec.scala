package graft.streaming

import graft.SparkTestBase
import graft.fixtures.OsmWorld
import graft.osmpbf.source.OsmPbf
import graft.pipeline.{CheckpointedRunner, GraftJob}
import graft.spatial.geom.Assembly
import graft.spatial.join.SpatialJoin
import graft.tiles.{Images, Tiles}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingGraftSpec extends AnyFunSuite with SparkTestBase {

  private lazy val (pbfPath, world) = OsmWorld.cachedPbf(tmpDir, seed = 42, nClusters = 4, nodesPerCluster = 100)
  private lazy val polys = {
    val nodes = OsmPbf.nodes(spark, pbfPath).toDF()
    val ways = OsmPbf.ways(spark, pbfPath).toDF()
    val rels = OsmPbf.relations(spark, pbfPath).toDF()
    Assembly.polygons(nodes, ways, rels).localCheckpoint()
  }

  /** Per-tile (n_images, n_hits, n_distinct_polys): the streamed fold must
    * equal the batch job in all three, the merged sketch included. */
  private def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => r.getAs[Long]("tile") ->
      ((r.getAs[Long]("n_images"), r.getAs[Long]("n_hits"), r.getAs[Long]("n_distinct_polys"))))
    .toMap

  test("streamed batches fold to the batch graft job's tile stats; retries are idempotent") {
    val all = Images.synthesize(spark, 400, world.clusterCenters, 4).cache()
    def slice(lo: Long, hi: Long) = all.where(
      col("image_id") >= Images.idString(lo) && col("image_id") < Images.idString(hi))
    // two source files → two micro-batches (maxFilesPerTrigger = 1)
    val srcDir = s"$tmpDir/sgraft-src"
    slice(0, 250).coalesce(1).write.mode("overwrite").parquet(s"$srcDir/f1")
    slice(250, 400).coalesce(1).write.mode("overwrite").parquet(s"$srcDir/f2")
    val schema = all.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
    val deltaDir = s"$tmpDir/sgraft-delta"
    val q = StreamingGraft.run(stream, polys, deltaDir, s"$tmpDir/sgraft-ckpt", z = 10, res = 12)
    q.awaitTermination()
    // at least two batch partitions landed
    val batches = spark.read.parquet(deltaDir).select("batch_id").distinct().count()
    assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
    val streamed = asMap(StreamingGraft.rollup(spark, deltaDir))
    val batch = asMap(GraftJob.run(all, polys, z = 10, res = 12))
    assert(batch.values.exists(_._3 > 1L), "fixture has no tile with several polygons")
    assert(streamed === batch, "merge of streamed deltas != batch recompute")
    // retry semantics: re-running a batch with the SAME id replaces its
    // partition — totals unchanged (the at-least-once foreachBatch contract)
    StreamingGraft.writeBatchDelta(slice(0, 250), polys, deltaDir, batchId = 0L, z = 10, res = 12)
    assert(asMap(StreamingGraft.rollup(spark, deltaDir)) === batch,
      "retried micro-batch double-counted its delta")
    // one rollup schema: the batch job, the empty and the non-empty
    // streamed rollup, and a Main-shaped checkpointed bucket output (less
    // its `bucket` partition column) have the same field names and types
    val emptyRollup = StreamingGraft.rollup(spark, s"$tmpDir/sg-never-written")
    assert(emptyRollup.count() === 0)
    val outDir = s"$tmpDir/sgraft-main-shaped"
    CheckpointedRunner.run(spark, Tiles.assignPoints(all.select("image_id", "lon", "lat"), 10),
      outDir, slice => GraftJob.tileRollup(slice, SpatialJoin.pipJoin(slice, polys, res = 12)),
      bucketRes = 2, lineage = "schema-check")
    def fields(schema: org.apache.spark.sql.types.StructType) = schema.map(f => f.name -> f.dataType)
    Seq("GraftJob.run" -> GraftJob.run(all, polys, z = 10, res = 12),
      "empty rollup" -> emptyRollup,
      "rollup" -> StreamingGraft.rollup(spark, deltaDir),
      "bucket outputs" -> CheckpointedRunner.readOutput(spark, outDir).drop("bucket"))
      .foreach { case (what, df) => assert(fields(df.schema) === fields(GraftJob.RollupSchema), what) }
    assert(asMap(CheckpointedRunner.readOutput(spark, outDir)) === batch,
      "bucket outputs != batch recompute")
  }

  test("a delta dir without polys_sketch fails rollup and compact instead of dropping the count") {
    // the delta shape before the rollup kept its sketch: counts only
    val deltaDir = s"$tmpDir/sgraft-counts-only-delta"
    spark.range(3).select(col("id").as("tile"), lit(10).as("tile_z"), lit(0).as("tile_x"),
        lit(0).as("tile_y"), lit(1L).as("n_images"), lit(0L).as("n_hits"), lit(0L).as("batch_id"))
      .write.partitionBy("batch_id").parquet(deltaDir)
    intercept[org.apache.spark.sql.AnalysisException](StreamingGraft.rollup(spark, deltaDir))
    intercept[org.apache.spark.sql.AnalysisException](StreamingGraft.compact(spark, deltaDir))
  }

  test("compact folds deltas into a snapshot; rollup, retries and GC stay correct") {
    val all = Images.synthesize(spark, 300, world.clusterCenters, 4).cache()
    def slice(lo: Long, hi: Long) = all.where(
      col("image_id") >= Images.idString(lo) && col("image_id") < Images.idString(hi))
    val deltaDir = s"$tmpDir/sgraft-compact-delta"
    def deltaPartitions(): Seq[String] = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
      val p = new org.apache.hadoop.fs.Path(deltaDir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.startsWith("batch_id="))
    }

    // nothing to fold: no-op, no snapshot dir conjured
    assert(StreamingGraft.compact(spark, deltaDir) === -1L)

    // two batches, compact mid-stream
    StreamingGraft.writeBatchDelta(slice(0, 100), polys, deltaDir, batchId = 0L, z = 10, res = 12)
    StreamingGraft.writeBatchDelta(slice(100, 200), polys, deltaDir, batchId = 1L, z = 10, res = 12)
    assert(StreamingGraft.compact(spark, deltaDir) === 1L)
    assert(deltaPartitions().isEmpty, "compact must GC folded batch partitions")
    val firstTwo = asMap(GraftJob.run(slice(0, 200), polys, z = 10, res = 12))
    assert(asMap(StreamingGraft.rollup(spark, deltaDir)) === firstTwo,
      "rollup after compact != batch recompute of folded batches")

    // stream continues past the snapshot: rollup = snapshot + tail
    StreamingGraft.writeBatchDelta(slice(200, 300), polys, deltaDir, batchId = 2L, z = 10, res = 12)
    val full = asMap(GraftJob.run(all, polys, z = 10, res = 12))
    assert(asMap(StreamingGraft.rollup(spark, deltaDir)) === full,
      "rollup over snapshot + tail deltas != full batch recompute")

    // retry of an ALREADY-FOLDED batch (checkpoint commit lost, foreachBatch
    // replays id 1): its rewritten partition sits below the watermark and
    // must not double-count against the snapshot that already contains it
    StreamingGraft.writeBatchDelta(slice(100, 200), polys, deltaDir, batchId = 1L, z = 10, res = 12)
    assert(asMap(StreamingGraft.rollup(spark, deltaDir)) === full,
      "replayed pre-compaction batch double-counted against the snapshot")

    // second compact folds the tail + absorbs the stale replayed partition;
    // old snapshot version is GC'd, exactly one committed version remains
    assert(StreamingGraft.compact(spark, deltaDir) === 2L)
    assert(deltaPartitions().isEmpty)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val snaps = fs.listStatus(new org.apache.hadoop.fs.Path(s"$deltaDir/_snapshot"))
      .map(_.getPath.getName).filter(_.startsWith("v=")).toSeq
    assert(snaps === Seq("v=2"), s"expected only v=2 to survive GC, got $snaps")
    assert(asMap(StreamingGraft.rollup(spark, deltaDir)) === full)
    // idempotent re-compact with nothing new
    assert(StreamingGraft.compact(spark, deltaDir) === 2L)
    assert(asMap(StreamingGraft.rollup(spark, deltaDir)) === full)
    // a replay landing when there is NOTHING new to fold: the no-op compact
    // must still reclaim the stale sub-watermark partition (it would
    // otherwise linger until the next data-bearing compact)
    StreamingGraft.writeBatchDelta(slice(0, 100), polys, deltaDir, batchId = 0L, z = 10, res = 12)
    assert(asMap(StreamingGraft.rollup(spark, deltaDir)) === full)
    assert(StreamingGraft.compact(spark, deltaDir) === 2L)
    assert(deltaPartitions().isEmpty, "no-op compact left the stale replayed partition")
    assert(asMap(StreamingGraft.rollup(spark, deltaDir)) === full)
  }

  test("auto-compaction inside the streaming query keeps rollup ≡ batch recompute") {
    val all = Images.synthesize(spark, 300, world.clusterCenters, 4).cache()
    def slice(lo: Long, hi: Long) = all.where(
      col("image_id") >= Images.idString(lo) && col("image_id") < Images.idString(hi))
    val srcDir = s"$tmpDir/sgraft-auto-src"
    slice(0, 100).coalesce(1).write.mode("overwrite").parquet(s"$srcDir/f1")
    slice(100, 200).coalesce(1).write.mode("overwrite").parquet(s"$srcDir/f2")
    slice(200, 300).coalesce(1).write.mode("overwrite").parquet(s"$srcDir/f3")
    val deltaDir = s"$tmpDir/sgraft-auto-delta"
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
    val q = StreamingGraft.run(stream, polys, deltaDir, s"$tmpDir/sgraft-auto-ckpt",
      z = 10, res = 12, compactEvery = 2)
    q.awaitTermination()
    val batch = asMap(GraftJob.run(all, polys, z = 10, res = 12))
    assert(asMap(StreamingGraft.rollup(spark, deltaDir)) === batch,
      "rollup after in-stream compaction != batch recompute")
    // a snapshot exists and the folded batch partitions are gone
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$deltaDir/_snapshot")),
      "compactEvery never produced a snapshot")
    val remaining = fs.listStatus(new org.apache.hadoop.fs.Path(deltaDir))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSeq
    assert(remaining.size <= 1, s"folded partitions not GC'd: $remaining")
  }
}
