package graft.pipeline

import graft.osmpbf.source.OsmPbf
import graft.spatial.geom.Assembly
import graft.tiles.{ImageTable, Tiles}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry point for the graft pipeline (north_rule: "jobs run
  * via spark-submit, resume from per-partition checkpoints carrying lineage
  * and metrics").
  *
  *   spark-submit --class graft.pipeline.Main osmpbfspark.jar \
  *     <osm.pbf path> <imageTable root> <outDir> [zoom] [res]
  *
  * Re-running with the same outDir resumes: buckets with valid checkpoint
  * markers are skipped (CheckpointedRunner). All knobs that matter at
  * cluster scale (shuffle partitions, AQE, broadcast threshold) are left to
  * spark-submit --conf so the same binary runs local[N] and a real cluster.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Main <pbfPath> <imageTableRoot> <outDir> [zoom] [res]")
    val Array(pbfPath, imagesRoot, outDir) = args.take(3)
    val z = if (args.length > 3) args(3).toInt else 10
    val res = if (args.length > 4) args(4).toInt else 12

    val spark = SparkSession.builder().appName("graft-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val snapshot = ImageTable.currentSnapshot(spark, imagesRoot)
    // load the PINNED snapshot, not current: a concurrent append committing
    // between the two calls would otherwise stamp every checkpoint marker
    // with lineage snapshot N while the rows actually processed came from
    // N+1 — wrong provenance, and a later pinned re-run would skip buckets
    // computed from the newer data
    val images = ImageTable.loadSnapshot(spark, imagesRoot, snapshot)
    val nodes = OsmPbf.nodes(spark, pbfPath).toDF()
    val ways = OsmPbf.ways(spark, pbfPath).toDF()
    val rels = OsmPbf.relations(spark, pbfPath).toDF()
    val polys = Assembly.polygons(nodes, ways, rels)
    // one cover explosion shared by every bucket job (the per-bucket joins
    // would otherwise each re-explode the full polygon set at `res`)
    val polyCells = graft.spatial.join.SpatialJoin
      .preparedPolygonCells(polys, res).localCheckpoint()

    val tiled = Tiles.assignPoints(images.select("image_id", "lon", "lat"), z)
    // `rollup=` names the bucket output format: an output dir written in
    // another format re-stages and re-runs instead of mixing schemas
    val lineage = s"images-snapshot=$snapshot pbf=$pbfPath z=$z res=$res rollup=hll-sketch"
    val results = CheckpointedRunner.run(spark, tiled, outDir,
      slice => {
        val hits = graft.spatial.join.SpatialJoin.pipJoin(slice, polys,
          res = res, preparedCells = Some(polyCells))
        // the library's flagship rollup — one schema definition, not an
        // inline re-implementation that can drift
        GraftJob.tileRollup(slice, hits)
      },
      bucketRes = 2, lineage = lineage,
      // the work closure above touches no shared driver state, so bucket
      // jobs run concurrently (small-bucket tails would otherwise
      // serialize on the driver)
      parallelism = 4)

    val done = results.count(!_.skipped)
    val skipped = results.count(_.skipped)
    println(s"[graft-pipeline] buckets done=$done skipped=$skipped " +
      s"rows=${results.filterNot(_.skipped).map(_.rows).sum} lineage='$lineage'")
    spark.stop()
  }
}
