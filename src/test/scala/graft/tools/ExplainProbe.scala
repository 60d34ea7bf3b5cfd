package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan-inspection probe (Test/runMain graft.tools.ExplainProbe <sfDir>):
  * prints formatted physical plans for representative queries so pushdown,
  * broadcast choice, partition pruning, and codegen spans can be eyeballed
  * after changes. */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[4]").appName("explain")
      .config("spark.sql.shuffle.partitions", 4).config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n================ $name ================")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    show("q1_agg (expect PushedAggregates? no — but ReadSchema pruned to 5 cols)",
      graft.SparkEntry.queries("q1_agg")(spark, sfDir))
    show("q3_filter (expect PushedFilters on l_discount/l_quantity/l_returnflag)",
      graft.SparkEntry.queries("q3_filter")(spark, sfDir))

    val (pbfPath, world) = graft.fixtures.OsmWorld.cachedPbf("/tmp/probe-fx", 42L, 4, 100)
    show("osmpbf kind+id pushdown (expect kinds mask + idRange in scan description)",
      spark.read.format("osmpbf").load(pbfPath)
        .where(col("kind") === "way" && col("id") >= 100L && col("id") <= 2000L)
        .select("id", "refs"))

    val images = graft.tiles.Images.synthesize(spark, 2000, world.clusterCenters, 4)
    val nodes = graft.osmpbf.source.OsmPbf.nodes(spark, pbfPath).toDF()
    val ways = graft.osmpbf.source.OsmPbf.ways(spark, pbfPath).toDF()
    val rels = graft.osmpbf.source.OsmPbf.relations(spark, pbfPath).toDF()
    val polys = graft.spatial.geom.Assembly.polygons(nodes, ways, rels)
    show("GraftJob, default broadcast threshold (expect BroadcastHashJoin on cell, no salt_id)",
      graft.pipeline.GraftJob.run(images, polys))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    show("GraftJob, broadcast threshold -1 (expect shuffle join keyed (cell, salt_id))",
      graft.pipeline.GraftJob.run(images, polys))
    // the salted path's occupancy subtree feeds TWO broadcast probes
    // (polygon marking + point marking). The static plan shows both; at
    // runtime AQE's stage reuse must collapse the second into a reused
    // broadcast stage — check the FINAL adaptive plan.
    val hotSalted = graft.spatial.join.SpatialJoin.pipJoin(
      graft.tiles.Tiles.assignPoints(images, 10).select("image_id", "lon", "lat"),
      polys, res = 12)
    show("pipJoin salted, threshold -1 (static: two occupancy subtrees; AQE reuses at runtime)",
      hotSalted)
    // collect() (NOT count()) — count() builds a NEW QueryExecution over
    // groupBy().count(), leaving hotSalted.queryExecution unexecuted;
    // collect() runs this Dataset's own plan, so executedPlan below is the
    // FINAL adaptive plan with materialized query stages
    hotSalted.collect()
    val finalPlan = hotSalted.queryExecution.executedPlan.toString
    val bqsIds = "BroadcastQueryStage ([0-9]+)".r
      .findAllMatchIn(finalPlan).map(_.group(1)).toList
    println(s"salted FINAL adaptive plan: BroadcastQueryStage ids = $bqsIds " +
      s"(a repeated id means AQE reused the occupancy broadcast — ONE scan+agg at runtime)")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    val staged = s"/tmp/probe-staged"
    graft.util.HadoopIO.delete(staged, spark.sessionState.newHadoopConf())
    graft.tiles.Tiles.assignPoints(images, 10)
      .withColumn("_bucket", graft.spatial.cell.functions.cell_parent(col("tile"), 2))
      .write.partitionBy("_bucket").parquet(staged)
    val one = spark.read.parquet(staged)
    show("CheckpointedRunner bucket slice (expect PartitionFilters: [_bucket = N])",
      one.where(col("_bucket") === one.select("_bucket").head().getLong(0)))
    spark.stop()
  }
}
