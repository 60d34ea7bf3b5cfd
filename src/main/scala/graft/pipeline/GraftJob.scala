package graft.pipeline

import graft.spatial.join.SpatialJoin
import graft.tiles.Tiles

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flagship graft computation (BASELINE.json metric): spatial-join +
  * tile-assignment over the image+caption table against OSM-derived
  * polygons.
  *
  * Steps (all declarative — Catalyst plans the physical strategy):
  *   1. images → tile assignment at zoom `z` (codegen cell encode);
  *   2. images × polygons PIP join (cell equi-join at `res`, ray-cast
  *      outside interior cells; [[SpatialJoin.pipJoin]] picks broadcast or hot-cell
  *      salting from the data);
  *   3. per-tile aggregation of join hits (partial agg map-side).
  *
  * Output: one row per tile that received at least one image, with
  * [[RollupSchema]]'s columns (see [[tileRollup]]).
  */
object GraftJob {

  def run(images: DataFrame, polys: DataFrame, z: Int = 10, res: Int = 12): DataFrame = {
    val (assigned, hits) = assignAndJoin(images, polys, z, res)
    tileRollup(assigned, hits)
  }

  /** Images assigned to tiles at zoom `z`, and their PIP hits at `res`. */
  private def assignAndJoin(images: DataFrame, polys: DataFrame, z: Int,
      res: Int): (DataFrame, DataFrame) = {
    val assigned = Tiles.assignPoints(images, z)
    (assigned, SpatialJoin.pipJoin(
      assigned.select("image_id", "lon", "lat", "tile", "tile_z", "tile_x", "tile_y"),
      polys, res = res))
  }

  /** Per-tile aggregation of assigned images and their PIP hits — the ONE
    * rollup, shared by [[run]], the spark-submit pipeline ([[Main]]'s
    * bucket outputs) and [[graft.streaming.StreamingGraft]]'s deltas.
    * Columns are [[RollupSchema]]'s. `polys_sketch` is the datasketches
    * HLL sketch (`hll_sketch_agg`, default lgConfigK) of the tile's
    * `src:poly_id` keys; unlike a bare distinct-count estimate it merges
    * across batches and buckets with `hll_union_agg`, and
    * `n_distinct_polys` is its estimate ([[withDistinctPolys]]). */
  def tileRollup(assigned: DataFrame, hits: DataFrame): DataFrame = {
    val tileImages = assigned.groupBy("tile", "tile_z", "tile_x", "tile_y")
      .agg(count(lit(1)).as("n_images"))
    val tileHits = hits.groupBy("tile")
      .agg(count(lit(1)).as("n_hits"),
        hll_sketch_agg(concat(col("src"), lit(":"), col("poly_id"))).as("polys_sketch"))
    withDistinctPolys(tileImages.join(tileHits, Seq("tile"), "left"))
  }

  /** Adds `n_distinct_polys` = the estimate of `polys_sketch` and puts the
    * columns in [[RollupSchema]]'s order. A tile without hits has a null
    * sketch and counts 0 hits and 0 polygons. Also how a merged rollup
    * (summed counts, `hll_union_agg` of the sketches) is finished. */
  private[graft] def withDistinctPolys(tiles: DataFrame): DataFrame =
    tiles.withColumn("n_distinct_polys", hll_sketch_estimate(col("polys_sketch")))
      .na.fill(0L, Seq("n_hits", "n_distinct_polys"))
      .select(RollupSchema.fieldNames.toIndexedSeq.map(col): _*)

  /** The rollup's schema: of [[run]], of [[Main]]'s bucket outputs, of the
    * stream deltas and snapshots and of `StreamingGraft.rollup`. */
  val RollupSchema: StructType = StructType(Seq(
    StructField("tile", LongType), StructField("tile_z", IntegerType),
    StructField("tile_x", IntegerType), StructField("tile_y", IntegerType),
    StructField("n_images", LongType), StructField("n_hits", LongType),
    StructField("n_distinct_polys", LongType), StructField("polys_sketch", BinaryType)))

  /** The raw join rows (for parity checks / downstream training-data use). */
  def joinRows(images: DataFrame, polys: DataFrame, z: Int = 10, res: Int = 12): DataFrame =
    assignAndJoin(images, polys, z, res)._2.select("image_id", "tile", "src", "poly_id")
}
