package graft.pipeline

import graft.spatial.join.SpatialJoin
import graft.tiles.Tiles

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.graftbridge.ColumnBridge
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
  *   3. per-tile rollup of images and hits: one aggregate keyed on `tile`
  *      over both, partial agg map-side, one exchange and no join
  *      ([[tileRollup]]).
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
    * `n_distinct_polys` is its estimate ([[withDistinctPolys]]).
    *
    * One aggregate keyed on `tile` over images ∪ hits, so both sides
    * share one exchange with map-side partial aggregation and no join.
    * An image row carries `tile_z` and a non-null marker; a hit row
    * carries its `src:poly_id` key (`src` and `poly_id` are non-null on
    * every hit). Tiles without an image are dropped, as a left join from
    * the images would; `tile_x`/`tile_y` come from the packed id. */
  def tileRollup(assigned: DataFrame, hits: DataFrame): DataFrame = {
    val tileZ = assigned.schema("tile_z")
    val images = assigned.select(col("tile"), col("tile_z"), lit(true).as("image"),
      lit(null).cast(StringType).as("key"))
    // a hit without a tile matches no image
    val tileHits = hits.where(col("tile").isNotNull).select(col("tile"),
      lit(null).cast(tileZ.dataType).as("tile_z"), lit(null).cast(BooleanType).as("image"),
      concat(col("src"), lit(":"), col("poly_id")).as("key"))
    val tiles = images.union(tileHits).groupBy("tile")
      .agg(count("image").as("n_images"), max("tile_z").as("tile_z"),
        count("key").as("n_hits"), hll_sketch_agg(col("key")).as("polys_sketch"))
    val imaged = tiles.where(col("n_images") > 0)
    // every kept tile holds an image, so images that never leave tile_z
    // null keep it non-nullable, as the join's image side did
    val zKept = if (tileZ.nullable) imaged
      else imaged.withColumn("tile_z", ColumnBridge.column(KnownNotNull(ColumnBridge.expression(col("tile_z")))))
    withDistinctPolys(Tiles.withTileXY(zKept)
      .withColumn("polys_sketch", when(col("n_hits") > 0, col("polys_sketch"))))
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
