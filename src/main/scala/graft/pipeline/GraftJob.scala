package graft.pipeline

import graft.spatial.join.SpatialJoin
import graft.tiles.Tiles

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flagship graft computation (BASELINE.json metric): spatial-join +
  * tile-assignment over the image+caption table against OSM-derived
  * polygons.
  *
  * Steps (all declarative — Catalyst plans the physical strategy):
  *   1. images → tile assignment at zoom `z` (codegen cell encode);
  *   2. images × polygons PIP join (cell equi-join at `res` + exact
  *      ray-cast; [[SpatialJoin.pipJoin]] picks broadcast or hot-cell
  *      salting from the data);
  *   3. per-tile aggregation of join hits (partial agg map-side).
  *
  * Output: (tile, tile_z, tile_x, tile_y, n_images, n_hits,
  * n_distinct_polys) — one row per tile that received at least one image.
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
    * definition of the flagship output schema (tile, tile_z, tile_x,
    * tile_y, n_images, n_hits, n_distinct_polys). Shared with the
    * spark-submit pipeline ([[Main]]), which previously re-implemented it
    * inline and had already drifted (it dropped n_distinct_polys). */
  def tileRollup(assigned: DataFrame, hits: DataFrame): DataFrame = {
    val tileImages = assigned.groupBy("tile", "tile_z", "tile_x", "tile_y")
      .agg(count(lit(1)).as("n_images"))
    val tileHits = hits.groupBy("tile")
      .agg(count(lit(1)).as("n_hits"),
        approx_count_distinct(concat(col("src"), lit(":"), col("poly_id"))).as("n_distinct_polys"))
    tileImages.join(tileHits, Seq("tile"), "left")
      .na.fill(0L, Seq("n_hits", "n_distinct_polys"))
  }

  /** [[run]] minus the non-additive distinct-poly sketch — the per-batch
    * delta shape [[graft.streaming.StreamingGraft]] persists. Explicitly
    * sketch-free rather than `run(...).drop(...)`: the HLL buffer and the
    * per-hit `concat(src, poly_id)` allocation must never be built at all
    * on the streaming hot path, not rely on the optimizer pruning an
    * unused aggregate (round-6). */
  def runAdditive(images: DataFrame, polys: DataFrame, z: Int = 10, res: Int = 12): DataFrame = {
    val (assigned, hits) = assignAndJoin(images, polys, z, res)
    val tileImages = assigned.groupBy("tile", "tile_z", "tile_x", "tile_y")
      .agg(count(lit(1)).as("n_images"))
    val tileHits = hits.groupBy("tile").agg(count(lit(1)).as("n_hits"))
    tileImages.join(tileHits, Seq("tile"), "left")
      .na.fill(0L, Seq("n_hits"))
  }

  /** The raw join rows (for parity checks / downstream training-data use). */
  def joinRows(images: DataFrame, polys: DataFrame, z: Int = 10, res: Int = 12): DataFrame =
    assignAndJoin(images, polys, z, res)._2.select("image_id", "tile", "src", "poly_id")
}
