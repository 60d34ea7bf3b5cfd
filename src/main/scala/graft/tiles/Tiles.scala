package graft.tiles

import graft.spatial.cell.{functions => F}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Raster↔vector tile assignment (north_star: "raster↔vector tile
  * assignment over tables of image+caption pairs").
  *
  * A tile IS a cell at zoom z (CellMath packing), so point→tile is the
  * codegen cell encode and vector→tile is the PIP join's polygon cover.
  * Assignment semantics (deterministic, oracle-reproducible):
  *   - a point (image) belongs to exactly one tile: `cell_of(lon, lat, z)`;
  *   - a polygon is assigned every tile over its rings' extent that a ring
  *     edge meets (the tile's closed rectangle) or whose center lies inside
  *     the polygon (even-odd, so holes are excluded): `F.polygon_cells`.
  */
object Tiles {

  /** Adds `tile` (packed cell id) + `tile_x`/`tile_y`/`tile_z` columns. */
  def assignPoints(points: DataFrame, z: Int,
      lonCol: String = "lon", latCol: String = "lat"): DataFrame =
    points
      .withColumn("tile", F.cell_of(col(lonCol), col(latCol), z))
      .withColumn("tile_z", lit(z))
      .transform(withTileXY)

  /** Adds `tile_x`/`tile_y`, read off the packed `tile` id (CellMath's
    * layout: x in bits 29..57, y in bits 0..28); null where `tile` is. */
  private[graft] def withTileXY(tiles: DataFrame): DataFrame =
    tiles
      .withColumn("tile_x", shiftright(col("tile"), 29).bitwiseAND(lit(0x1FFFFFFFL)).cast("int"))
      .withColumn("tile_y", col("tile").bitwiseAND(lit(0x1FFFFFFFL)).cast("int"))

  /** polygons(id, rings, ...) → (id, tile) pairs at zoom z. */
  def assignPolygons(polys: DataFrame, z: Int): DataFrame =
    polys.select(col("id"), inline(F.polygon_cells(col("rings"), z))).select(col("id"), col("cell").as("tile"))

  /** Per-tile aggregation of an assigned point table (A7): image counts +
    * any numeric payload stats, partial-agg friendly. */
  def tileStats(assigned: DataFrame, valueCol: Option[String] = None): DataFrame = {
    val base = assigned.groupBy(col("tile"), col("tile_z"), col("tile_x"), col("tile_y"))
    valueCol match {
      case Some(v) => base.agg(count(lit(1)).as("n"), avg(col(v)).as("avg_value"),
        min(col(v)).as("min_value"), max(col(v)).as("max_value"))
      case None => base.agg(count(lit(1)).as("n"))
    }
  }
}
