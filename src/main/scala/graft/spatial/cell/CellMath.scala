package graft.spatial.cell

/** Int64 hierarchical cell index (H3/S2-style discrete global grid,
  * realized as an equirectangular quadtree — from-scratch, no external
  * geo jar; SURVEY.md C11).
  *
  * Layout of a cell id (64 bits):
  *   bits 58..62 : resolution (0..29)
  *   bits 29..57 : x  (0 .. 2^res-1), lon axis
  *   bits  0..28 : y  (0 .. 2^res-1), lat axis, y=0 at lat=+90 (north)
  *
  * At resolution r the world is a 2^r × 2^r grid over
  * lon ∈ [-180,180], lat ∈ [-90,90]. `zValue` interleaves x/y bits
  * (Morton order) for locality-preserving range partitioning by cell
  * prefix (north_rule "explicit range-partitioning by cell prefix").
  *
  * All functions are static, branch-light, and allocation-free so the
  * Catalyst codegen expressions (CellExpressions.scala) can call them
  * from generated Java.
  */
object CellMath {
  final val MaxRes = 29

  @inline def xOf(cell: Long): Int = ((cell >>> 29) & 0x1FFFFFFFL).toInt
  @inline def yOf(cell: Long): Int = (cell & 0x1FFFFFFFL).toInt
  @inline def resOf(cell: Long): Int = ((cell >>> 58) & 0x1FL).toInt

  @inline def pack(res: Int, x: Int, y: Int): Long =
    (res.toLong << 58) | (x.toLong << 29) | y.toLong

  /** (lon,lat) → cell id at resolution res. Points exactly on the +180 /
    * -90 edges clamp into the last row/column. res is validated: at 30+
    * the x/y bits overflow into the packed resolution field (and >= 32
    * wraps the Java shift entirely), silently producing corrupt ids whose
    * equi-joins mismatch — fail loudly instead. */
  def cellOf(lon: Double, lat: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"resolution must be in [0, $MaxRes], got $res")
    val n = 1 << res
    var x = ((lon + 180.0) / 360.0 * n).toInt
    var y = ((90.0 - lat) / 180.0 * n).toInt
    if (x >= n) x = n - 1
    if (x < 0) x = 0
    if (y >= n) y = n - 1
    if (y < 0) y = 0
    pack(res, x, y)
  }

  def parent(cell: Long): Long = {
    val r = resOf(cell)
    require(r > 0, "resolution 0 has no parent")
    pack(r - 1, xOf(cell) >> 1, yOf(cell) >> 1)
  }

  def parentAt(cell: Long, targetRes: Int): Long = {
    val r = resOf(cell)
    require(targetRes <= r, s"parentAt($targetRes) above cell res $r")
    val shift = r - targetRes
    pack(targetRes, xOf(cell) >> shift, yOf(cell) >> shift)
  }

  /** Children at res+1 (quadtree: 4). */
  def children(cell: Long): Array[Long] = {
    val r = resOf(cell); val x = xOf(cell); val y = yOf(cell)
    Array(pack(r + 1, 2 * x, 2 * y), pack(r + 1, 2 * x + 1, 2 * y),
      pack(r + 1, 2 * x, 2 * y + 1), pack(r + 1, 2 * x + 1, 2 * y + 1))
  }

  /** Cells exactly k rings away (Chebyshev distance == k); k=0 → the cell
    * itself. Longitude wraps; latitude clamps at the poles. This is the
    * building block of cell-ring-expansion kNN (north_star J4). */
  def ring(cell: Long, k: Int): Array[Long] = {
    val r = resOf(cell); val n = 1 << r
    val cx = xOf(cell); val cy = yOf(cell)
    if (k == 0) return Array(cell)
    val out = new Array[Long](8 * k)
    var i = 0
    var dx = -k
    while (dx <= k) {
      var dy = -k
      while (dy <= k) {
        if (math.max(math.abs(dx), math.abs(dy)) == k) {
          val y = cy + dy
          if (y >= 0 && y < n) {
            var x = (cx + dx) % n
            if (x < 0) x += n
            out(i) = pack(r, x, y)
            i += 1
          }
        }
        dy += 1
      }
      dx += 1
    }
    if (i == out.length) out else java.util.Arrays.copyOf(out, i)
  }

  /** Minimal cover of a lon/lat bbox at resolution res, column by column.
    * Each index is clamped on BOTH sides (one-sided clamping left a
    * degenerate bbox exactly on the lon=180 / lat=-90 edge with an EMPTY
    * cover while cellOf clamps the matching point inside — the pair
    * silently never joined); an inverted bbox (min > max on either axis,
    * e.g. the extent of no points) yields an empty cover. */
  def coverBBox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double, res: Int): Array[Long] = {
    require(res >= 0 && res <= MaxRes, s"resolution must be in [0, $MaxRes], got $res")
    val n = 1 << res
    @inline def clamp(v: Double): Int = { val i = v.toInt; if (i < 0) 0 else if (i >= n) n - 1 else i }
    if (minLon > maxLon || minLat > maxLat) return Array.empty
    val (x0, x1) = (clamp((minLon + 180.0) / 360.0 * n), clamp((maxLon + 180.0) / 360.0 * n))
    val (y0, y1) = (clamp((90.0 - maxLat) / 180.0 * n), clamp((90.0 - minLat) / 180.0 * n))
    val ny = y1 - y0 + 1
    Array.tabulate((x1 - x0 + 1) * ny)(i => pack(res, x0 + i / ny, y0 + i % ny))
  }

  /** Cell's geographic bounds: (minLon, minLat, maxLon, maxLat). */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val r = resOf(cell); val n = 1 << r
    val x = xOf(cell); val y = yOf(cell)
    val minLon = x.toDouble / n * 360.0 - 180.0
    val maxLon = (x + 1).toDouble / n * 360.0 - 180.0
    val maxLat = 90.0 - y.toDouble / n * 180.0
    val minLat = 90.0 - (y + 1).toDouble / n * 180.0
    (minLon, minLat, maxLon, maxLat)
  }

  /** Morton/Z-order value of a cell (x/y bits interleaved) — a 1-D
    * locality-preserving sort key for range partitioning. */
  def zValue(cell: Long): Long = {
    val x = xOf(cell).toLong
    val y = yOf(cell).toLong
    interleave(x) | (interleave(y) << 1)
  }

  /** Spread the low 29 bits of v so bit i lands at bit 2i. */
  private[cell] def interleave(v: Long): Long = {
    var x = v & 0x1FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** deg→rad as `x * (π/180)` — the exact evaluation shape of SQL RADIANS()
    * (java.lang.Math.toRadians computes `x/180*π`, which differs in the
    * last ulp and would flip near-tie kNN orderings vs a SQL oracle). */
  @inline private def rad(d: Double): Double = d * (math.Pi / 180.0)

  /** Great-circle distance in meters (haversine; C12-adjacent util). */
  def haversineMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    metersOf(haversineTerm(lon1, lat1, cosLat(lat1), lon2, lat2, cosLat(lat2)))

  /** cos(lat), the per-endpoint factor of [[haversineTerm]]; kNN computes it
    * once per POI. */
  @inline def cosLat(lat: Double): Double = math.cos(rad(lat))

  /** The haversine term `a` = sin²(Δlat/2) + cos lat1 · cos lat2 · sin²(Δlon/2).
    * [[metersOf]] is monotone in `a`, so kNN ranks candidates by `a` and
    * pays the `asin` only for the ones it keeps. */
  @inline def haversineTerm(lon1: Double, lat1: Double, cosLat1: Double,
      lon2: Double, lat2: Double, cosLat2: Double): Double = {
    val sLat = math.sin(rad(lat2 - lat1) / 2)
    val sLon = math.sin(rad(lon2 - lon1) / 2)
    sLat * sLat + cosLat1 * cosLat2 * sLon * sLon
  }

  /** Mean Earth radius in meters, the sphere every distance here is on. */
  final val EarthRadius = 6371000.0

  /** Meters for a haversine term `a`: 2R·asin(min(1, √a)). */
  @inline def metersOf(a: Double): Double = 2 * EarthRadius * math.asin(math.min(1.0, math.sqrt(a)))
}
