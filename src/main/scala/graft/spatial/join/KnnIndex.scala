package graft.spatial.join

import graft.spatial.cell.CellMath

/** Cell index of the POI side of a kNN join, built once on the driver and
  * broadcast to every task (north_star J4).
  *
  * POIs with coordinates inside lon ∈ [-180, 180], lat ∈ [-90, 90] are
  * sorted by `(cell, id)` at resolution `res`; `cells` holds the sorted
  * distinct non-empty cells and `offsets` the CSR bounds of each cell's
  * POIs (`offsets(c) until offsets(c + 1)`). POIs outside that range
  * (NaN, ±Inf, |lat| > 90, ...) have no geometrically consistent cell, so
  * they follow the celled ones (`offsets(cells.length) until id.length`)
  * and every search visits them. Per POI the index holds lon, lat,
  * cos(lat) and id: 32 bytes.
  */
final class KnnIndex private (res: Int, cells: Array[Long], offsets: Array[Int],
    lon: Array[Double], lat: Array[Double], cosLat: Array[Double], id: Array[Long])
    extends Serializable {
  import KnnIndex._

  /** The k nearest POIs of (lon, lat) as `(poi_id, dist_m)`, nearest first,
    * and whether the search fell back to a scan of every POI.
    *
    * Rings r = 0, 1, … of cells around the point's cell are visited until
    * the k-th distance is provably within `min(boundY, boundX)` of radius r:
    * a POI outside the visited disk is more than r cells away, so either
    * its latitude differs by ≥ r·cellH (boundY), or its longitude by
    * δ ≥ r·cellW, which puts it at least the cross-track distance
    * R·asin(cos φ · sin(min(δ, 90°))) from the point (boundX; the δ = 90°
    * limit covers escapes over the pole). Once the disk would cover more
    * cells than are non-empty, the rings stop paying and every POI is
    * scanned instead, so a point never costs much more than one brute-force
    * scan. As there are at most 4^res cells, a disk that is still searched
    * never wraps the grid (2r+1 ≤ 2^res). Points outside the coordinate
    * range scan at once. */
  def nearest(lon0: Double, lat0: Double, k: Int): (Array[(Long, Double)], Boolean) = {
    val top = new TopK(k)
    val cos0 = CellMath.cosLat(lat0)
    def visit(from: Int, until: Int): Unit = {
      var j = from
      while (j < until) {
        top.offer(CellMath.haversineTerm(lon0, lat0, cos0, lon(j), lat(j), cosLat(j)), id(j))
        j += 1
      }
    }
    var retired = false
    if (inRange(lon0, lat0)) {
      visit(offsets(cells.length), id.length)
      val home = CellMath.cellOf(lon0, lat0, res)
      val cellH = 180.0 / (1 << res)
      val cellW = 360.0 / (1 << res)
      val cosAbs = math.cos(math.abs(lat0) * DegToRad)
      var r = 0
      while (!retired && (2L * r + 1) * (2L * r + 1) <= cells.length) {
        for (c <- CellMath.ring(home, r)) {
          val i = java.util.Arrays.binarySearch(cells, c)
          if (i >= 0) visit(offsets(i), offsets(i + 1))
        }
        if (top.n == k) {
          val boundY = r * cellH * MetersPerDeg
          val boundX = CellMath.EarthRadius * math.asin(cosAbs * math.sin(math.min(90.0, r * cellW) * DegToRad))
          retired = top.kthDist <= math.min(boundY, boundX)
        }
        r += 1
      }
    }
    if (!retired) {
      top.clear()
      visit(0, id.length)
    }
    (top.result, !retired)
  }
}

object KnnIndex {
  /** Largest supported k: the search keeps a k-slot buffer per point, and
    * kNN callers use k ≤ 10. */
  val MaxK = 256

  def requireK(k: Int): Unit =
    require(k >= 1 && k <= MaxK, s"k must be in [1, $MaxK], got $k")

  private val MetersPerDeg = 111194.9 // a hair under R·π/180: boundY stays a lower bound
  private val DegToRad = math.Pi / 180.0

  private def inRange(lon: Double, lat: Double): Boolean =
    lon >= -180.0 && lon <= 180.0 && lat >= -90.0 && lat <= 90.0

  /** Index of the given POIs (parallel arrays) at resolution `res`. */
  def apply(id: Array[Long], lon: Array[Double], lat: Array[Double], res: Int): KnnIndex = {
    val cellOf = Array.tabulate(id.length)(j =>
      if (inRange(lon(j), lat(j))) CellMath.cellOf(lon(j), lat(j), res) else Long.MaxValue)
    // every packed cell id is below Long.MaxValue, so out-of-range POIs sort last
    val order = id.indices.sortBy(j => (cellOf(j), id(j))).toArray
    val sortedCells = order.map(cellOf)
    val celled = sortedCells.count(_ != Long.MaxValue)
    val cells = sortedCells.take(celled).distinct
    val offsets = new Array[Int](cells.length + 1)
    var c = 0
    for (j <- 0 until celled) {
      if (sortedCells(j) != cells(c)) { c += 1; offsets(c) = j }
    }
    offsets(cells.length) = celled
    new KnnIndex(res, cells, offsets, order.map(lon), order.map(lat),
      order.map(j => CellMath.cosLat(lat(j))), order.map(id))
  }

  /** The finest resolution whose non-empty cells still hold at least k POIs
    * on average (0 when no resolution does). Refining a cell can only split
    * its POIs, so the occupancy falls monotonically with `res` and a binary
    * search finds the boundary. The target is at least 2: every non-empty
    * cell holds one POI, so for k = 1 the rule would always pick the finest
    * grid, where no ring search retires before it gives way to a scan. */
  def resFor(lon: Array[Double], lat: Array[Double], k: Int): Int = {
    val in = lon.indices.filter(j => inRange(lon(j), lat(j)))
    def dense(res: Int): Boolean =
      in.length >= math.max(k, 2).toLong * in.map(j => CellMath.cellOf(lon(j), lat(j), res)).distinct.size
    var lo = 0
    var hi = CellMath.MaxRes
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (dense(mid)) lo = mid else hi = mid - 1
    }
    lo
  }

  /** The k nearest candidates seen so far, nearest first: order is
    * `java.lang.Double.compare` on the distance (NaN last), ties broken by
    * the lower id; an id offered twice keeps its nearer instance. */
  final class TopK(k: Int) {
    requireK(k)
    private val as = new Array[Double](k)
    private val ds = new Array[Double](k)
    private val ids = new Array[Long](k)
    var n = 0

    def kthDist: Double = ds(k - 1)
    def clear(): Unit = n = 0
    def result: Array[(Long, Double)] = Array.tabulate(n)(j => (ids(j), ds(j)))

    /** Offers a candidate by its haversine term `a`. A full buffer rejects a
      * clearly farther candidate without the `asin`: when 0 ≤ a_k < 1 and
      * a > a_k·(1 + 1e-9), √a exceeds √a_k by a relative 5e-10, far above
      * the rounding of asin and of the meters product, so the distance is
      * strictly larger. a_k ≥ 1 clamps (antipodal ties must still reach the
      * id tie-break) and a negative a_k (|lat| > 90) is a NaN distance. */
    def offer(a: Double, i: Long): Unit = {
      if (n == k) {
        val ak = as(k - 1)
        if (ak >= 0 && ak < 1 && a > ak * (1 + 1e-9)) return
      }
      insert(a, CellMath.metersOf(a), i)
    }

    private def before(d: Double, i: Long, d2: Double, i2: Long): Boolean = {
      val c = java.lang.Double.compare(d, d2)
      c < 0 || (c == 0 && i < i2)
    }

    private def insert(a: Double, d: Double, i: Long): Unit = {
      if (n == k && !before(d, i, ds(k - 1), ids(k - 1))) return
      var j = 0
      while (j < n && ids(j) != i) j += 1
      if (j < n) {
        if (!before(d, i, ds(j), i)) return
        // drop the farther instance of this id, then insert as new
        System.arraycopy(as, j + 1, as, j, n - j - 1)
        System.arraycopy(ds, j + 1, ds, j, n - j - 1)
        System.arraycopy(ids, j + 1, ids, j, n - j - 1)
        n -= 1
      }
      // shift every entry that sorts after the candidate one slot right (the
      // k-th falls off a full buffer), then write the candidate into the gap
      j = if (n == k) k - 1 else n
      while (j > 0 && before(d, i, ds(j - 1), ids(j - 1))) {
        as(j) = as(j - 1); ds(j) = ds(j - 1); ids(j) = ids(j - 1)
        j -= 1
      }
      as(j) = a; ds(j) = d; ids(j) = i
      if (n < k) n += 1
    }
  }
}
