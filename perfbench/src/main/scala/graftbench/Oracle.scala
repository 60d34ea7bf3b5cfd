package graftbench

/** Expected outputs computed in plain Scala from the generator's ground
  * truth, with no call into the engine: the tile id, the even-odd
  * point-in-polygon test, the per-tile rollup and the exact kNN. */
object Oracle {

  /** Packed tile id at `res`: plate carrée grid, x from -180 eastward, y
    * from +90 southward, bits res(5) | x(29) | y(29). */
  def tileOf(lon: Double, lat: Double, res: Int): Long = {
    val n = 1 << res
    val x = math.min(n - 1, math.max(0, ((lon + 180.0) / 360.0 * n).toInt))
    val y = math.min(n - 1, math.max(0, ((90.0 - lat) / 180.0 * n).toInt))
    (res.toLong << 58) | (x.toLong << 29) | y.toLong
  }

  /** Even-odd rule over every ring: inside iff the ray to +lon crosses an
    * odd number of edges in total, so a hole (or a hole inside a hole)
    * flips the answer. */
  def inside(lon: Double, lat: Double, p: Poly): Boolean = {
    var in = false
    for (r <- p.rings) {
      var i = 0
      while (i + 3 < r.length) {
        val (x1, y1, x2, y2) = (r(i), r(i + 1), r(i + 2), r(i + 3))
        if (((y1 > lat) != (y2 > lat)) && lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1) in = !in
        i += 2
      }
    }
    in
  }

  /** Uniform-grid index over polygon bboxes (cells of `step` degrees). */
  final class PolyIndex(polys: Vector[Poly], step: Double = 0.05) {
    private def key(ix: Long, iy: Long): Long = (ix << 32) ^ (iy & 0xffffffffL)
    private val grid: Map[Long, Array[Poly]] = {
      val m = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Poly]]
      for (p <- polys;
           ix <- math.floor(p.minLon / step).toLong to math.floor(p.maxLon / step).toLong;
           iy <- math.floor(p.minLat / step).toLong to math.floor(p.maxLat / step).toLong)
        m.getOrElseUpdate(key(ix, iy), scala.collection.mutable.ArrayBuffer.empty) += p
      m.map { case (k, v) => k -> v.toArray }.toMap
    }
    def containing(lon: Double, lat: Double): Array[Poly] =
      grid.getOrElse(key(math.floor(lon / step).toLong, math.floor(lat / step).toLong), Array.empty[Poly])
        .filter(p => lon >= p.minLon && lon <= p.maxLon && lat >= p.minLat && lat <= p.maxLat &&
          inside(lon, lat, p))
  }

  /** Expected rollup row of one tile. */
  final case class TileRow(nImages: Long, nHits: Long, nDistinctPolys: Long)

  /** Per-tile (n_images, n_hits, distinct polygons hit) over `points`. */
  def rollup(points: Iterator[(Double, Double)], polys: Vector[Poly], z: Int): Map[Long, TileRow] = {
    val idx = new PolyIndex(polys)
    val images = scala.collection.mutable.HashMap.empty[Long, Long]
    val hits = scala.collection.mutable.HashMap.empty[Long, Long]
    val distinct = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.HashSet[String]]
    for ((lon, lat) <- points) {
      val t = tileOf(lon, lat, z)
      images(t) = images.getOrElse(t, 0L) + 1
      val hs = idx.containing(lon, lat)
      if (hs.nonEmpty) {
        hits(t) = hits.getOrElse(t, 0L) + hs.length
        val d = distinct.getOrElseUpdate(t, scala.collection.mutable.HashSet.empty)
        hs.foreach(p => d += s"${p.src}:${p.id}")
      }
    }
    images.map { case (t, n) =>
      t -> TileRow(n, hits.getOrElse(t, 0L), distinct.get(t).map(_.size.toLong).getOrElse(0L))
    }.toMap
  }

  /** Compares an engine rollup with the expected one. Images and hits
    * must match exactly; the distinct-polygon count is a HyperLogLog
    * estimate (5% relative standard deviation), so it is checked within
    * four of those plus one. Returns the mismatches, at most `limit`. */
  def compareRollup(got: Map[Long, TileRow], want: Map[Long, TileRow], limit: Int = 5): Seq[String] = {
    val keys = (got.keySet ++ want.keySet).toSeq.sorted
    keys.iterator.flatMap { t =>
      (got.get(t), want.get(t)) match {
        case (Some(g), Some(w)) if g.nImages == w.nImages && g.nHits == w.nHits &&
            math.abs(g.nDistinctPolys - w.nDistinctPolys) <= 0.2 * w.nDistinctPolys + 1 => None
        case (g, w) => Some(s"tile $t: got $g want $w")
      }
    }.take(limit).toSeq
  }

  private def rad(d: Double): Double = d * math.Pi / 180.0

  /** Great-circle distance in meters on a 6,371 km sphere. */
  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = rad(lat2 - lat1); val dLon = rad(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(rad(lat1)) * math.cos(rad(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2 * 6371000.0 * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Exact k nearest POIs of one point by brute force: (poi id, meters),
    * nearest first, ties by id. */
  def knn(lon: Double, lat: Double, pois: Vector[Poi], k: Int): Seq[(Long, Double)] =
    pois.map(p => (p.id, haversine(lon, lat, p.lon, p.lat)))
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** An engine kNN answer agrees with the brute force when the distances
    * agree rank by rank within a millimeter and the id sets agree, unless
    * the k-th and (k+1)-th true distances tie within that millimeter. */
  def knnAgrees(got: Seq[(Long, Double)], lon: Double, lat: Double, pois: Vector[Poi], k: Int): Boolean = {
    val want = knn(lon, lat, pois, k + 1)
    val wantK = want.take(k)
    got.size == wantK.size &&
      got.zip(wantK).forall { case ((_, dg), (_, dw)) => math.abs(dg - dw) <= 1e-3 } &&
      (got.map(_._1).toSet == wantK.map(_._1).toSet ||
        (want.size > k && math.abs(want(k)._2 - want(k - 1)._2) <= 1e-3))
  }
}
