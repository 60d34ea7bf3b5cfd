package graft.spatial

import graft.spatial.cell.{CellMath, GeomEval}

/** Plain-Scala reference for the classified polygon cover
  * (`GeomEval.polygonCells`) and for the tile rule it replaced, over rings
  * as `Seq[Seq[(lon, lat)]]`. */
object CoverReference {
  type Rings = Seq[Seq[(Double, Double)]]

  /** Liang–Barsky as written with per-call `p`/`q` arrays; the engine's
    * allocation-free version must agree with it on every input. */
  def segmentMeetsRect(x1: Double, y1: Double, x2: Double, y2: Double,
      minX: Double, minY: Double, maxX: Double, maxY: Double): Boolean = {
    val dx = x2 - x1
    val dy = y2 - y1
    var t0 = 0.0
    var t1 = 1.0
    val p = Array(-dx, dx, -dy, dy)
    val q = Array(x1 - minX, maxX - x1, y1 - minY, maxY - y1)
    for (i <- 0 until 4) {
      if (p(i) == 0.0) {
        if (q(i) < 0.0) return false
      } else {
        val r = q(i) / p(i)
        if (p(i) < 0.0) { if (r > t1) return false; if (r > t0) t0 = r }
        else { if (r < t0) return false; if (r < t1) t1 = r }
      }
    }
    true
  }

  /** Does an edge i → (i+1) mod n of a ring of at least 2 points meet the
    * closed rectangle? */
  def edgeMeets(rings: Rings, minX: Double, minY: Double, maxX: Double, maxY: Double): Boolean =
    rings.exists { r =>
      r.length >= 2 && r.indices.exists { i =>
        val ((x1, y1), (x2, y2)) = (r(i), r((i + 1) % r.length))
        segmentMeetsRect(x1, y1, x2, y2, minX, minY, maxX, maxY)
      }
    }

  /** (cell, interior) of every cell of `candidates` that an edge meets or
    * whose center is inside. */
  def classify(rings: Rings, candidates: Array[Long]): Seq[(Long, Boolean)] =
    candidates.toSeq.flatMap { cell =>
      val (x0, y0, x1, y1) = CellMath.bounds(cell)
      val center = GeomEval.pip((x0 + x1) / 2, (y0 + y1) / 2, rings)
      val meets = edgeMeets(rings, x0, y0, x1, y1)
      if (center || meets) Some(cell -> (center && !meets)) else None
    }

  /** The classified cover over the extent of the rings of at least 2 points. */
  def cover(rings: Rings, res: Int): Seq[(Long, Boolean)] = {
    val pts = rings.filter(_.length >= 2).flatten
    if (pts.isEmpty) Seq.empty
    else classify(rings, CellMath.coverBBox(pts.map(_._1).min, pts.map(_._2).min,
      pts.map(_._1).max, pts.map(_._2).max, res))
  }

  /** The tile rule as it stood before the one cover: the cells of the
    * bbox's cover whose center is inside or that an edge meets. */
  def oldTiles(bbox: (Double, Double, Double, Double), rings: Rings, z: Int): Seq[Long] =
    classify(rings, CellMath.coverBBox(bbox._1, bbox._2, bbox._3, bbox._4, z)).map(_._1)
}
