package graftbench

import graft.osmpbf.codec.PbfWriter
import graft.osmpbf.model._

import java.sql.Timestamp

/** Box in degrees: west, south, east, north. */
final case class Box(west: Double, south: Double, east: Double, north: Double)

object Box { val World: Box = Box(-180.0, -80.0, 180.0, 80.0) }

/** Sizes of one generated OSM world; city centers fall inside `region`. */
final case class WorldSpec(cities: Int, polysPerCity: Int, fillerPerCity: Int, region: Box)

/** One polygon as the engine should assemble it: `src` is "way" or
  * "relation", rings are closed (first vertex repeated last), each ring a
  * flat array lon0, lat0, lon1, lat1, ... */
final case class Poly(src: String, id: Long, rings: Vector[Array[Double]]) {
  val (minLon, minLat, maxLon, maxLat) = {
    var a = Double.MaxValue; var b = Double.MaxValue
    var c = -Double.MaxValue; var d = -Double.MaxValue
    for (r <- rings; i <- r.indices by 2) {
      a = math.min(a, r(i)); c = math.max(c, r(i))
      b = math.min(b, r(i + 1)); d = math.max(d, r(i + 1))
    }
    (a, b, c, d)
  }
}

final case class Poi(id: Long, lon: Double, lat: Double)

/** Ground truth of a generated world: element counts per kind, every
  * polygon the assembly must produce, every amenity/shop node, and the
  * city centers the point generators cluster around. */
final case class Truth(nodes: Long, ways: Long, relations: Long,
    polys: Vector[Poly], pois: Vector[Poi], centers: Vector[(Double, Double)])

/** Seeded, streaming OSM world generator. Elements go straight to a
  * [[PbfWriter]] (which flushes one block at a time), so only the polygon
  * and POI ground truth stays in memory, never the node table.
  *
  * Each city has jittered filler nodes with tags and info (amenity/shop
  * nodes are the POIs), star-shaped closed ways with polygon tags, closed
  * and open ways without them (which must not become polygons), one
  * multipolygon relation with a hole, one super-relation (its own outer
  * ring plus the multipolygon as a relation member) and one route
  * relation (not a multipolygon). Every coordinate is snapped to the
  * writer's 100-nanodegree grid, so decoding reproduces it exactly. */
object WorldGen {
  val PolygonTags: Vector[(String, String)] = Vector(
    "building" -> "yes", "landuse" -> "residential", "leisure" -> "park",
    "natural" -> "wood", "amenity" -> "school")

  private def snapNd(deg: Double): Long = math.round(deg * 1e7) * 100L
  private def deg(nd: Long): Double = nd * 1e-9

  def write(path: String, seed: Long, spec: WorldSpec): Truth = {
    val rnd = new java.util.Random(seed)
    val w = PbfWriter(path + ".tmp", elementsPerBlock = 8000)
    w.writeHeader(HeaderMeta(Seq("OsmSchema-V0.6", "DenseNodes"), Nil,
      "graft-perfbench", "synthetic", None, Some(1700000000L), Some(seed), None))
    var nodeId = 0L; var wayId = 0L; var relId = 0L
    val polys = Vector.newBuilder[Poly]
    val pois = Vector.newBuilder[Poi]
    val centers = Vector.newBuilder[(Double, Double)]

    def info(i: Long): Option[OsmInfo] = Some(OsmInfo(1 + (i % 7).toInt,
      new Timestamp(1500000000000L + rnd.nextInt(100000000) * 1000L),
      10000L + rnd.nextInt(50000), 1 + rnd.nextInt(900), s"user${rnd.nextInt(40)}",
      visible = true))

    /** Emits one node per vertex and returns (node ids, snapped ring). */
    def ringNodes(pts: Seq[(Double, Double)]): (Seq[Long], Array[Double]) = {
      val ids = pts.map { case (lon, lat) =>
        val latNd = snapNd(lat); val lonNd = snapNd(lon)
        nodeId += 1
        w.addNode(OsmNode(nodeId, latNd, lonNd, deg(latNd), deg(lonNd), Map.empty, None, 0L))
        nodeId
      }
      val flat = pts.flatMap { case (lon, lat) => Seq(deg(snapNd(lon)), deg(snapNd(lat))) }
      (ids :+ ids.head, (flat ++ flat.take(2)).toArray)
    }

    /** Star-shaped simple polygon: sorted angles, radius jittered. */
    def star(cx: Double, cy: Double, r: Double, n: Int): Seq[(Double, Double)] = {
      val angles = Seq.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted
      angles.map(a => {
        val rr = r * (0.6 + 0.4 * rnd.nextDouble())
        (cx + rr * math.cos(a) * 1.5, cy + rr * math.sin(a))
      })
    }

    def octagon(cx: Double, cy: Double, r: Double): Seq[(Double, Double)] =
      (0 until 8).map(i => (cx + r * 1.5 * math.cos(i * math.Pi / 4 + 0.3),
        cy + r * math.sin(i * math.Pi / 4 + 0.3)))

    for (c <- 0 until spec.cities) {
      val r = spec.region
      val cLon = r.west + 0.5 + rnd.nextDouble() * (r.east - r.west - 1.0)
      val cLat = r.south + 0.5 + rnd.nextDouble() * (r.north - r.south - 1.0)
      centers += ((cLon, cLat))

      val firstFiller = nodeId + 1
      for (i <- 0 until spec.fillerPerCity) {
        val lon = cLon + (rnd.nextGaussian() * 0.08).max(-0.3).min(0.3)
        val lat = cLat + (rnd.nextGaussian() * 0.06).max(-0.3).min(0.3)
        val latNd = snapNd(lat); val lonNd = snapNd(lon)
        nodeId += 1
        val tags =
          if (i % 50 == 0) Map("amenity" -> "cafe", "name" -> s"cafe $c-$i")
          else if (i % 50 == 25) Map("shop" -> "bakery")
          else if (i % 9 == 0) Map("highway" -> "crossing")
          else if (i % 13 == 0) Map("barrier" -> "gate", "access" -> "private")
          else Map.empty[String, String]
        if (tags.contains("amenity") || tags.contains("shop"))
          pois += Poi(nodeId, deg(lonNd), deg(latNd))
        w.addNode(OsmNode(nodeId, latNd, lonNd, deg(latNd), deg(lonNd), tags, info(i), 0L))
      }
      // open ways through filler nodes: highways, never polygons
      for (i <- 0 until math.max(1, spec.fillerPerCity / 500)) {
        wayId += 1
        val start = firstFiller + rnd.nextInt(math.max(1, spec.fillerPerCity - 8))
        w.addWay(OsmWay(wayId, (0 until 6).map(start + _),
          Map("highway" -> "residential", "name" -> s"street $c-$i"), info(i), 0L))
      }

      for (p <- 0 until spec.polysPerCity) {
        val cx = cLon + (rnd.nextDouble() - 0.5) * 0.3
        val cy = cLat + (rnd.nextDouble() - 0.5) * 0.2
        val (ids, ring) = ringNodes(star(cx, cy, 0.001 + rnd.nextDouble() * 0.005,
          4 + rnd.nextInt(5)))
        wayId += 1
        if (p % 10 == 9) // closed, but no polygon key
          w.addWay(OsmWay(wayId, ids, Map("highway" -> "pedestrian", "area" -> "yes"), info(p), 0L))
        else {
          w.addWay(OsmWay(wayId, ids, Map(PolygonTags(p % PolygonTags.size)), info(p), 0L))
          polys += Poly("way", wayId, Vector(ring))
        }
      }

      // multipolygon with a hole, then a super-relation around it
      val (zx, zy) = (cLon + (rnd.nextDouble() - 0.5) * 0.05, cLat + (rnd.nextDouble() - 0.5) * 0.05)
      val (outerIds, outerRing) = ringNodes(octagon(zx, zy, 0.1))
      val (innerIds, innerRing) = ringNodes(octagon(zx, zy, 0.04))
      val (superIds, superRing) = ringNodes(octagon(zx, zy, 0.16))
      val Seq(outerWay, innerWay, superWay) = Seq(outerIds, innerIds, superIds).map { ids =>
        wayId += 1
        w.addWay(OsmWay(wayId, ids, Map.empty, None, 0L))
        wayId
      }
      relId += 1
      val zoneId = relId
      w.addRelation(OsmRelation(zoneId,
        Seq(RelMember(outerWay, "outer", "way"), RelMember(innerWay, "inner", "way")),
        Map("type" -> "multipolygon", "landuse" -> "forest", "name" -> s"zone $c"), info(c), 0L))
      polys += Poly("relation", zoneId, Vector(outerRing, innerRing))
      relId += 1
      w.addRelation(OsmRelation(relId,
        Seq(RelMember(superWay, "outer", "way"), RelMember(zoneId, "", "relation")),
        Map("type" -> "multipolygon", "name" -> s"super zone $c"), info(c), 0L))
      polys += Poly("relation", relId, Vector(superRing, outerRing, innerRing))
      relId += 1
      w.addRelation(OsmRelation(relId,
        (0 until 4).map(i => RelMember(firstFiller + i, "stop", "node")),
        Map("type" -> "route", "route" -> "bus"), info(c), 0L))
    }
    w.close()
    val f = new java.io.File(path + ".tmp")
    require(f.renameTo(new java.io.File(path)), s"cannot move $f into place")
    Truth(nodeId, wayId, relId, polys.result(), pois.result(), centers.result())
  }

  // ------------------------------------------------------------- points

  /** SplitMix64 finalizer: a seeded, per-index hash, so any executor can
    * generate any point range on its own. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def unit(seed: Long, idx: Long, k: Int): Double =
    (mix(seed * 0x632BE59BD9B4E019L + idx * 8 + k) >>> 11) * (1.0 / (1L << 53))

  /** Where point `idx` lies: a share `hotFrac` in a jittered hot spot that
    * stays inside one res-12 cell around `hot`, a share `cityFrac` around
    * the city centers, the rest uniform over `background`. */
  final case class PointMix(centers: Vector[(Double, Double)], hot: Option[(Double, Double)],
      hotFrac: Double, cityFrac: Double, citySpread: Double, background: Box)

  def point(seed: Long, idx: Long, m: PointMix): (Double, Double) = {
    val u = unit(seed, idx, 0)
    val a = unit(seed, idx, 1); val b = unit(seed, idx, 2)
    m.hot match {
      case Some((hx, hy)) if u < m.hotFrac =>
        (hx + (a - 0.5) * 0.03, hy + (b - 0.5) * 0.02)
      case _ if u < m.hotFrac + m.cityFrac && m.centers.nonEmpty =>
        val (cx, cy) = m.centers((unit(seed, idx, 3) * m.centers.size).toInt)
        // sum of uniforms: a bell around the center, bounded at ±2 spreads
        (cx + (a + b - 1.0) * 2 * m.citySpread,
          cy + (unit(seed, idx, 4) + unit(seed, idx, 5) - 1.0) * 2 * m.citySpread)
      case _ =>
        val g = m.background
        (g.west + a * (g.east - g.west), g.south + b * (g.north - g.south))
    }
  }

  /** Center of the cell at `res` holding (lon, lat). */
  def cellCenter(lon: Double, lat: Double, res: Int): (Double, Double) = {
    val n = 1 << res
    val x = math.floor((lon + 180.0) / 360.0 * n)
    val y = math.floor((90.0 - lat) / 180.0 * n)
    ((x + 0.5) * 360.0 / n - 180.0, 90.0 - (y + 0.5) * 180.0 / n)
  }
}
