package graftbench

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

class WorldGenSpec extends AnyFunSuite {
  private val spec = WorldSpec(cities = 3, polysPerCity = 12, fillerPerCity = 400, Box.World)

  private def generate(seed: Long): (Array[Byte], Truth) = {
    val dir = Files.createTempDirectory("worldgen").toFile
    try {
      val f = new File(dir, "w.osm.pbf")
      val t = WorldGen.write(f.getPath, seed, spec)
      (Files.readAllBytes(f.toPath), t)
    } finally { dir.listFiles().foreach(_.delete()); dir.delete() }
  }

  private def same(a: Truth, b: Truth): Boolean =
    (a.nodes, a.ways, a.relations, a.pois, a.centers) == ((b.nodes, b.ways, b.relations, b.pois, b.centers)) &&
      a.polys.map(p => (p.src, p.id, p.rings.map(_.toSeq))) == b.polys.map(p => (p.src, p.id, p.rings.map(_.toSeq)))

  test("the same seed writes the same bytes and the same ground truth") {
    val (b1, t1) = generate(7)
    val (b2, t2) = generate(7)
    assert(b1.sameElements(b2))
    assert(same(t1, t2))
  }

  test("another seed writes another world") {
    val (b1, t1) = generate(7)
    val (b2, t2) = generate(8)
    assert(!b1.sameElements(b2))
    assert(t1.centers != t2.centers)
  }

  test("ground truth counts follow the spec") {
    val (_, t) = generate(3)
    // per city: 12 star ways, 1 in 10 without a polygon key; one zone and one super-relation
    assert(t.polys.count(_.src == "way") == 3 * 11)
    assert(t.polys.count(_.src == "relation") == 3 * 2)
    assert(t.relations == 3 * 3) // zone, super, route
    assert(t.pois.size == 3 * 16) // every 25th filler node is an amenity or a shop
    assert(t.polys.forall(_.rings.forall(r => r(0) == r(r.length - 2) && r(1) == r(r.length - 1))))
  }

  test("points depend only on seed and index") {
    val mix = WorldGen.PointMix(Vector((10.0, 20.0), (-30.0, 5.0)), Some((1.0, 1.0)), 0.3, 0.5, 0.1, Box.World)
    val a = (0L until 1000L).map(WorldGen.point(5, _, mix))
    assert(a == (0L until 1000L).map(WorldGen.point(5, _, mix)))
    assert(a != (0L until 1000L).map(WorldGen.point(6, _, mix)))
    assert(a.reverse.map(Some(_)) == (999L to 0L by -1).map(i => Some(WorldGen.point(5, i, mix))))
  }

  test("hot-spot points stay inside the res-12 cell of the hot center") {
    val hot = WorldGen.cellCenter(12.34, 45.67, 12)
    val mix = WorldGen.PointMix(Vector.empty, Some(hot), 1.0, 0.0, 0.1, Box.World)
    val cells = (0L until 5000L).map { i =>
      val (lon, lat) = WorldGen.point(9, i, mix)
      Oracle.tileOf(lon, lat, 12)
    }.toSet
    assert(cells == Set(Oracle.tileOf(12.34, 45.67, 12)))
  }
}

class OracleSpec extends AnyFunSuite {
  private def square(x0: Double, y0: Double, x1: Double, y1: Double): Array[Double] =
    Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)

  // a zone with a hole, and a super-relation whose own outer ring surrounds
  // it; assembled as the engine does: super = own outer + the zone's rings
  private val outer = square(0, 0, 4, 4)
  private val hole = square(1, 1, 3, 3)
  private val superOuter = square(-2, -2, 6, 6)
  private val zone = Poly("relation", 1, Vector(outer, hole))
  private val superRel = Poly("relation", 2, Vector(superOuter, outer, hole))
  private val building = Poly("way", 10, Vector(square(3.5, 3.5, 5, 5)))
  private val polys = Vector(zone, superRel, building)

  test("even-odd: a point in the hole is outside the zone and inside the super-relation") {
    assert(!Oracle.inside(2, 2, zone))
    assert(Oracle.inside(2, 2, superRel))
  }

  test("even-odd: the zone's ring band is inside the zone, outside the super-relation") {
    assert(Oracle.inside(0.5, 2, zone))
    assert(!Oracle.inside(0.5, 2, superRel))
  }

  test("a point between the super-relation ring and the zone is inside the super-relation only") {
    assert(!Oracle.inside(-1, 5, zone))
    assert(Oracle.inside(-1, 5, superRel))
    assert(!Oracle.inside(7, 5, superRel))
  }

  test("points on a super-relation ring: bottom and left edges count in, top and right out") {
    assert(Oracle.inside(1, -2, superRel)) // bottom edge
    assert(Oracle.inside(-2, 0.5, superRel)) // left edge
    assert(!Oracle.inside(1, 6, superRel)) // top edge
    assert(!Oracle.inside(6, 0.5, superRel)) // right edge
  }

  test("the oracle agrees with the engine's ray cast, boundary points included") {
    val pts = Seq((2.0, 2.0), (0.5, 2.0), (-1.0, 5.0), (1.0, -2.0), (-2.0, 0.5), (1.0, 6.0),
      (6.0, 0.5), (4.0, 4.0), (3.0, 3.0), (4.2, 4.2))
    for (p <- polys; (x, y) <- pts) {
      val rings = p.rings.map(_.grouped(2).map(a => (a(0), a(1))).toSeq)
      assert(Oracle.inside(x, y, p) == graft.spatial.cell.GeomEval.pip(x, y, rings), s"$p at ($x, $y)")
    }
  }

  test("rollup counts images, polygon hits and distinct polygons per tile") {
    // z=1: four tiles; x = lon < 0 ? 0 : 1, y = lat > 0 ? 0 : 1
    val pts = Iterator((2.0, 2.0), (0.5, 2.0), (4.2, 4.2), (-1.0, 5.0), (50.0, -10.0))
    val got = Oracle.rollup(pts, polys, 1)
    val t10 = Oracle.tileOf(1, 1, 1)
    val t00 = Oracle.tileOf(-1, 1, 1)
    val t11 = Oracle.tileOf(1, -1, 1)
    assert(got(t10) == Oracle.TileRow(3, 4, 3)) // super; zone; super + building
    assert(got(t00) == Oracle.TileRow(1, 1, 1))
    assert(got(t11) == Oracle.TileRow(1, 0, 0))
    assert(got.size == 3)
  }

  test("rollup comparison: exact images and hits, distinct polygons within the sketch error") {
    val want = Map(1L -> Oracle.TileRow(10, 5, 20))
    assert(Oracle.compareRollup(Map(1L -> Oracle.TileRow(10, 5, 22)), want).isEmpty)
    assert(Oracle.compareRollup(Map(1L -> Oracle.TileRow(10, 6, 20)), want).nonEmpty)
    assert(Oracle.compareRollup(Map(1L -> Oracle.TileRow(10, 5, 40)), want).nonEmpty)
    assert(Oracle.compareRollup(Map.empty, want).nonEmpty)
  }

  test("tile ids match the engine's cell encoding") {
    for ((x, y) <- Seq((0.0, 0.0), (-179.99, 89.9), (179.99, -89.9), (12.3, 45.6)); res <- Seq(1, 10, 12))
      assert(Oracle.tileOf(x, y, res) == graft.spatial.cell.CellMath.cellOf(x, y, res))
  }

  test("kNN brute force orders by distance, then id") {
    val pois = Vector(Poi(3, 0.0, 1.0), Poi(1, 0.0, 1.0), Poi(2, 0.0, 0.5), Poi(4, 5.0, 5.0))
    assert(Oracle.knn(0, 0, pois, 3).map(_._1) == Seq(2L, 1L, 3L))
    val got = Oracle.knn(0, 0, pois, 2)
    assert(Oracle.knnAgrees(got, 0, 0, pois, 2))
    // the 2nd and 3rd are tied: either id is acceptable at rank 2
    assert(Oracle.knnAgrees(Seq(got.head, (3L, got(1)._2)), 0, 0, pois, 2))
    assert(!Oracle.knnAgrees(Seq(got.head, (4L, got(1)._2 + 1000)), 0, 0, pois, 2))
  }
}

class SelfTimeSpec extends AnyFunSuite {
  private def s(id: Int, parent: Int, a: Long, b: Long) = Span(id, s"s$id", parent, "r", a, b)

  test("nested spans: self time is duration minus the children's time") {
    val spans = Seq(s(0, -1, 0, 100), s(1, 0, 10, 40), s(2, 0, 50, 60), s(3, 1, 20, 30))
    val self = SelfTime.selfNs(spans)
    assert(self == Map(0 -> 60L, 1 -> 20L, 2 -> 10L, 3 -> 10L))
  }

  test("overlapping children are counted once") {
    // two concurrent children cover [10, 70) together
    val spans = Seq(s(0, -1, 0, 100), s(1, 0, 10, 50), s(2, 0, 30, 70))
    assert(SelfTime.selfNs(spans)(0) == 40L)
  }

  test("children reaching outside the parent are clipped to it") {
    val spans = Seq(s(0, -1, 0, 100), s(1, 0, 90, 150), s(2, 0, -20, 5))
    assert(SelfTime.selfNs(spans)(0) == 85L)
  }

  test("covered length of disjoint, touching and contained intervals") {
    assert(SelfTime.covered(Seq((0L, 10L), (10L, 20L), (30L, 40L), (32L, 35L)), 0, 100) == 30L)
    assert(SelfTime.covered(Nil, 0, 100) == 0L)
  }

  test("the table sums self time per span name") {
    val spans = Seq(Span(0, "run", -1, "r", 0, 100), Span(1, "work", 0, "r", 0, 30),
      Span(2, "work", 0, "r", 40, 60))
    val rows = SelfTime.table(spans).map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(rows("run") == ((1, 100e-9, 50e-9)))
    assert(rows("work") == ((2, 50e-9, 50e-9)))
  }

  test("a recorder nests spans") {
    val rec = new SpanRecorder("t", None)
    rec.span("outer") {
      rec.span("inner")(())
    }
    rec.span("next")(())
    val byName = rec.all.map(x => x.name -> x).toMap
    assert(byName("outer").parent == -1)
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("next").parent == -1)
  }
}
