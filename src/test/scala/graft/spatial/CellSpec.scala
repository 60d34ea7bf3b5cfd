package graft.spatial

import graft.GenSupport
import graft.SparkTestBase
import graft.spatial.cell.{CellMath, GeomEval, functions => F}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

class CellSpec extends AnyFunSuite with GenSupport with SparkTestBase {

  private val lonGen = Gen.chooseNum(-179.999, 179.999)
  private val latGen = Gen.chooseNum(-89.999, 89.999)

  test("cell bounds contain the encoded point (property)") {
    forAllG(Gen.zip(lonGen, latGen, Gen.chooseNum(0, 20))) { case (lon, lat, res) =>
      val cell = CellMath.cellOf(lon, lat, res)
      val (minLon, minLat, maxLon, maxLat) = CellMath.bounds(cell)
      assert(lon >= minLon && lon <= maxLon, s"lon $lon ∉ [$minLon,$maxLon] res=$res")
      assert(lat >= minLat && lat <= maxLat, s"lat $lat ∉ [$minLat,$maxLat] res=$res")
      assert(CellMath.resOf(cell) === res)
    }
  }

  test("parent/children consistency (property)") {
    forAllG(Gen.zip(lonGen, latGen, Gen.chooseNum(1, 20))) { case (lon, lat, res) =>
      val cell = CellMath.cellOf(lon, lat, res)
      val p = CellMath.parent(cell)
      assert(CellMath.children(p).contains(cell))
      assert(CellMath.parentAt(cell, res - 1) === p)
      assert(CellMath.parentAt(cell, res) === cell)
    }
  }

  test("edge clamping at poles and antimeridian") {
    for (res <- Seq(0, 1, 5, 15)) {
      val n = 1 << res
      assert(CellMath.xOf(CellMath.cellOf(180.0, 0.0, res)) === n - 1)
      assert(CellMath.yOf(CellMath.cellOf(0.0, -90.0, res)) === n - 1)
      assert(CellMath.yOf(CellMath.cellOf(0.0, 90.0, res)) === 0)
      assert(CellMath.xOf(CellMath.cellOf(-180.0, 0.0, res)) === 0)
    }
  }

  test("ring k has expected size and Chebyshev distance; lon wraps") {
    val cell = CellMath.cellOf(0.0, 0.0, 6)
    assert(CellMath.ring(cell, 0).toSeq === Seq(cell))
    val r1 = CellMath.ring(cell, 1)
    assert(r1.length === 8)
    val r3 = CellMath.ring(cell, 3)
    assert(r3.length === 24)
    r3.foreach { c =>
      val dx = math.abs(CellMath.xOf(c) - CellMath.xOf(cell))
      val dy = math.abs(CellMath.yOf(c) - CellMath.yOf(cell))
      assert(math.max(math.min(dx, (1 << 6) - dx), dy) === 3)
    }
    // wrap at antimeridian: ring of a cell at x=0 includes x=n-1 cells
    val edge = CellMath.cellOf(-179.99, 10.0, 6)
    assert(CellMath.xOf(edge) === 0)
    assert(CellMath.ring(edge, 1).exists(c => CellMath.xOf(c) === (1 << 6) - 1))
  }

  test("coverBBox covers every point cell in the box (property)") {
    forAllG(Gen.zip(lonGen, latGen), 50) { case (lon, lat) =>
      val res = 8
      val minLon = math.max(-180, lon - 0.8)
      val maxLon = math.min(180, lon + 0.8)
      val minLat = math.max(-90, lat - 0.8)
      val maxLat = math.min(90, lat + 0.8)
      val cover = CellMath.coverBBox(minLon, minLat, maxLon, maxLat, res).toSet
      // sample interior points; their cells must be covered
      for (fx <- Seq(0.1, 0.5, 0.9); fy <- Seq(0.1, 0.5, 0.9)) {
        val p = CellMath.cellOf(minLon + fx * (maxLon - minLon), minLat + fy * (maxLat - minLat), res)
        assert(cover.contains(p))
      }
    }
  }

  test("zValue is monotone in locality: adjacent cells differ in few high bits") {
    val a = CellMath.cellOf(10.0, 10.0, 15)
    val ring = CellMath.ring(a, 1)
    val za = CellMath.zValue(a)
    // neighbors' z-values are close relative to full range
    ring.foreach { c =>
      assert(math.abs(CellMath.zValue(c) - za) < (1L << 35))
    }
  }

  test("pip: square, triangle, point on vertex side, hole") {
    val square = Seq(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)))
    assert(GeomEval.pip(5, 5, square))
    assert(!GeomEval.pip(15, 5, square))
    assert(!GeomEval.pip(-1, -1, square))
    val closedSquare = Seq(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)))
    assert(GeomEval.pip(5, 5, closedSquare))
    val tri = Seq(Seq((0.0, 0.0), (10.0, 0.0), (5.0, 10.0)))
    assert(GeomEval.pip(5, 2, tri))
    assert(!GeomEval.pip(0.5, 9.0, tri))
    // donut: inside outer, outside hole
    val donut = Seq(
      Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)),
      Seq((4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)))
    assert(GeomEval.pip(2, 2, donut))
    assert(!GeomEval.pip(5, 5, donut)) // in the hole
  }

  test("segmentIntersectsRect agrees with the array form of Liang–Barsky on every input") {
    val rnd = new scala.util.Random(20261020L)
    // coordinates drawn from a small grid make axis-parallel, zero-length
    // and corner-touching segments common; NaN and ±Inf ride along
    val grid = Seq(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0)
    val odd = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0)
    def v(): Double = rnd.nextInt(10) match {
      case 0 => odd(rnd.nextInt(odd.size))
      case 1 | 2 | 3 => rnd.nextDouble() * 6 - 3
      case _ => grid(rnd.nextInt(grid.size))
    }
    for (_ <- 0 until 200000) {
      val (x1, y1, x2, y2) = (v(), v(), v(), v())
      val (ax, ay, bx, by) = (v(), v(), v(), v())
      val (minX, maxX, minY, maxY) = (math.min(ax, bx), math.max(ax, bx), math.min(ay, by), math.max(ay, by))
      assert(GeomEval.segmentIntersectsRect(x1, y1, x2, y2, minX, minY, maxX, maxY) ==
        CoverReference.segmentMeetsRect(x1, y1, x2, y2, minX, minY, maxX, maxY),
        s"($x1, $y1)-($x2, $y2) vs [$minX, $maxX]×[$minY, $maxY]")
    }
  }

  test("polygon_cells is the classified cover and stays in codegen (property)") {
    graft.spatial.cell.functions.register(spark)
    val rnd = new scala.util.Random(15L)
    def clampLon(x: Double) = math.max(-180.0, math.min(180.0, x))
    def clampLat(y: Double) = math.max(-90.0, math.min(90.0, y))
    // star-shaped rings around a random center, 0.3 to 12 cells across;
    // some snapped to cell lines, some explicitly closed, some with a hole
    val cases = (0 until 260).map { i =>
      val res = i % 13
      val (cw, ch) = (360.0 / (1 << res), 180.0 / (1 << res))
      val k = 0.3 + rnd.nextDouble() * 12
      val (rLon, rLat) = (math.min(k * cw, 60.0), math.min(k * ch, 30.0))
      val (cLon, cLat) = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85)
      val snap = rnd.nextInt(3) == 0
      def ring(scale: Double): Seq[(Double, Double)] = {
        val angles = Seq.fill(3 + rnd.nextInt(8))(rnd.nextDouble() * 2 * math.Pi).sorted
        val pts = angles.map { a =>
          val f = scale * (0.3 + 0.7 * rnd.nextDouble())
          val (x, y) = (clampLon(cLon + math.cos(a) * rLon * f), clampLat(cLat + math.sin(a) * rLat * f))
          if (snap) (clampLon(-180 + math.rint((x + 180) / cw) * cw), clampLat(90 - math.rint((90 - y) / ch) * ch))
          else (x, y)
        }
        if (rnd.nextInt(4) == 0) pts :+ pts.head else pts
      }
      val rings = if (rnd.nextInt(3) == 0) Seq(ring(1.0), ring(0.25)) else Seq(ring(1.0))
      (i.toLong, rings, res)
    }
    val ringsType = ArrayType(ArrayType(StructType(Seq(
      StructField("lon", DoubleType), StructField("lat", DoubleType)))))
    val schema = StructType(Seq(StructField("id", LongType), StructField("rings", ringsType),
      StructField("res", IntegerType)))
    // an RDD source keeps the projection from being folded into a local
    // relation, so the generated code path is the one evaluated
    val rows = spark.sparkContext.parallelize(cases.map { case (id, rings, res) =>
      Row(id, rings.map(_.map { case (x, y) => Row(x, y) }), res)
    }, 4)
    val df = spark.createDataFrame(rows, schema)
      .select(col("id"), expr("polygon_cells(rings, res)").as("cells"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project") &&
      l.contains("polygon_cells")), plan)
    val got = df.collect().map(r => r.getLong(0) ->
      r.getSeq[Row](1).map(c => (c.getLong(0), c.getBoolean(1)))).toMap
    var interiorCells = 0
    for ((id, rings, res) <- cases) {
      val cells = got(id)
      assert(cells === CoverReference.cover(rings, res), s"polygon $id at res $res: $rings")
      interiorCells += cells.count(_._2)
      val byCell = cells.toMap
      // points: vertices, points along every edge, random points over the extent
      val edgePts = rings.flatMap(r => r.indices.flatMap { j =>
        val ((x1, y1), (x2, y2)) = (r(j), r((j + 1) % r.size))
        Seq(0.25, 0.5, 0.75).map(t => (x1 + t * (x2 - x1), y1 + t * (y2 - y1)))
      })
      val all = rings.flatten
      val (minX, maxX) = (all.map(_._1).min, all.map(_._1).max)
      val (minY, maxY) = (all.map(_._2).min, all.map(_._2).max)
      val randomPts = Seq.fill(60)((minX + rnd.nextDouble() * (maxX - minX), minY + rnd.nextDouble() * (maxY - minY)))
      for ((x, y) <- all ++ edgePts ++ randomPts) {
        val inside = GeomEval.pip(x, y, rings)
        val cell = CellMath.cellOf(x, y, res)
        if (inside) assert(byCell.contains(cell), s"polygon $id res $res: inside point ($x, $y) has no cell")
        if (byCell.getOrElse(cell, false))
          assert(inside, s"polygon $id res $res: ($x, $y) is in an interior cell but outside")
      }
    }
    assert(interiorCells > 0, "the random polygons must produce interior cells")
  }

  test("haversine sanity: 1 degree lat ≈ 111.19 km, symmetric") {
    val d = CellMath.haversineMeters(0, 0, 0, 1)
    assert(math.abs(d - 111194.9) < 100)
    assert(CellMath.haversineMeters(10, 20, 30, 40) === CellMath.haversineMeters(30, 40, 10, 20))
    assert(CellMath.haversineMeters(5, 5, 5, 5) === 0.0)
  }

  test("haversine is bit-identical to the two-sines-per-term formula (kNN dist_m and oracle hashes)") {
    // the formula as written before each sine was computed once; dist_m
    // feeds kNN ranks and the oracle hashes, so not one ulp may move
    def rad(d: Double): Double = d * (math.Pi / 180.0)
    def reference(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
      val dLat = rad(lat2 - lat1)
      val dLon = rad(lon2 - lon1)
      val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
        math.cos(rad(lat1)) * math.cos(rad(lat2)) *
          math.sin(dLon / 2) * math.sin(dLon / 2)
      2 * 6371000.0 * math.asin(math.min(1.0, math.sqrt(a)))
    }
    val rnd = new scala.util.Random(20261017L)
    val random = Seq.fill(20000)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90,
      rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
    val edges = for {
      (lon1, lat1) <- Seq((0.0, 90.0), (0.0, -90.0), (180.0, 0.0), (-180.0, 0.0),
        (179.9999, 45.0), (12.5, 41.9))
      (lon2, lat2) <- Seq((0.0, 90.0), (135.0, -90.0), (-180.0, 0.0), (-179.9999, 45.0),
        (-167.5, -41.9), (lon1 + 180.0, -lat1), (lon1 - 180.0, -lat1), (lon1, lat1))
    } yield (lon1, lat1, lon2, lat2)
    for ((lon1, lat1, lon2, lat2) <- random ++ edges) {
      val got = CellMath.haversineMeters(lon1, lat1, lon2, lat2)
      val want = reference(lon1, lat1, lon2, lat2)
      assert(java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want),
        s"($lon1, $lat1) → ($lon2, $lat2): $got vs $want")
    }
  }

  test("Catalyst expressions agree with CellMath and stay in codegen") {
    import spark.implicits._
    // derive lon/lat from range so the plan is not constant-folded into a
    // LocalTableScan — we want to see the generated projection
    val df = spark.range(0, 64)
      .withColumn("lon", col("id") * 5.0 - 160.0)
      .withColumn("lat", col("id") * 2.0 - 64.0)
      .withColumn("cell", F.cell_of(col("lon"), col("lat"), 12))
      .withColumn("z", F.cell_z(col("cell")))
      .withColumn("parent", F.cell_parent(col("cell"), 5))
      .withColumn("d", F.haversine_m(col("lon"), col("lat"), lit(0.0), lit(0.0)))
    val rows = df.select("lon", "lat", "cell", "z", "parent", "d").collect()
    rows.foreach { r =>
      val cell = CellMath.cellOf(r.getDouble(0), r.getDouble(1), 12)
      assert(r.getLong(2) === cell)
      assert(r.getLong(3) === CellMath.zValue(cell))
      assert(r.getLong(4) === CellMath.parentAt(cell, 5))
      assert(r.getDouble(5) === CellMath.haversineMeters(r.getDouble(0), r.getDouble(1), 0, 0))
    }
    // whole-stage codegen must cover the projection (no CodegenFallback);
    // the "*(n)" prefix marks WholeStageCodegen stages in the plan string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("cell_of"), plan)
  }

  test("point_in_polygon expression over DataFrame rings") {
    import spark.implicits._
    val rings = Seq(Seq(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))))
    val df = Seq((5.0, 5.0), (15.0, 5.0)).toDF("lon", "lat")
      .withColumn("rings", typedLit(rings.head.map(_.map { case (x, y) => (x, y) }))
        .cast("array<array<struct<lon:double,lat:double>>>"))
      .withColumn("inside", F.point_in_polygon(col("lon"), col("lat"), col("rings")))
    val got = df.select("lon", "inside").collect().map(r => r.getDouble(0) -> r.getBoolean(1)).toMap
    assert(got(5.0) === true)
    assert(got(15.0) === false)
  }

  test("SQL registration works") {
    graft.spatial.cell.functions.register(spark)
    val r = spark.sql("SELECT cell_of(cast(10.0 as double), cast(20.0 as double), 8) c").collect().head.getLong(0)
    assert(r === CellMath.cellOf(10.0, 20.0, 8))
  }

  test("SQL functions coerce integer literals instead of ClassCastException at fold time") {
    graft.spatial.cell.functions.register(spark)
    // without build-time Casts, constant folding routed java.lang.Integer
    // through nullSafeEval's asInstanceOf[Double] and threw — while the
    // same call over int COLUMNS silently worked via codegen widening
    val d = spark.sql("SELECT haversine_m(0, 0, 0, 1) AS d").collect().head.getDouble(0)
    assert(math.abs(d - 111194.9) < 100.0)
    assert(spark.sql("SELECT cell_of(10, 20, 8) c").collect().head.getLong(0) ===
      CellMath.cellOf(10.0, 20.0, 8))
  }

  test("hostile inputs: res bounds enforced; edge and inverted bboxes; null rings skipped") {
    // res >= 30 spills x/y bits into the packed resolution field — corrupt
    // ids whose joins silently mismatch; must throw instead
    intercept[IllegalArgumentException](CellMath.cellOf(0.0, 0.0, 30))
    intercept[IllegalArgumentException](CellMath.cellOf(0.0, 0.0, -1))
    // a degenerate bbox exactly on the lon=180 edge must cover the same
    // cell cellOf clamps the matching point into (one-sided clamping gave
    // an EMPTY cover and the pair never joined)
    assert(CellMath.coverBBox(180.0, 10.0, 180.0, 10.0, 4)
      .contains(CellMath.cellOf(180.0, 10.0, 4)))
    assert(CellMath.coverBBox(-180.0, -90.0, -180.0, -90.0, 4)
      .contains(CellMath.cellOf(-180.0, -90.0, 4)))
    // inverted lat bbox (bboxOf over empty rings): empty cover, not
    // NegativeArraySizeException
    assert(CellMath.coverBBox(0.0, 50.0, 1.0, 40.0, 4).isEmpty)
    // a NULL ring (or a null point) in the rings array is skipped, not an
    // NPE inside generated code
    graft.spatial.cell.functions.register(spark)
    val inside = spark.sql(
      """SELECT point_in_polygon(0.5D, 0.5D, array(
        |  array(named_struct('lon', 0D, 'lat', 0D), named_struct('lon', 1D, 'lat', 0D),
        |        named_struct('lon', 1D, 'lat', 1D), named_struct('lon', 0D, 'lat', 1D)),
        |  CAST(NULL AS ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>))) AS p""".stripMargin)
      .collect().head.getBoolean(0)
    assert(inside, "null hole ring must be ignored, square still contains the point")
    // the cover skips a null ring like the ray-cast, and drops the two edges
    // of a null point
    val square = "named_struct('lon', 0D, 'lat', 0D), named_struct('lon', 90D, 'lat', 0D), " +
      "named_struct('lon', 90D, 'lat', 60D), named_struct('lon', 0D, 'lat', 60D)"
    def cover(rings: String): Seq[(Long, Boolean)] =
      spark.sql(s"SELECT polygon_cells($rings, 4) AS c").collect().head.getSeq[Row](0)
        .map(c => (c.getLong(0), c.getBoolean(1)))
    val plain = cover(s"array(array($square))")
    assert(plain.nonEmpty && plain.exists(_._2))
    assert(cover(s"array(array($square), CAST(NULL AS ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>))") === plain)
    val holed = cover(s"array(array($square, CAST(NULL AS STRUCT<lon: DOUBLE, lat: DOUBLE>)))")
    assert(holed.nonEmpty && holed.map(_._1).toSet.subsetOf(plain.map(_._1).toSet))
    assert(spark.sql("SELECT polygon_cells(CAST(NULL AS ARRAY<ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>>), 4)")
      .collect().head.isNullAt(0))
  }
}
