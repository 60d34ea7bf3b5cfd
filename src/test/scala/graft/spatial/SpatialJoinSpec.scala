package graft.spatial

import graft.SparkTestBase
import graft.fixtures.OsmWorld
import graft.osmpbf.source.OsmPbf
import graft.spatial.cell.{CellMath, GeomEval}
import graft.spatial.geom.Assembly
import graft.spatial.join.{KnnIndex, SpatialJoin}
import graft.tiles.{Images, Tiles}

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SpatialJoinSpec extends AnyFunSuite with SparkTestBase {

  private lazy val (pbfPath, world) = OsmWorld.cachedPbf(tmpDir, seed = 42, nClusters = 4, nodesPerCluster = 100)
  private lazy val nodes = OsmPbf.nodes(spark, pbfPath).toDF().cache()
  private lazy val ways = OsmPbf.ways(spark, pbfPath).toDF().cache()
  private lazy val relations = OsmPbf.relations(spark, pbfPath).toDF().cache()
  private lazy val polys = Assembly.polygons(nodes, ways, relations).cache()

  // ground-truth polygon set computed driver-side from the world fixture
  private lazy val expectedPolys: Map[(String, Long), Seq[Seq[(Double, Double)]]] = {
    val nodeById = world.nodes.map(n => n.id -> (n.lon, n.lat)).toMap
    val wayById = world.ways.map(w => w.id -> w).toMap
    val fromWays = world.ways
      .filter(w => w.refs.head == w.refs.last && w.refs.size > 3 &&
        Seq("building", "landuse", "natural", "leisure", "amenity").exists(w.tags.contains))
      .map(w => ("way", w.id) -> Seq(w.refs.map(nodeById)))
    val relById = world.relations.map(r => r.id -> r).toMap
    val fromRels = world.relations
      .filter(_.tags.get("type").contains("multipolygon"))
      .map { r =>
        // depth-2 resolution mirror: way members directly, plus the way
        // members (with their own roles) of relation-typed members
        val resolved = r.members.flatMap {
          case m if m.mtype == "way" && Seq("outer", "inner").contains(m.role) => Seq(m)
          case m if m.mtype == "relation" =>
            relById.get(m.memid).toSeq.flatMap(_.members
              .filter(s => s.mtype == "way" && Seq("outer", "inner").contains(s.role)))
          case _ => Seq.empty
        }.distinctBy(m => (m.memid, m.role))
        val rings = resolved
          .sortBy(m => (if (m.role == "outer") 0 else 1, m.memid))
          .map(m => wayById(m.memid).refs.map(nodeById).toSeq)
        ("relation", r.id) -> rings.toSeq
      }
    (fromWays ++ fromRels).toMap
  }

  test("J1 way assembly: pts match node coordinates in ref order") {
    val got = Assembly.wayGeometries(nodes, ways).collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getDouble(0), p.getDouble(1))))
      .toMap
    val nodeById = world.nodes.map(n => n.id -> (n.lon, n.lat)).toMap
    world.ways.foreach { w =>
      assert(got(w.id) === w.refs.map(nodeById), s"way ${w.id}")
    }
  }

  test("J1 closed flag") {
    val closed = Assembly.wayGeometries(nodes, ways).select("id", "closed").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    world.ways.foreach { w =>
      assert(closed(w.id) === (w.refs.size > 3 && w.refs.head == w.refs.last), s"way ${w.id}")
    }
  }

  test("J2 polygon assembly matches ground truth (incl. multipolygon rings)") {
    val got = polys.collect().map { r =>
      val rings = r.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](r.fieldIndex("rings"))
        .map(_.map(p => (p.getDouble(0), p.getDouble(1))).toSeq)
      ((r.getAs[String]("src"), r.getAs[Long]("id")), rings)
    }.toMap
    assert(got.keySet === expectedPolys.keySet)
    expectedPolys.foreach { case (k, expRings) =>
      assert(got(k).map(_.toSeq).toSeq === expRings.map(_.toSeq).toSeq, s"polygon $k")
    }
  }

  test("J4 kNN with empty points returns an empty typed result, not an NPE") {
    import spark.implicits._
    val noPts = Seq.empty[(Long, Double, Double)].toDF("pt_id", "lon", "lat")
    val pois = Seq((1L, 0.0, 0.0), (2L, 1.0, 1.0)).toDF("poi_id", "lon", "lat")
    val out = SpatialJoin.knnJoin(noPts, pois, k = 1)
    assert(out.columns.toSeq === Seq("pt_id", "poi_id", "dist_m", "rank"))
    assert(out.count() === 0)
  }

  test("J4 hostile inputs: NaN distances rank last, null coords drop, k and res validated") {
    import spark.implicits._
    // the search's buffer: raw </== comparisons are always false against
    // NaN, which once ranked a NaN candidate first — the window oracle
    // sorts NaN last
    assert(topkIds(2, (Double.NaN, 1L), (0.05, 2L), (0.07, 3L)) === Seq(2L, 3L))
    assert(topkIds(2, (0.05, 2L), (Double.NaN, 1L), (0.07, 3L)) === Seq(2L, 3L))
    // a tie at the k-th distance goes to the lower id, whatever the order
    assert(topkIds(2, (0.01, 5L), (0.02, 9L), (0.02, 7L)) === Seq(5L, 7L))
    assert(topkIds(2, (0.01, 5L), (0.02, 7L), (0.02, 9L)) === Seq(5L, 7L))
    // antipodal terms (a ≥ 1) clamp to the same distance: still an id tie
    assert(topkIds(1, (1.0, 4L), (1.0 + 1e-6, 3L)) === Seq(3L))
    intercept[IllegalArgumentException](new KnnIndex.TopK(0))
    intercept[IllegalArgumentException](
      SpatialJoin.knnJoin(Seq((1L, 0.0, 0.0)).toDF("pt_id", "lon", "lat"),
        Seq((1L, 0.0, 0.0)).toDF("poi_id", "lon", "lat"), k = 0))
    // null coordinates drop instead of coercing to 0.0 (Gulf of Guinea)
    val pts = Seq((1L, Option(0.5), Option(0.5)), (2L, Option.empty[Double], Option(1.0)))
      .toDF("pt_id", "lon", "lat")
    val pois = Seq((10L, Option(0.4), Option(0.4)), (11L, Option.empty[Double], Option(0.0)))
      .toDF("poi_id", "lon", "lat")
    val knn = SpatialJoin.knnJoin(pts, pois, k = 1).collect()
    assert(knn.map(_.getLong(0)).toSet === Set(1L), "null-coordinate point must drop")
    assert(knn.head.getLong(1) === 10L, "null-coordinate POI must never match")
    // a prepared polygon side from the WRONG resolution fails fast instead
    // of silently joining nothing
    val pc = SpatialJoin.preparedPolygonCells(polys, res = 10)
    intercept[IllegalArgumentException](
      SpatialJoin.pipJoin(pts.where(col("lon").isNotNull), polys, res = 12,
        preparedCells = Some(pc)))
  }

  // ids kept by the search's top-k buffer after offering (haversine term, id)
  private def topkIds(k: Int, cands: (Double, Long)*): Seq[Long] = {
    val top = new KnnIndex.TopK(k)
    cands.foreach { case (a, i) => top.offer(a, i) }
    top.result.map(_._1).toSeq
  }

  test("J4 k above KnnIndex.MaxK is rejected on the driver") {
    import spark.implicits._
    assert(new KnnIndex.TopK(KnnIndex.MaxK).n === 0)
    val e = intercept[IllegalArgumentException](new KnnIndex.TopK(KnnIndex.MaxK + 1))
    assert(e.getMessage.contains(s"[1, ${KnnIndex.MaxK}]"), e.getMessage)
    intercept[IllegalArgumentException](
      SpatialJoin.knnJoin(Seq((1L, 0.0, 0.0)).toDF("pt_id", "lon", "lat"),
        Seq((1L, 0.0, 0.0)).toDF("poi_id", "lon", "lat"), k = KnnIndex.MaxK + 1))
  }

  test("J4 KnnIndex.nearest equals sort-dedup-take brute force at res 0-11") {
    // bit-equality, so NaN == NaN
    def bits(rows: Seq[(Long, Double)]): Seq[(Long, Long)] =
      rows.map { case (i, d) => (i, java.lang.Double.doubleToLongBits(d)) }
    def bruteForce(lon: Double, lat: Double, pois: Seq[(Long, Double, Double)], k: Int): Seq[(Long, Double)] =
      pois.map { case (i, plon, plat) => (i, CellMath.haversineMeters(lon, lat, plon, plat)) }
        .sortWith { case ((i1, d1), (i2, d2)) =>
          val c = java.lang.Double.compare(d1, d2)
          c < 0 || (c == 0 && i1 < i2)
        }.distinctBy(_._1).take(k)
    val hostile = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    for (seed <- Seq(1L, 2L, 3L)) {
      val rnd = new scala.util.Random(seed)
      // a 5° grid makes exact distance ties (points between two grid POIs);
      // ids repeat (the same or another coordinate); a few coordinates are
      // NaN/±Inf or out of range; POIs sit at the poles and on the
      // antimeridian
      val grid = Seq.fill(120)((5.0 * (rnd.nextInt(72) - 36), 5.0 * (rnd.nextInt(36) - 18)))
      val spread = Seq.fill(120)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
      val edges = Seq((0.0, 90.0), (45.0, -90.0), (180.0, 10.0), (-180.0, -10.0), (179.99, 0.0),
        (190.0, 12.0), (-30.0, 95.0), (-200.0, -40.0))
      val coords = grid ++ spread ++ edges ++
        Seq.fill(6)((hostile(rnd.nextInt(3)), rnd.nextDouble() * 180 - 90)) ++
        Seq.fill(6)((rnd.nextDouble() * 360 - 180, hostile(rnd.nextInt(3))))
      val pois = coords.zipWithIndex.map { case ((lon, lat), j) =>
        (if (j % 7 == 3) (j / 2).toLong else j.toLong, lon, lat)
      }
      val poiSets = Seq(pois, pois.take(3)) // the second has fewer than k POIs
      val points = pois.take(40).map { case (_, lon, lat) => (lon, lat) } ++ // on a POI
        pois.take(40).map { case (_, lon, lat) => (if (lon > 0) lon - 180 else lon + 180, -lat) } ++ // antipodes
        Seq.fill(40)((5.0 * (rnd.nextInt(72) - 36) + 2.5, 5.0 * (rnd.nextInt(36) - 18))) ++ // grid ties
        Seq.fill(60)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)) ++
        Seq((0.0, 90.0), (120.0, -90.0), (180.0, 0.0), (-180.0, 45.0), (-179.999, -30.0),
          (Double.NaN, 0.0), (0.0, Double.PositiveInfinity), (10.0, 95.0))
      for (ps <- poiSets; k <- Seq(1, 5)) {
        val lons = ps.map(_._2).toArray
        val lats = ps.map(_._3).toArray
        val want = points.map { case (lon, lat) => bits(bruteForce(lon, lat, ps, k)) }
        for (res <- Seq(0, 1, 2, 4, 7, 11, KnnIndex.resFor(lons, lats, k)).distinct) {
          val index = KnnIndex(ps.map(_._1).toArray, lons, lats, res)
          for (((lon, lat), w) <- points.zip(want)) {
            val got = bits(index.nearest(lon, lat, k)._1.toSeq)
            assert(got === w, s"seed $seed, ${ps.size} POIs, k $k, res $res, point ($lon, $lat)")
          }
        }
      }
    }
    // every dist_m is the haversine of its pair, to the bit
    val rnd = new scala.util.Random(20261019L)
    val pois = Array.tabulate(2000)(j => (j.toLong, rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
    val byId = pois.map(p => p._1 -> p).toMap
    val lons = pois.map(_._2)
    val lats = pois.map(_._3)
    val index = KnnIndex(pois.map(_._1), lons, lats, KnnIndex.resFor(lons, lats, 10))
    var pairs = 0
    for (_ <- 0 until 2000) {
      val (lon, lat) = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
      for ((i, d) <- index.nearest(lon, lat, 10)._1) {
        val (_, plon, plat) = byId(i)
        val want = CellMath.haversineMeters(lon, lat, plon, plat)
        assert(java.lang.Double.doubleToLongBits(d) == java.lang.Double.doubleToLongBits(want),
          s"($lon, $lat) → POI $i: $d vs $want")
        pairs += 1
      }
    }
    assert(pairs === 20000)
  }

  test("J4 kNN is one map-only pass: no shuffle bytes, at most 2 jobs") {
    val pts = mkPoints(200).localCheckpoint()
    val pois = nodes.where(map_contains_key(col("tags"), "amenity"))
      .select(col("id").as("poi_id"), col("lon"), col("lat")).localCheckpoint()
    val sc = spark.sparkContext
    val group = "knn-map-only-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    val rows = try {
      sc.setJobGroup(group, "one knnJoin call")
      try SpatialJoin.knnJoin(pts, pois, k = 3)
      finally sc.clearJobGroup()
    } finally {
      ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(rows.count() === 200L * 3)
    assert(jobs.get >= 1 && jobs.get <= 2, s"${jobs.get} jobs")
    assert(shuffleBytes.get === 0L, s"${shuffleBytes.get} shuffle bytes written")
  }

  test("J2 super-relation (relation-of-relations) resolves to depth 2 with all rings") {
    // every super_zone relation must assemble: its own outer ring + the
    // referenced zone relation's outer AND inner rings = 3 rings, 2 outer
    val supers = world.relations.filter(_.tags.get("name").exists(_.startsWith("super_zone")))
    assert(supers.nonEmpty && supers.forall(_.members.exists(_.mtype == "relation")))
    val got = polys.where(col("src") === "relation").collect()
      .map(r => r.getAs[Long]("id") ->
        r.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](r.fieldIndex("rings")).size)
      .toMap
    supers.foreach { s =>
      assert(got(s.id) === 3, s"super-relation ${s.id} ring count")
    }
    // and a cycle cannot loop: a self-referencing multipolygon resolves to
    // its own way members exactly once
    import spark.implicits._
    val selfRel = Seq((1L, Map("type" -> "multipolygon"),
      Seq((101L, "outer", "way"), (1L, "", "relation")))).toDF("id", "tags", "m")
      .select(col("id"), col("tags"), expr(
        "transform(m, x -> struct(x._1 as memid, x._2 as role, x._3 as mtype))").as("members"))
    val wg = Seq((101L, Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0))))
      .toDF("id", "p")
      .select(col("id"), expr("transform(p, q -> struct(q._1 as lon, q._2 as lat))").as("pts"))
    val cyc = Assembly.polygonsFromRelations(selfRel, wg).collect()
    assert(cyc.length === 1)
    assert(cyc.head.getSeq[Any](cyc.head.fieldIndex("rings")).size === 1)
  }

  private def mkPoints(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val (lon, lat) = Images.position(i.toLong, world.clusterCenters)
      (i.toLong, lon, lat)
    }.toDF("pt_id", "lon", "lat")
  }

  private def bruteForcePip(points: Seq[(Long, Double, Double)]): Set[(Long, String, Long)] = {
    points.flatMap { case (id, lon, lat) =>
      expectedPolys.collect { case ((src, pid), rings) if GeomEval.pip(lon, lat, rings) =>
        (id, src, pid)
      }
    }.toSet
  }

  // runs `body` with spark.sql.autoBroadcastJoinThreshold set to `v`
  private def withBroadcastThreshold[T](v: String)(body: => T): T = {
    val was = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", was)
  }

  // `n` distinct coordinates a few cm around each seed, kept only where
  // they stay in the seed's res-12 cell
  private def aroundSeeds(seeds: Seq[(Double, Double)], n: Int): Seq[(Double, Double)] =
    seeds.flatMap { case (lon, lat) =>
      val cell = CellMath.cellOf(lon, lat, 12)
      (0 until n).map(i => (lon + (i % 20 - 10) * 1e-7, lat + (i / 20 - 10) * 1e-7))
        .filter { case (x, y) => CellMath.cellOf(x, y, 12) == cell }
    }

  test("J3 PIP join equals brute force in all skew regimes, both paths") {
    import spark.implicits._
    val base = mkPoints(400).collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    // seeds: points with a PIP hit, one per res-12 cell
    val seeds = bruteForcePip(base.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) })
      .map(_._1.toInt).toSeq.sorted.map(base)
      .distinctBy { case (x, y) => CellMath.cellOf(x, y, 12) }
    assert(seeds.size >= 3, s"fixture needs 3 cells with PIP hits, has ${seeds.size}")
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the three regimes of the hot-cell rule at P shuffle partitions:
    //   uniform  — the 80%-in-4-clusters fixture spreads over many cells,
    //              none above N/P;
    //   one hot  — 300 more points in one cell;
    //   all hot  — ≤ P-1 occupied cells, each above N/P
    val regimes = Seq(
      "uniform" -> base,
      "one hot cell" -> (base ++ aroundSeeds(seeds.take(1), 300)),
      "all hot" -> aroundSeeds(seeds.take(p - 1), 100))
    for ((regime, coords) <- regimes) {
      val ptsLocal = coords.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      val occupancy = coords.groupBy { case (x, y) => CellMath.cellOf(x, y, 12) }
        .values.map(_.size.toLong).toSeq
      val salts = occupancy.map(SpatialJoin.hotCellSalt(_, coords.size.toLong, p))
      regime match {
        case "uniform" => assert(salts.forall(_ == 1), s"$regime: $occupancy")
        case "one hot cell" => assert(salts.count(_ > 1) === 1, s"$regime: $occupancy")
        case "all hot" =>
          assert(occupancy.size < p && salts.forall(_ > 1), s"$regime: $occupancy")
      }
      val expected = bruteForcePip(ptsLocal)
      assert(expected.nonEmpty, s"$regime: fixture must produce at least one PIP hit")
      val pts = ptsLocal.toDF("pt_id", "lon", "lat")
      for (threshold <- Seq("10MB", "-1")) withBroadcastThreshold(threshold) {
        val joined = SpatialJoin.pipJoin(pts, polys, res = 12)
        val plan = joined.queryExecution.executedPlan.toString
        if (threshold == "-1") assert(plan.contains("salt_id"), s"$regime: expected the salted join\n$plan")
        else assert(plan.contains("BroadcastHashJoin") && !plan.contains("salt_id"),
          s"$regime: expected the plain broadcast cell join\n$plan")
        val got = joined.select("pt_id", "src", "poly_id").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        assert(got === expected, s"$regime threshold=$threshold got=${got.size} exp=${expected.size}")
      }
    }
  }

  // hand-built polygons whose cover has interior cells at coarse
  // resolutions: a square with a hole, a concave "C", rectangles with an
  // edge on lon = 180 and on lon = -180 / lat = -90, and two that reach past
  // ±180, so a point off the grid's range clamps into an interior cell
  private val handPolys: Seq[(Long, Seq[Seq[(Double, Double)]])] = Seq(
    1L -> Seq(Seq((-45.0, -22.5), (45.0, -22.5), (45.0, 22.5), (-45.0, 22.5), (-45.0, -22.5)),
      Seq((-11.25, -5.625), (11.25, -5.625), (11.25, 5.625), (-11.25, 5.625))),
    2L -> Seq(Seq((57.0, 11.0), (124.0, 11.0), (124.0, 23.3), (80.1, 23.3), (80.1, 44.2),
      (124.0, 44.2), (124.0, 56.0), (57.0, 56.0))),
    3L -> Seq(Seq((146.25, -20.0), (180.0, -20.0), (180.0, 25.0), (146.25, 25.0))),
    4L -> Seq(Seq((-180.0, -90.0), (-135.0, -90.0), (-135.0, -56.25), (-180.0, -56.25))),
    5L -> Seq(Seq((135.0, -50.0), (185.0, -50.0), (185.0, -30.0), (135.0, -30.0))),
    6L -> Seq(Seq((-190.0, 30.0), (-150.0, 30.0), (-150.0, 50.0), (-190.0, 50.0))))

  test("J3 PIP join equals brute force on hand-built polygons with interior cells") {
    import spark.implicits._
    val polyDf = handPolys.toDF("id", "rings")
      .withColumn("rings", col("rings").cast("array<array<struct<lon:double,lat:double>>>"))
      .withColumn("src", lit("hand"))
    val vertices = handPolys.flatMap(_._2).flatten
    val alongEdges = handPolys.flatMap(_._2).flatMap(r => r.indices.flatMap { i =>
      val ((x1, y1), (x2, y2)) = (r(i), r((i + 1) % r.size))
      Seq(0.25, 0.5, 0.75).map(t => (x1 + t * (x2 - x1), y1 + t * (y2 - y1)))
    })
    // res-5 cell corners and mid-boundary points (also res-9 corners), and
    // res-9 corners around every vertex
    val res5Lines = for (i <- 0 to 32; j <- 0 to 64) yield (-180 + 11.25 * i, 90 - 2.8125 * j)
    val res9Corners = vertices.flatMap { case (x, y) =>
      val (cx, cy) = (math.rint((x + 180) / 0.703125), math.rint((90 - y) / 0.3515625))
      for (di <- -2 to 2; dj <- -2 to 2) yield (-180 + (cx + di) * 0.703125, 90 - (cy + dj) * 0.3515625)
    }
    val rnd = new scala.util.Random(905L)
    val random = Seq.fill(400)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
    val special = Seq((0.0, 0.0), (5.0, 2.0), (-11.25, 0.0), (11.25, 0.0), (0.0, 5.625), // the hole
      (100.0, 30.0), (110.0, 40.0), // the C's notch
      (180.0, -90.0), (-180.0, -90.0), (180.0, 90.0), (-180.0, 90.0)) ++
      (-20 to 25 by 5).map(y => (180.0, y.toDouble)) ++ (-180 to -135 by 5).map(x => (x.toDouble, -90.0)) ++
      Seq((190.0, -36.0), (182.0, -36.0), (185.0, -40.0), (Double.NaN, 42.0), (-200.0, 42.0),
        (-185.0, 42.0), (0.0, Double.NaN), (10.0, 95.0), (10.0, -95.0), (Double.PositiveInfinity, -36.0))
    val ptsLocal = (vertices ++ alongEdges ++ res5Lines ++ res9Corners ++ random ++ special)
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val pts = ptsLocal.toDF("pt_id", "lon", "lat")
    val expected = ptsLocal.flatMap { case (id, lon, lat) =>
      handPolys.collect { case (pid, rings) if GeomEval.pip(lon, lat, rings) => (id, pid) }
    }.toSet
    for (res <- Seq(5, 9)) {
      // the interior skip is exercised: some true hits lie in interior cells
      val interior = SpatialJoin.preparedPolygonCells(polyDf, res).df.where(col("interior"))
        .select("poly_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val skipped = expected.count { case (id, pid) =>
        val (_, lon, lat) = ptsLocal(id.toInt)
        interior.contains((pid, CellMath.cellOf(lon, lat, res)))
      }
      assert(skipped > 0, s"res $res: no true hit lies in an interior cell")
      for (threshold <- Seq("10MB", "-1")) withBroadcastThreshold(threshold) {
        val got = SpatialJoin.pipJoin(pts, polyDf, res = res).select("pt_id", "poly_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == expected, s"res $res threshold $threshold: missing ${expected -- got}, extra ${got -- expected}")
      }
    }
  }

  test("J3 hot-cell salt rule") {
    import SpatialJoin.hotCellSalt
    // a cell at exactly N/P is not hot; one point above it is
    assert(hotCellSalt(nc = 250, n = 1000, p = 4) === 1)
    assert(hotCellSalt(nc = 251, n = 1000, p = 4) === 2)
    // ceil(n_c / (N/P)), capped at P
    assert(hotCellSalt(nc = 600, n = 1000, p = 4) === 3)
    assert(hotCellSalt(nc = 1000, n = 1000, p = 4) === 4)
    assert(hotCellSalt(nc = 999, n = 1000, p = 200) === 200)
    // P = 1 never salts; N = 0 has no hot cell
    assert(hotCellSalt(nc = 1000, n = 1000, p = 1) === 1)
    assert(hotCellSalt(nc = 0, n = 0, p = 4) === 1)
  }

  private def pipPlan: String = SpatialJoin.pipJoin(mkPoints(50), polys, res = 10)
    .queryExecution.executedPlan.toString

  test("J3 auto mode picks broadcast for a tiny polygon side") {
    // fixture polys are a few KB: Catalyst's size estimate sits far below
    // the 10MB default threshold, so pipJoin takes the plain cell join;
    // with the threshold off, both sides shuffle and hot cells are salted
    val plan = pipPlan
    assert(!plan.contains("salt_id"), plan)
    val saltedPlan = withBroadcastThreshold("-1")(pipPlan)
    assert(saltedPlan.contains("SortMergeJoin") && saltedPlan.contains("salt_id"), saltedPlan)
  }

  test("J3 broadcast path actually broadcasts") {
    // the plain cell join is planned as a broadcast hash join, not a shuffle
    val plan = pipPlan
    assert(plan.contains("BroadcastHashJoin") && plan.contains("BroadcastExchange"), plan)
  }

  test("J4 kNN join equals brute force") {
    import spark.implicits._
    val pts = mkPoints(120)
    val pois = nodes.where(map_contains_key(col("tags"), "amenity"))
      .select(col("id").as("poi_id"), col("lon"), col("lat")).cache()
    val k = 3
    val got = SpatialJoin.knnJoin(pts, pois, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet

    val poiLocal = pois.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expected = pts.collect().flatMap { r =>
      val (id, lon, lat) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      poiLocal.map { case (pid, plon, plat) =>
        (pid, graft.spatial.cell.CellMath.haversineMeters(lon, lat, plon, plat))
      }.sortBy(t => (t._2, t._1)).take(k).zipWithIndex
        .map { case ((pid, _), i) => (id, pid, i + 1) }
    }.toSet
    assert(got === expected)
  }

  test("J4 kNN equals brute force on a grid its disk wraps around (2·radius+1 > 2^res)") {
    import spark.implicits._
    // 5 POIs and k = 3: all 4 cells of res 1 are non-empty, so the derived
    // res is 0; its one cell cannot retire a point at r = 0, and the disk of
    // r = 1 would wrap the grid, so every point scans instead
    val pois = Seq((1L, -170.0, 60.0), (2L, -100.0, -30.0), (3L, 10.0, 10.0),
      (4L, 80.0, 50.0), (5L, 150.0, -60.0)).toDF("poi_id", "lon", "lat")
    val pts = (0 until 60).map { i =>
      (i.toLong, -177.0 + 6.0 * i, 80.0 * math.sin(i * 0.7))
    }.toDF("pt_id", "lon", "lat")
    val k = 3
    val got = SpatialJoin.knnJoin(pts, pois, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val poiLocal = pois.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expected = pts.collect().flatMap { r =>
      val (id, lon, lat) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      poiLocal.map { case (pid, plon, plat) =>
        (pid, graft.spatial.cell.CellMath.haversineMeters(lon, lat, plon, plat))
      }.sortBy(t => (t._2, t._1)).take(k).zipWithIndex
        .map { case ((pid, _), i) => (id, pid, i + 1) }
    }.toSet
    assert(got === expected)
  }

  test("J4 kNN straggler fallback is measured (observe + accessor), result still exact") {
    import spark.implicits._
    // the antipodes of the fixture points lie far from every POI: their
    // rings run out of non-empty cells before the k-th distance is safe,
    // and they scan every POI — the "bounded straggler" claim must be
    // measured, not assumed
    val pts = mkPoints(80).select(col("pt_id"),
      when(col("lon") > 0, col("lon") - 180).otherwise(col("lon") + 180).as("lon"), (-col("lat")).as("lat"))
    val pois = nodes.where(map_contains_key(col("tags"), "amenity"))
      .select(col("id").as("poi_id"), col("lon"), col("lat")).cache()
    val k = 3
    val got = SpatialJoin.knnJoin(pts, pois, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val n = SpatialJoin.lastKnnStragglerCount
    assert(n > 0 && n <= 80, s"expected a positive straggler count <= 80, got $n")
    // fallback rows are exact: same brute-force truth as the main path
    val poiLocal = pois.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expected = pts.collect().flatMap { r =>
      val (id, lon, lat) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      poiLocal.map { case (pid, plon, plat) =>
        (pid, graft.spatial.cell.CellMath.haversineMeters(lon, lat, plon, plat))
      }.sortBy(t => (t._2, t._1)).take(k).zipWithIndex
        .map { case ((pid, _), i) => (id, pid, i + 1) }
    }.toSet
    assert(got === expected)
    // the accessor reflects the most recent call (10 points can at most
    // leave 10 stragglers), not the 80-point run's stale fallback
    SpatialJoin.knnJoin(pts.limit(10), pois, k = 1).count()
    val n2 = SpatialJoin.lastKnnStragglerCount
    assert(n2 >= 0 && n2 <= 10, s"accessor not refreshed by latest call: $n2")
  }

  test("J4 kNN frees its per-round checkpoint blocks (only the result stays persisted)") {
    import spark.implicits._
    val pts = mkPoints(60)
    val pois = nodes.where(map_contains_key(col("tags"), "amenity"))
      .select(col("id").as("poi_id"), col("lon"), col("lat"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = SpatialJoin.knnJoin(pts, pois, k = 2)
    out.count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // exactly one new persistent RDD: the returned result's localCheckpoint
    assert(leaked.size <= 1, s"leaked checkpoint RDDs: $leaked")
  }

  test("consumer load balance: 16 Z-order shards within ±50% of mean (reference SLA)") {
    // reference end_to_end_integration.rs:174-187: 16 bbox-sharded consumers,
    // per-consumer element count within 50% of the mean. Our sharding is
    // Z-order RANGE partitioning, which balances by count even though the
    // fixture points are cluster-skewed (80% in 4 hot clusters).
    import graft.spatial.cell.{functions => F}
    val pts = mkPoints(4000).withColumn("cell", F.cell_of(col("lon"), col("lat"), 12))
    val sharded = SpatialJoin.repartitionByCellPrefix(pts, "cell", 16)
    val sizes = sharded.groupBy(spark_partition_id()).count()
      .collect().map(_.getLong(1))
    assert(sizes.length === 16)
    val mean = sizes.sum.toDouble / sizes.length
    sizes.foreach { s =>
      assert(math.abs(s - mean) <= 0.5 * mean, s"shard size $s vs mean $mean: ${sizes.toSeq}")
    }
  }

  test("bucketed cell join is exchange-free and matches the shuffle join") {
    import graft.spatial.cell.{functions => F}
    val res = 12
    val pts = mkPoints(300).withColumn("cell", F.cell_of(col("lon"), col("lat"), res))
    val pcs = SpatialJoin.preparedPolygonCells(polys, res).df
    SpatialJoin.writeBucketedByCell(pts, "bspec_points", buckets = 8)
    SpatialJoin.writeBucketedByCell(pcs, "bspec_polycells", buckets = 8)
    // tiny fixture tables would be auto-broadcast (that plan is also
    // exchange-free only on one side); force the large-table shape the
    // bucketing claim is about — SMJ over co-bucketed scans, zero shuffles
    val thresholdWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = SpatialJoin.bucketedCellJoin(spark, "bspec_points", "bspec_polycells")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      val got = joined.select("pt_id", "src", "poly_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val expected = SpatialJoin.pipJoin(mkPoints(300), polys, res = res)
        .select("pt_id", "src", "poly_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdWas)
      spark.sql("DROP TABLE IF EXISTS bspec_points")
      spark.sql("DROP TABLE IF EXISTS bspec_polycells")
    }
  }

  test("tile assignment: every PIP hit shares a tile between point and polygon") {
    val z = 10
    val pts = mkPoints(300)
    val assigned = Tiles.assignPoints(pts, z)
    val polyTiles = Tiles.assignPolygons(polys.where(col("src") === "relation"), z)
    // for every point inside a relation polygon, the point's tile must be
    // among the polygon's assigned tiles (an edge meets it or its center is inside)
    val hits = SpatialJoin.pipJoin(assigned, polys.where(col("src") === "relation"), res = 12)
      .select("pt_id", "poly_id", "tile")
    val joined = hits.join(polyTiles.withColumnRenamed("id", "poly_id"),
      Seq("poly_id", "tile"), "left_semi")
    assert(joined.count() === hits.count())
  }

  test("tile assignment gives the old tile rule's rows at z 6, 8 and 10") {
    // the rule before the one cover: cells of the bbox's cover whose center
    // is inside or that a ring edge meets
    val local = polys.select("id", "rings", "bbox").collect().map { r =>
      val rings = r.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](1)
        .map(_.map(p => (p.getDouble(0), p.getDouble(1))).toSeq).toSeq
      val b = r.getStruct(2)
      (r.getLong(0), rings, (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3)))
    }
    for (z <- Seq(6, 8, 10)) {
      val got = Tiles.assignPolygons(polys, z).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = local.toSeq.flatMap { case (id, rings, bbox) =>
        CoverReference.oldTiles(bbox, rings, z).map(id -> _) }.sorted
      assert(want.nonEmpty && got === want, s"z $z")
    }
  }

  test("per-tile aggregation (A7) counts match total") {
    val z = 8
    val assigned = Tiles.assignPoints(mkPoints(500), z)
    val stats = Tiles.tileStats(assigned)
    assert(stats.agg(sum("n")).collect().head.getLong(0) === 500L)
    assert(stats.select("tile").distinct().count() === stats.count())
  }

  test("repartitionByCellPrefix yields requested partitioning") {
    val df = Tiles.assignPoints(mkPoints(1000), 10)
    val parted = SpatialJoin.repartitionByCellPrefix(df, "tile", 8)
    assert(parted.rdd.getNumPartitions === 8)
    assert(parted.count() === 1000)
  }
}
