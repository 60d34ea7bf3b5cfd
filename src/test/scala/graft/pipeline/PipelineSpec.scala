package graft.pipeline

import graft.SparkTestBase
import graft.fixtures.OsmWorld
import graft.osmpbf.source.OsmPbf
import graft.spatial.geom.Assembly
import graft.tiles.{Images, Tiles}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private lazy val (pbfPath, world) = OsmWorld.cachedPbf(tmpDir, seed = 42, nClusters = 4, nodesPerCluster = 100)
  private lazy val polys = {
    val nodes = OsmPbf.nodes(spark, pbfPath).toDF()
    val ways = OsmPbf.ways(spark, pbfPath).toDF()
    val relations = OsmPbf.relations(spark, pbfPath).toDF()
    Assembly.polygons(nodes, ways, relations).cache()
  }
  private lazy val images = Images.synthesize(spark, 500, world.clusterCenters, 4).cache()

  test("graft job produces tile stats covering every image") {
    val out = GraftJob.run(images, polys, z = 10, res = 12)
    assert(out.agg(sum("n_images")).collect().head.getLong(0) === 500L)
    assert(out.where(col("n_hits") > 0).count() > 0)
  }

  test("join rows identical across salted and broadcast modes") {
    // the default threshold broadcasts the small fixture; -1 forces both
    // sides to shuffle, so pipJoin salts every res-12 cell holding more
    // than N/P of the N points (P = shuffle partitions). Copies of one hit
    // image, 1e-7 degrees apart, make its cell such a hot cell.
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    val base = images.select("image_id", "lon", "lat")
    val n = base.count()
    val anchor = GraftJob.joinRows(base, polys).select("image_id").head.getString(0)
    val anchorRow = base.where(col("image_id") === anchor).head
    val (lon, lat) = (anchorRow.getDouble(1), anchorRow.getDouble(2))
    val copies = n / (p - 1) + 1
    val pts = base.union((0L until copies)
      .map(i => (s"hot_$i", lon + i * 1e-7, lat + i * 1e-7)).toDF("image_id", "lon", "lat"))
    val hotCells = pts.groupBy(graft.spatial.cell.functions.cell_of(col("lon"), col("lat"), 12))
      .count().where(col("count") * p > n + copies).count()
    assert(hotCells === 1L, s"no res-12 cell holds more than ${n + copies}/$p points")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSet
    val broadcast = rows(GraftJob.joinRows(pts, polys))
    val thresholdWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val saltedDf = GraftJob.joinRows(pts, polys)
    val salted = try rows(saltedDf) finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdWas)
    val joinKeys = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(saltedDf.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
      }.flatten
    assert(joinKeys.contains("salt_id"), saltedDf.queryExecution.executedPlan.toString)
    assert(salted === broadcast)
    assert(salted.nonEmpty)
  }

  test("checkpointed run completes, resume skips all buckets") {
    val outDir = s"$tmpDir/ckpt1"
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile", "tile_z", "tile_x", "tile_y").agg(count(lit(1)).as("n"))
    val r1 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "snap=7")
    assert(r1.nonEmpty && r1.forall(!_.skipped))
    val total = CheckpointedRunner.readOutput(spark, outDir).agg(sum("n")).collect().head.getLong(0)
    assert(total === 500L)
    // resume: everything skipped, output unchanged
    val r2 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "snap=7")
    assert(r2.forall(_.skipped))
    assert(CheckpointedRunner.readOutput(spark, outDir).agg(sum("n")).collect().head.getLong(0) === total)
  }

  test("lineage change invalidates old markers: every bucket re-runs, no stale output") {
    val outDir = s"$tmpDir/ckpt3"
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile").agg(count(lit(1)).as("n"))
    val r1 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "snap=1")
    assert(r1.forall(!_.skipped))
    // new lineage over a DIFFERENT input slice (half the images): old
    // markers must not validate, and old bucket outputs must not leak into
    // readOutput even if the new run produces fewer buckets
    val half = Tiles.assignPoints(images.limit(250), 10)
    val r2 = CheckpointedRunner.run(spark, half, outDir, work, bucketRes = 2, lineage = "snap=2")
    assert(r2.forall(!_.skipped), "stale markers from snap=1 validated under snap=2")
    assert(CheckpointedRunner.readOutput(spark, outDir)
      .agg(sum("n")).collect().head.getLong(0) === 250L)
    // same lineage again: now everything skips
    val r3 = CheckpointedRunner.run(spark, half, outDir, work, bucketRes = 2, lineage = "snap=2")
    assert(r3.forall(_.skipped))
  }

  test("bucket_res change invalidates markers too") {
    val outDir = s"$tmpDir/ckpt4"
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile").agg(count(lit(1)).as("n"))
    CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "s")
    val conf = spark.sessionState.newHadoopConf()
    val buckets = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "s")
      .map(_.bucket)
    // a marker written at res=2 must not satisfy a res=3 run's isDone
    buckets.foreach { b =>
      assert(CheckpointedRunner.isDone(outDir, b, "s", 2, conf))
      assert(!CheckpointedRunner.isDone(outDir, b, "s", 3, conf))
      assert(!CheckpointedRunner.isDone(outDir, b, "other", 2, conf))
    }
  }

  test("crash mid-run: resume redoes only unfinished buckets (fault tolerance)") {
    val outDir = s"$tmpDir/ckpt2"
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile").agg(count(lit(1)).as("n"))
    // fail on the third distinct bucket encountered (parallelism = 1 keeps
    // bucket order strict, so exactly two buckets complete first)
    var seen = 0
    val boom = (b: Long) => { seen += 1; if (seen == 3) throw new RuntimeException("injected crash") }
    val attempt = intercept[RuntimeException] {
      CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "x",
        failInjector = boom, parallelism = 1)
    }
    assert(attempt.getMessage === "injected crash")
    // resume without injector: completes; first two buckets were skipped
    val r2 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "x")
    assert(r2.count(_.skipped) === 2)
    assert(CheckpointedRunner.readOutput(spark, outDir).agg(sum("n")).collect().head.getLong(0) === 500L)
    // metrics file reflects the completed run
    val metrics = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$outDir/_pipeline_metrics.json")))
    assert(metrics.contains("\"buckets_skipped\":2"))
  }

  test("concurrent buckets: same output as sequential, resume skips all") {
    val outDir = s"$tmpDir/ckpt-conc"
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile").agg(count(lit(1)).as("n"))
    val r1 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2,
      lineage = "c1", parallelism = 4)
    assert(r1.size > 1 && r1.forall(!_.skipped))
    assert(CheckpointedRunner.readOutput(spark, outDir)
      .agg(sum("n")).collect().head.getLong(0) === 500L)
    // results come back in bucket order regardless of completion order
    assert(r1.map(_.bucket) === r1.map(_.bucket).sorted)
    val r2 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2,
      lineage = "c1", parallelism = 4)
    assert(r2.forall(_.skipped))
  }

  test("concurrent buckets measurably beat sequential on a multi-bucket fixture") {
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile").agg(count(lit(1)).as("n"))
    def timed(par: Int, tag: String): Double = {
      val t0 = System.nanoTime()
      CheckpointedRunner.run(spark, tiled, s"$tmpDir/ckpt-wall-$tag", work,
        bucketRes = 2, lineage = "w", parallelism = par)
      (System.nanoTime() - t0) / 1e9
    }
    timed(1, "warm") // JIT/staging warmup so the comparison isn't first-run noise
    // Wall-clock comparisons on this box can be contaminated by the
    // multi-minute contention windows BENCH.md documents, making any hard
    // timing assertion flaky with no code defect (round-4 ADVICE). The
    // default suite therefore only MEASURES and logs the speedup (the
    // concurrency-correctness properties are asserted in the other
    // concurrent-bucket tests); set GRAFT_ASSERT_TIMING=1 to enforce the
    // wall drop (3 matched attempts, pass on the first clean one) — the
    // bench path, where the contention probe already gates the host.
    val enforce = sys.env.get("GRAFT_ASSERT_TIMING").contains("1")
    val attempts = (1 to (if (enforce) 3 else 1)).iterator.map { i =>
      val seq = timed(1, s"seq$i")
      val conc = timed(4, s"conc$i")
      info(f"attempt $i: sequential=$seq%.2fs concurrent(4)=$conc%.2fs speedup=${seq / conc}%.2fx")
      (seq, conc)
    }
    if (enforce)
      assert(attempts.exists { case (seq, conc) => conc < seq * 0.9 },
        "no attempt showed a wall drop from concurrent buckets")
    else attempts.foreach(_ => ()) // drain the iterator so the info lines emit
  }

  test("crash mid-concurrent-run: finished buckets keep markers, resume completes") {
    val outDir = s"$tmpDir/ckpt-conc-crash"
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile").agg(count(lit(1)).as("n"))
    val conf = spark.sessionState.newHadoopConf()
    // deterministic target under concurrency: fail by bucket ID, not by
    // encounter order
    val allBuckets = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2,
      lineage = "probe", parallelism = 1).map(_.bucket)
    val victim = allBuckets.max
    val boom = (b: Long) => if (b == victim) throw new RuntimeException("injected crash")
    val attempt = intercept[RuntimeException] {
      CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "cc",
        failInjector = boom, parallelism = 3)
    }
    assert(attempt.getMessage === "injected crash")
    assert(!CheckpointedRunner.isDone(outDir, victim, "cc", 2, conf),
      "failed bucket must not have a valid marker")
    // resume: victim (and any cancelled tail) re-runs, finished buckets skip
    val r2 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2,
      lineage = "cc", parallelism = 3)
    assert(r2.find(_.bucket == victim).exists(!_.skipped))
    assert(CheckpointedRunner.readOutput(spark, outDir)
      .agg(sum("n")).collect().head.getLong(0) === 500L)
  }

  test("isDone compares bucket_res exactly, never by string prefix") {
    val conf = spark.sessionState.newHadoopConf()
    val outDir = s"$tmpDir/isdone-prefix"
    graft.util.HadoopIO.writeString(CheckpointedRunner.markerPath(outDir, 5L),
      """{"bucket":5,"complete":true,"rows":1,"wall_ms":1,
        |"lineage":"L","bucket_res":12}""".stripMargin, conf)
    assert(CheckpointedRunner.isDone(outDir, 5L, "L", 12, conf))
    // the round-3 bug: contains("\"bucket_res\":1") matched the 12 marker
    assert(!CheckpointedRunner.isDone(outDir, 5L, "L", 1, conf))
    assert(!CheckpointedRunner.isDone(outDir, 5L, "other", 12, conf))
    // the string-built writer embedded Main's lineage raw, so a tab in the
    // PBF path sat unescaped inside the marker; it must still validate
    val tabbed = "images-snapshot=1 pbf=/in/a\tb.osm.pbf z=10 res=12"
    graft.util.HadoopIO.writeString(CheckpointedRunner.markerPath(outDir, 6L),
      s"""{"bucket":6,"complete":true,"rows":3,"wall_ms":9,
        |"lineage":"$tabbed","bucket_res":2}""".stripMargin, conf)
    assert(CheckpointedRunner.isDone(outDir, 6L, tabbed, 2, conf))
    assert(!CheckpointedRunner.isDone(outDir, 6L, "images-snapshot=1 pbf=/in/a", 2, conf))
    // a marker that does not parse means "not done", never a crash
    graft.util.HadoopIO.writeString(CheckpointedRunner.markerPath(outDir, 7L),
      """{"bucket":7,"complete":true,"rows":""", conf)
    assert(!CheckpointedRunner.isDone(outDir, 7L, "L", 12, conf))
  }

  test("an output directory in the previous on-disk format resumes without re-staging") {
    val conf = spark.sessionState.newHadoopConf()
    val outDir = s"$tmpDir/ckpt-oldformat"
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile", "tile_z", "tile_x", "tile_y").agg(count(lit(1)).as("n"))
    val lineage = "images-snapshot=3 pbf=/in/a\tb.osm.pbf z=10 res=12"
    val r1 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = lineage)
    // replace every stamp and marker with the exact bytes the string-built
    // writer produced (raw lineage, newline before "lineage")
    graft.util.HadoopIO.writeString(s"$outDir/_staged_lineage.json",
      s"""{"lineage":"$lineage","bucket_res":2}""", conf)
    r1.foreach { r =>
      graft.util.HadoopIO.writeString(CheckpointedRunner.markerPath(outDir, r.bucket),
        s"""{"bucket":${r.bucket},"complete":true,"rows":${r.rows},"wall_ms":${r.wallMs},
          |"lineage":"$lineage","bucket_res":2}""".stripMargin, conf)
    }
    val staged = new java.io.File(s"$outDir/staged_input/_SUCCESS")
    val stagedAt = staged.lastModified()
    val r2 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = lineage)
    assert(r2.nonEmpty && r2.forall(_.skipped), "every old-format marker must validate")
    assert(r2.map(r => r.bucket -> r.rows) === r1.map(r => r.bucket -> r.rows))
    assert(staged.exists() && staged.lastModified() === stagedAt, "the input was re-staged")
    assert(CheckpointedRunner.readOutput(spark, outDir).agg(sum("n")).collect().head.getLong(0) === 500L)
  }

  test("a lineage holding quote, backslash and newline: strict-JSON state, full resume") {
    val outDir = s"$tmpDir/ckpt-hostile-lineage"
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile", "tile_z", "tile_x", "tile_y").agg(count(lit(1)).as("n"))
    // Main embeds the raw PBF path in its lineage
    val lineage = "images-snapshot=1 pbf=/in/we\"ird\\dir\nx.osm.pbf z=10 res=12"
    val r1 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = lineage)
    assert(r1.nonEmpty && r1.forall(!_.skipped))
    val strict = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(f: java.io.File) = strict.readTree(java.nio.file.Files.readString(f.toPath))
    val markers = new java.io.File(s"$outDir/_ckpt").listFiles().filter(_.getName.endsWith(".json"))
    assert(markers.length === r1.size)
    (markers.toSeq ++ Seq("_pipeline_metrics.json", "_staged_lineage.json")
        .map(n => new java.io.File(outDir, n))).foreach { f =>
      assert(parse(f).get("lineage").asText() === lineage, f.getName)
    }
    val r2 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = lineage)
    assert(r2.forall(_.skipped))
    assert(parse(new java.io.File(outDir, "_pipeline_metrics.json")).get("buckets_skipped")
      .asInt() === r1.size)
  }

  test("same lineage, new bucket_res: input re-stages at the new resolution") {
    val outDir = s"$tmpDir/restage-res"
    val tiled = Tiles.assignPoints(images, 10)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("tile").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val r1 = CheckpointedRunner.run(spark, tiled, outDir, agg, bucketRes = 2, lineage = "s")
    val r2 = CheckpointedRunner.run(spark, tiled, outDir, agg, bucketRes = 3, lineage = "s")
    // the res-3 run must produce res-3 buckets (more, finer), not silently
    // reuse the res-2 staged partitioning
    assert(r2.forall(!_.skipped), "no res-2 marker may validate a res-3 bucket")
    assert(r2.map(_.bucket).toSet !== r1.map(_.bucket).toSet)
    assert(CheckpointedRunner.readOutput(spark, outDir)
      .agg(org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0) === 500L)
  }

  test("null-tile rows drop at staging instead of wedging the runner forever") {
    import spark.implicits._
    // a null lon propagates through the cell expressions to a null tile;
    // unfiltered, partitionBy writes it to _bucket=__HIVE_DEFAULT_PARTITION__
    // and the numeric bucket listing then crashes on EVERY run and resume
    // (the staging validates, so the crash is permanent until hand-deleted)
    val outDir = s"$tmpDir/ckpt-nulltile"
    val withNull = images.select("image_id", "lon", "lat").unionByName(
      Seq(("img-nullcoord", Option.empty[Double], Option(1.0))).toDF("image_id", "lon", "lat"))
    val tiled = Tiles.assignPoints(withNull, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile", "tile_z", "tile_x", "tile_y").agg(count(lit(1)).as("n"))
    val r1 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "snap=n")
    assert(r1.nonEmpty && r1.forall(!_.skipped))
    // the 500 real images survive; the null-coordinate row is excluded
    assert(CheckpointedRunner.readOutput(spark, outDir)
      .agg(sum("n")).collect().head.getLong(0) === 500L)
    val r2 = CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "snap=n")
    assert(r2.forall(_.skipped))
    // skipped results now carry their marker-recorded OUTPUT row counts, so
    // resumed runs still report whole-output metrics (not -1 placeholders)
    val outputRows = CheckpointedRunner.readOutput(spark, outDir).count()
    assert(r2.map(_.rows).sum === outputRows && outputRows > 0)
  }

  test("empty input: no buckets, no unreadable-staging crash, clean resume") {
    val outDir = s"$tmpDir/ckpt-empty"
    val tiled = Tiles.assignPoints(images.limit(0), 10)
    // an empty input stages only _SUCCESS; reading that back would throw
    // "Unable to infer schema" on every run once the staging validates
    val r1 = CheckpointedRunner.run(spark, tiled, outDir, identity, bucketRes = 2, lineage = "snap=e")
    assert(r1.isEmpty)
    val r2 = CheckpointedRunner.run(spark, tiled, outDir, identity, bucketRes = 2, lineage = "snap=e")
    assert(r2.isEmpty)
    intercept[IllegalStateException](CheckpointedRunner.readOutput(spark, outDir))
  }

  test("readOutput excludes a bucket directory lacking a completion marker") {
    val outDir = s"$tmpDir/ckpt-partial"
    val tiled = Tiles.assignPoints(images, 10)
    val work = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("tile", "tile_z", "tile_x", "tile_y").agg(count(lit(1)).as("n"))
    CheckpointedRunner.run(spark, tiled, outDir, work, bucketRes = 2, lineage = "snap=p")
    val total = CheckpointedRunner.readOutput(spark, outDir)
      .agg(sum("n")).collect().head.getLong(0)
    assert(total === 500L)
    // a driver crash mid-commitJob leaves part files under bucket=<b> with
    // NO marker — a bare bucket=* glob silently included them
    val first = new java.io.File(outDir).listFiles().map(_.getName)
      .filter(_.startsWith("bucket=")).min
    spark.read.parquet(s"$outDir/$first").write.parquet(s"$outDir/bucket=99999999")
    assert(CheckpointedRunner.readOutput(spark, outDir)
      .agg(sum("n")).collect().head.getLong(0) === total)
  }

  test("incremental tile maintenance: base + appended delta == full recompute") {
    import org.apache.spark.sql.functions.{col, hll_sketch_estimate, hll_union_agg, sum}
    // the ImageTable append/incremental-read surface drives the tile
    // rollup incrementally: run the graft job on the base snapshot once,
    // on the delta only, and merge — no history rescan, same result as a
    // full recompute (n_images/n_hits sum; n_distinct_polys is the estimate
    // of the union of the per-tile polys_sketch HLL sketches)
    val root = s"$tmpDir/inc-images"
    graft.tiles.ImageTable.write(images, root, snapshotId = 1L)
    val delta = Images.synthesize(spark, 600, world.clusterCenters, 4)
      .where(org.apache.spark.sql.functions
        .substring(col("image_id"), 5, 9).cast("long") >= 500)
    graft.tiles.ImageTable.append(delta, root)
    def tiles(df: org.apache.spark.sql.DataFrame) =
      GraftJob.run(df, polys, z = 10, res = 12)
    val base = tiles(graft.tiles.ImageTable.loadSnapshot(spark, root, 1L))
    val inc = tiles(graft.tiles.ImageTable.readIncremental(spark, root, 1L, 2L))
    val merged = base.unionByName(inc).groupBy("tile")
      .agg(sum("n_images").as("n_images"), sum("n_hits").as("n_hits"),
        hll_sketch_estimate(hll_union_agg(col("polys_sketch"))).as("n_distinct_polys"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("tile", "n_images", "n_hits", "n_distinct_polys").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val full = asMap(tiles(graft.tiles.ImageTable.load(spark, root)))
    assert(full.values.exists(_._3 > 0L))
    assert(asMap(merged) === full)
  }

  // hand-built rollup inputs: images a and b share a tile, c is alone in
  // another, d has no lon; hits are (image_id, tile, src, poly_id)
  private val rollupZ = 10
  private def rollupImages = {
    import spark.implicits._
    Seq(("a", Some(10.001), 50.001), ("b", Some(10.002), 50.002), ("c", Some(20.0), 40.0),
      ("d", None, 45.0)).toDF("image_id", "lon", "lat")
  }
  private def rollupHits(assigned: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val tileOf = assigned.where(col("tile").isNotNull).select("image_id", "tile").as[(String, Long)]
      .collect().toMap
    val orphan = graft.spatial.cell.CellMath.cellOf(-70.0, -30.0, rollupZ)
    // way 7 hit twice counts once; relation 7 is another polygon; the
    // orphan tile holds no image
    Seq(("a", tileOf("a"), "way", 7L), ("b", tileOf("b"), "way", 7L),
      ("a", tileOf("a"), "relation", 7L), ("x", orphan, "way", 9L))
      .toDF("image_id", "tile", "src", "poly_id")
  }

  // the rollup's schema over those inputs: tile_z keeps the images'
  // non-null lit(z), tile and tile_x/tile_y are nullable as lon is
  private val rollupSchema = StructType(Seq(
    StructField("tile", LongType), StructField("tile_z", IntegerType, nullable = false),
    StructField("tile_x", IntegerType), StructField("tile_y", IntegerType),
    StructField("n_images", LongType, nullable = false), StructField("n_hits", LongType, nullable = false),
    StructField("n_distinct_polys", LongType, nullable = false), StructField("polys_sketch", BinaryType)))

  test("tileRollup equals a plain-Scala per-tile reference, schema included") {
    import graft.spatial.cell.CellMath
    val assigned = Tiles.assignPoints(rollupImages, rollupZ)
    val hits = rollupHits(assigned)
    val out = GraftJob.tileRollup(assigned, hits)
    assert(out.schema === rollupSchema)

    val imageTiles = assigned.select("tile").collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    val hitRows = hits.select("tile", "src", "poly_id").collect().map(r => (r.getLong(0), s"${r.getString(1)}:${r.getLong(2)}"))
    val expected = imageTiles.groupBy(identity).map { case (tile, imgs) =>
      val keys = tile.toSeq.flatMap(t => hitRows.collect { case (`t`, k) => k })
      (tile, rollupZ, tile.map(CellMath.xOf), tile.map(CellMath.yOf), imgs.length.toLong,
        keys.length.toLong, keys.distinct.length.toLong, keys.nonEmpty)
    }.toSet
    val actual = out.collect().map { r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Int]), r.getLong(4), r.getLong(5), r.getLong(6), !r.isNullAt(7))
    }.toSet
    assert(actual === expected)
    // the cases the reference covers: a hit-less tile, a polygon hit
    // twice, a way and a relation sharing id 7, the orphan hit dropped
    assert(expected.exists(t => t._6 == 0L && t._7 == 0L && !t._8 && t._1.isDefined))
    assert(expected.exists(t => t._6 == 3L && t._7 == 2L))
    assert(expected.size === 3)
  }

  test("a null-lon image keeps tile_z = z in GraftJob.run, with null tile_x and tile_y") {
    val out = GraftJob.run(rollupImages, polys, z = rollupZ, res = 12)
    val nullTile = out.where(col("tile").isNull).collect()
    assert(nullTile.length === 1)
    val r = nullTile.head
    assert(r.getInt(1) === rollupZ && r.isNullAt(2) && r.isNullAt(3))
    assert((r.getLong(4), r.getLong(5), r.getLong(6), r.isNullAt(7)) === ((1L, 0L, 0L, true)))
    assert(out.schema === rollupSchema)
  }

  test("tileRollup shuffles once: one exchange, no join, in the final adaptive plan") {
    val assigned = Tiles.assignPoints(rollupImages, rollupZ)
    val out = GraftJob.tileRollup(assigned, rollupHits(assigned))
    out.collect()
    val plan = out.queryExecution.executedPlan
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val exchanges = helper.collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val joins = helper.collect(plan) { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(plan.toString.contains("isFinalPlan=true"), plan.toString)
    assert(exchanges.size === 1 && joins.isEmpty, plan.toString)
  }
}
