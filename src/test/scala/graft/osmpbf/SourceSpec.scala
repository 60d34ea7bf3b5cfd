package graft.osmpbf

import graft.SparkTestBase
import graft.fixtures.OsmWorld
import graft.osmpbf.source.OsmPbf

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SourceSpec extends AnyFunSuite with SparkTestBase {

  private lazy val (path, world) = OsmWorld.cachedPbf(tmpDir, seed = 42, nClusters = 4, nodesPerCluster = 120)

  test("source decode parity: counts, coordinates, tags match ground truth") {
    val df = OsmPbf.raw(spark, path).cache()
    val counts = df.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("node") === world.nodes.size)
    assert(counts("way") === world.ways.size)
    assert(counts("relation") === world.relations.size)

    // coordinate equality on a sample of nodes
    val got = df.where(col("kind") === "node")
      .select("id", "lat_nd", "lon_nd", "lat", "lon").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    world.nodes.foreach { n =>
      val (latNd, lonNd, lat, lon) = got(n.id)
      assert(latNd === n.lat_nd && lonNd === n.lon_nd)
      assert(lat === n.lat_nd * 1e-9 && lon === n.lon_nd * 1e-9)
    }

    // tag equality for tagged nodes
    val taggedGot = df.where(col("kind") === "node" && size(map_keys(col("tags"))) > 0)
      .select("id", "tags").collect()
      .map(r => r.getLong(0) -> r.getMap[String, String](1).toMap).toMap
    val taggedExp = world.nodes.filter(_.tags.nonEmpty).map(n => n.id -> n.tags).toMap
    assert(taggedGot === taggedExp)
    df.unpersist()
  }

  test("typed Dataset API: nodes/ways/relations round trip") {
    val nodes = OsmPbf.nodes(spark, path).collect()
    assert(nodes.length === world.nodes.size)
    val byId = nodes.map(n => n.id -> n).toMap
    world.nodes.take(50).foreach { exp =>
      val got = byId(exp.id)
      assert(got.lat_nd === exp.lat_nd)
      assert(got.tags === exp.tags)
      assert(got.info.map(_.user) === exp.info.map(_.user))
      assert(got.info.map(_.ts) === exp.info.map(_.ts))
    }
    val ways = OsmPbf.ways(spark, path).collect()
    assert(ways.map(w => w.id -> w.refs).toMap === world.ways.map(w => w.id -> w.refs).toMap)
    val rels = OsmPbf.relations(spark, path).collect()
    assert(rels.map(r => r.id -> r.members).toMap ===
      world.relations.map(r => r.id -> r.members).toMap)
  }

  test("kind filter prunes blobs and decode work") {
    val ways = OsmPbf.raw(spark, path, kind = "ways")
    val n = ways.where(col("kind") === "way").count()
    assert(n === world.ways.size)
    // physical plan should carry the kind pushdown in the scan description
    val plan = ways.where(col("kind") === "way").queryExecution.executedPlan.toString
    assert(plan.contains("osmpbf"), plan)
  }

  test("id range filter uses zone maps but returns exact rows") {
    val ids = world.nodes.map(_.id)
    val lo = ids.min + 5
    val hi = ids.min + 60
    val got = OsmPbf.nodes(spark, path).where(col("id").between(lo, hi)).collect().map(_.id).sorted
    assert(got.toSeq === ids.filter(i => i >= lo && i <= hi).sorted)
  }

  test("count via groupBy matches reference count_elements semantics") {
    val m = OsmPbf.countElements(spark, path).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("node") === world.nodes.size && m("way") === world.ways.size)
  }

  test("header() exposes replication metadata (osmosis semantics)") {
    val h = OsmPbf.header(path).get
    assert(h.replication_sequence === Some(4242L))
    assert(h.required_features.contains("DenseNodes"))
  }

  test("pure-SQL surface: CREATE TABLE ... USING osmpbf, pushdown intact") {
    spark.sql(s"CREATE TABLE osm_sql USING osmpbf OPTIONS (path '$path')")
    try {
      val n = spark.sql("SELECT count(*) FROM osm_sql WHERE kind = 'node'")
        .head().getLong(0)
      assert(n === world.nodes.size.toLong)
      val tagged = spark.sql(
        "SELECT id, tags['amenity'] AS a FROM osm_sql WHERE kind = 'node' AND tags['amenity'] IS NOT NULL")
      assert(tagged.count() > 0)
      // the scan under SQL still carries the kind pushdown
      val plan = spark.sql("SELECT id FROM osm_sql WHERE kind = 'way'")
        .queryExecution.executedPlan.toString
      assert(plan.contains("kinds=2"), plan)
    } finally spark.sql("DROP TABLE IF EXISTS osm_sql")
  }

  test("scan reports post-pushdown statistics; small PBF side auto-broadcasts") {
    // numRows from writer-embedded per-blob counts, narrowed by the kind
    // pushdown; sizeInBytes present and positive
    val scanRel = OsmPbf.raw(spark, path).where(col("kind") === "node")
      .queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.getOrElse(fail("no DataSourceV2ScanRelation in optimized plan"))
    val stats = scanRel.stats
    assert(stats.rowCount.isDefined, "numRows missing from DSv2 stats")
    assert(stats.rowCount.get.toLong === world.nodes.size.toLong)
    assert(stats.sizeInBytes > 0)
    // the point of SupportsReportStatistics: joining a big table against a
    // small PBF table must pick BroadcastHashJoin WITHOUT an explicit
    // broadcast() hint
    val big = spark.range(0, 100000).withColumnRenamed("id", "nid")
    val joined = big.join(OsmPbf.raw(spark, path).where(col("kind") === "node"),
      col("nid") === col("id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("id point lookups (= and IN) prune via the zone map and stay exact") {
    val someId = world.nodes(world.nodes.size / 2).id
    val eq = OsmPbf.raw(spark, path).where(col("id") === someId && col("kind") === "node")
    assert(eq.count() === 1L)
    // the pushdown narrowed the id range: the scan description carries it
    val desc = eq.queryExecution.executedPlan.toString
    assert(desc.contains(s"idRange=[$someId,$someId]"), desc.take(800))
    val ids = Seq(world.nodes.head.id, someId, world.nodes.last.id)
    val in = OsmPbf.raw(spark, path)
      .where(col("id").isin(ids: _*) && col("kind") === "node")
    assert(in.count() === ids.distinct.size.toLong)
  }

  test("foreign file without embedded stats: sidecar pass restores pruning and row stats") {
    import graft.osmpbf.codec.{FrameScanner, PbfWriter}
    // a "foreign" pbf: same world, but written with withStats=false — the
    // shape of planet dumps / osmium output (no indexdata in BlobHeaders)
    val fPath = s"$tmpDir/foreign_nostats.osm.pbf"
    val w = new PbfWriter(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(fPath), 1 << 16), elementsPerBlock = 300,
      withStats = false)
    w.writeHeader(graft.osmpbf.model.HeaderMeta(
      Seq("OsmSchema-V0.6", "DenseNodes"), Nil, "foreign", "synthetic",
      None, None, None, None))
    world.nodes.foreach(w.addNode)
    world.ways.foreach(w.addWay)
    world.relations.foreach(w.addRelation)
    w.close()
    val conf = spark.sessionState.newHadoopConf()
    val before = FrameScanner.scan(fPath, conf).blobs.filter(_.blobType == "OSMData")
    assert(before.nonEmpty && before.forall(_.nodeCount < 0), "foreign file must carry no stats")
    // decode still correct, but every data blob survives a relations-only
    // scan (conservative include-all)
    val keptBefore = before.count(b =>
      graft.osmpbf.source.OsmPbfScan.keepBlob(b, graft.osmpbf.codec.PbfCodec.KindRelation,
        Long.MinValue, Long.MaxValue))
    assert(keptBefore === before.size)

    // one stats pass builds the sidecar on executors
    val summary = graft.osmpbf.source.OsmStats.buildBlobStats(spark, fPath).collect()
    assert(summary.length === 1 && summary.head.getAs[Boolean]("sidecar_written"))
    assert(summary.head.getAs[Int]("blobs_counted") === before.size)

    // scans now see counts: relations-only keeps a strict subset of blobs,
    // and totals match ground truth exactly
    val after = FrameScanner.scan(fPath, conf).blobs.filter(_.blobType == "OSMData")
    assert(after.forall(_.nodeCount >= 0), "sidecar not merged into scan")
    assert(after.map(_.nodeCount).sum === world.nodes.size.toLong)
    assert(after.map(_.relationCount).sum === world.relations.size.toLong)
    val keptAfter = after.count(b =>
      graft.osmpbf.source.OsmPbfScan.keepBlob(b, graft.osmpbf.codec.PbfCodec.KindRelation,
        Long.MinValue, Long.MaxValue))
    assert(keptAfter < before.size, "relations-only scan must prune node-only blobs")
    // end-to-end read through the pruned plan stays exact
    assert(OsmPbf.relations(spark, fPath).count() === world.relations.size.toLong)
    assert(OsmPbf.raw(spark, fPath).count() ===
      (world.nodes.size + world.ways.size + world.relations.size).toLong)
    // a second pass is a no-op (stats already visible)
    val summary2 = graft.osmpbf.source.OsmStats.buildBlobStats(spark, fPath).collect()
    assert(!summary2.head.getAs[Boolean]("sidecar_written"))

    // rewriting the pbf invalidates the sidecar (file-size guard)
    val w2 = new PbfWriter(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(fPath), 1 << 16), elementsPerBlock = 299,
      withStats = false)
    w2.writeHeader(graft.osmpbf.model.HeaderMeta(
      Seq("OsmSchema-V0.6", "DenseNodes"), Nil, "foreign", "synthetic",
      None, None, None, None))
    world.nodes.take(100).foreach(w2.addNode)
    w2.close()
    val rewritten = FrameScanner.scan(fPath, conf).blobs.filter(_.blobType == "OSMData")
    assert(rewritten.forall(_.nodeCount < 0), "stale sidecar must not validate")
  }

  test("a stats sidecar in the previous on-disk format still merges into the scan") {
    import graft.osmpbf.codec.{FrameScanner, PbfWriter}
    val fPath = s"$tmpDir/foreign_oldsidecar.osm.pbf"
    val w = new PbfWriter(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(fPath), 1 << 16), elementsPerBlock = 10,
      withStats = false)
    w.writeHeader(graft.osmpbf.model.HeaderMeta(
      Seq("OsmSchema-V0.6", "DenseNodes"), Nil, "foreign", "synthetic",
      None, None, None, None))
    world.nodes.take(20).foreach(w.addNode)
    w.close()
    val conf = spark.sessionState.newHadoopConf()
    val scan0 = FrameScanner.scan(fPath, conf)
    val Seq(a, b) = scan0.blobs.filter(_.blobType == "OSMData")
    val (lo, hi) = (world.nodes.take(10).map(_.id).min, world.nodes.take(10).map(_.id).max)
    // the string-built writer's bytes: one entry with an id range, one
    // without (a blob it counted no elements in carries none)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(FrameScanner.sidecarPath(fPath)),
      s"""{"file_size":${scan0.fileSize},"blobs":[{"offset":${a.headerOffset},"nodes":10,""" +
        s""""ways":0,"relations":0,"changesets":0,"min_id":$lo,"max_id":$hi},""" +
        s"""{"offset":${b.headerOffset},"nodes":0,"ways":0,"relations":0,"changesets":0}]}""")
    val Seq(a2, b2) = FrameScanner.scan(fPath, conf).blobs.filter(_.blobType == "OSMData")
    assert((a2.nodeCount, a2.wayCount, a2.minId, a2.maxId) === ((10L, 0L, lo, hi)))
    assert((b2.nodeCount, b2.minId, b2.maxId) === ((0L, Long.MinValue, Long.MaxValue)))
    // what the stats pass writes now is strict JSON and merges the same way
    new java.io.File(FrameScanner.sidecarPath(fPath)).delete()
    graft.osmpbf.source.OsmStats.buildBlobStats(spark, fPath).collect()
    val side = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(FrameScanner.sidecarPath(fPath))))
    assert(side.get("file_size").asLong() === scan0.fileSize && side.get("blobs").size() === 2)
    val Seq(a3, b3) = FrameScanner.scan(fPath, conf).blobs.filter(_.blobType == "OSMData")
    assert((a3.nodeCount, a3.minId, a3.maxId) === ((10L, lo, hi)))
    assert(b3.nodeCount === 10L)
    // a sidecar that does not parse is ignored, never a failed scan
    java.nio.file.Files.writeString(java.nio.file.Paths.get(FrameScanner.sidecarPath(fPath)),
      s"""{"file_size":${scan0.fileSize},"blobs":[{"offset":""")
    assert(FrameScanner.scan(fPath, conf).blobs.filter(_.blobType == "OSMData")
      .forall(_.nodeCount < 0))
  }

  test("multiple files in a directory read as one table") {
    val dir = java.nio.file.Files.createTempDirectory("multi").toString
    val w1 = OsmWorld.generate(seed = 1, nClusters = 1, nodesPerCluster = 30)
    val w2 = OsmWorld.generate(seed = 2, nClusters = 1, nodesPerCluster = 30)
    OsmWorld.writePbf(s"$dir/a.osm.pbf", w1)
    OsmWorld.writePbf(s"$dir/b.osm.pbf", w2)
    val n = OsmPbf.raw(spark, dir).where(col("kind") === "node").count()
    assert(n === w1.nodes.size + w2.nodes.size)
  }

  test("splits are sized from the data: several per multi-blob file, at most one per blob") {
    import graft.osmpbf.codec.{FrameScanner, PbfCodec, PbfFile}
    import graft.osmpbf.source.{OsmPbfPartition, OsmPbfScan}
    val multi = s"$tmpDir/split_multi.osm.pbf"
    OsmWorld.writePbf(multi, world, elementsPerBlock = 50)
    val conf = spark.sessionState.newHadoopConf()
    val blobs = FrameScanner.scan(multi, conf).blobs.filter(_.blobType == "OSMData")
    def splits(df: org.apache.spark.sql.Dataset[_]): Seq[Seq[Long]] =
      df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.inputPartitions.map(_.asInstanceOf[OsmPbfPartition].blobs.map(_.headerOffset).toSeq)
      }.getOrElse(fail("no BatchScanExec in the executed plan"))

    // every data blob, in file order, split across the suite's cores
    val all = splits(OsmPbf.raw(spark, multi))
    assert(spark.sparkContext.defaultParallelism > 1)
    assert(all.size > 1, s"${blobs.size} blobs read as one split")
    assert(all.size <= blobs.size)
    assert(all.flatten === blobs.map(_.headerOffset))
    // one wave: never more splits than the scan's parallelism, however
    // the blob sizes divide the payload
    val p = spark.sparkContext.defaultParallelism
    assert(blobs.size >= p, s"fixture has ${blobs.size} blobs, fewer than $p cores")
    assert(all.size <= p, s"${blobs.size} blobs read as ${all.size} splits at parallelism $p")

    // rows are those of the single-threaded reader, whatever the grouping
    val decoded = PbfFile.read(multi, conf = conf)
    assert(OsmPbf.nodes(spark, multi).collect().toSet === decoded.nodes.toSet)
    assert(OsmPbf.ways(spark, multi).collect().toSet === decoded.ways.toSet)
    assert(OsmPbf.relations(spark, multi).collect().toSet === decoded.relations.toSet)

    // a kind-pruned scan splits only the blobs that hold that kind
    val wayBlobs = blobs.filter(b =>
      OsmPbfScan.keepBlob(b, PbfCodec.KindWay, Long.MinValue, Long.MaxValue))
    assert(wayBlobs.nonEmpty && wayBlobs.size < blobs.size)
    val waySplits = splits(OsmPbf.ways(spark, multi))
    assert(waySplits.flatten === wayBlobs.map(_.headerOffset))
    assert(waySplits.size <= wayBlobs.size)
  }

  test("permissive mode skips only the corrupt blob and the metric is registered") {
    import graft.osmpbf.codec.{FrameScanner, PbfCodec}
    import graft.osmpbf.source.{OsmPbfScan, OsmPbfSource}
    // registration: Spark matches reader-reported names against
    // supportedCustomMetrics — an unregistered name is silently dropped
    spark.sparkContext // OsmPbfScan captures SparkSession.active at construction
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("path", path))
    val scan = new OsmPbfScan(opts, OsmPbfSource.fullSchema, PbfCodec.KindAll,
      Long.MinValue, Long.MaxValue)
    assert(scan.supportedCustomMetrics().map(_.name()).toSet === Set("decodeErrors"))

    // corrupt ONE data blob's payload in a purpose-built MULTI-blob file
    // (the shared fixture fits one blob at the default elementsPerBlock)
    val dir = java.nio.file.Files.createTempDirectory("perm").toString
    val clean = s"$dir/clean.osm.pbf"
    val corrupt = s"$dir/corrupt.osm.pbf"
    graft.fixtures.OsmWorld.writePbf(clean, world, elementsPerBlock = 200)
    java.nio.file.Files.copy(java.nio.file.Paths.get(clean),
      java.nio.file.Paths.get(corrupt))
    val blobs = FrameScanner.scan(corrupt, spark.sessionState.newHadoopConf()).blobs
      .filter(_.blobType == "OSMData")
    assert(blobs.size >= 2, "fixture must span multiple data blobs")
    val victim = blobs.head
    val raf = new java.io.RandomAccessFile(corrupt, "rw")
    try {
      raf.seek(victim.dataOffset + victim.dataSize / 2)
      raf.write(Array.fill[Byte](32)(0x5a))
    } finally raf.close()

    // default mode: content corruption fails the read loudly
    intercept[org.apache.spark.SparkException] {
      spark.read.format("osmpbf").load(corrupt).count()
    }
    // permissive: the intact blobs' rows survive, the corrupt one is skipped
    val total = spark.read.format("osmpbf").load(clean).count()
    val got = spark.read.format("osmpbf").option("permissive", "true")
      .load(corrupt).count()
    assert(got > 0 && got < total, s"expected partial rows, got $got of $total")
  }
}
