package graftbench

import graft.osmpbf.codec.{FrameScanner, PbfCodec}
import graft.osmpbf.source.OsmPbf
import graft.pipeline.{CheckpointedRunner, GraftJob}
import graft.spatial.cell.{functions => F}
import graft.spatial.join.SpatialJoin
import graft.tiles.{ImageTable, Tiles}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File

/** The traced run: calls the layers' public functions from outside, in the
  * order `graft.pipeline.Main` calls them, materializing each layer's
  * output at its boundary (`localCheckpoint` where the next layer consumes
  * it, a `noop` write or a small collect at a leaf; never `count()` inside
  * a span). Every call runs inside a span with its own Spark job group. */
object Traced {
  import Worker.{problem, say}

  /** Counts what the block decoder hands out, per kind. */
  final class CountingHandler extends PbfCodec.ElementHandler {
    var nodes, ways, relations = 0L
    def onNode(id: Long, latNd: Long, lonNd: Long, lat: Double, lon: Double,
        tagK: Array[String], tagV: Array[String], info: PbfCodec.InfoData): Unit = nodes += 1
    def onWay(id: Long, refs: Array[Long], tagK: Array[String], tagV: Array[String],
        info: PbfCodec.InfoData): Unit = ways += 1
    def onRelation(id: Long, memids: Array[Long], roles: Array[String], types: Array[Byte],
        tagK: Array[String], tagV: Array[String], info: PbfCodec.InfoData): Unit = relations += 1
    def onChangeSet(id: Long, tagK: Array[String], tagV: Array[String]): Unit = ()
  }

  /** Points the traced kNN call uses: all of them on the kNN workload, the
    * first 2,000 elsewhere. */
  def knnIds(workload: String, in: Inputs): Long =
    if (workload == "knn_sparse") in.sizes.images else math.min(2000L, in.sizes.images)

  /** Runs in a fresh worker JVM ([[Worker]] mode `traced`). */
  def sweep(spark: SparkSession, workload: String, in: Inputs, runDir: File): Unit = {
    val rec = new SpanRecorder(s"$workload-${in.seed}", Some(spark.sparkContext))
    val listener = BenchListener.latest
    val observed = new java.util.concurrent.atomic.AtomicLong(-1L)
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get("knn_stragglers").foreach(r => observed.set(r.getLong(0)))
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    def secs(name: String): Double =
      rec.all.filter(_.name == name).map(_.durNs).sum / 1e9
    def work(name: String): Work =
      rec.all.filter(_.name == name).map(s => listener.work(rec.groupOf(s.id))).foldLeft(Work.Empty)(_ + _)
    def m(name: String, v: Double): Unit = say("metric", name, v)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (z, res) = (Runner.Z, Runner.Res)
    val truthElements = in.truth.nodes + in.truth.ways + in.truth.relations
    lazy val expected = Check.expectedTiles(in) // after Main's path: not part of its wall

    rec.span("run") {
      // ---- Main's path first, materialized exactly as Main does it:
      // snapshot, assembly and cover checkpointed, then the bucket runner
      val images = rec.span("tiles.snapshot") {
        ImageTable.loadSnapshot(spark, in.images, ImageTable.currentSnapshot(spark, in.images))
      }
      val polys = rec.span("geom.assembly")(Worker.polygons(spark, in))
      val cells = rec.span("cell.cover")(SpatialJoin.preparedPolygonCells(polys, res).localCheckpoint())
      val points = images.select("image_id", "lon", "lat")
      val out = new File(runDir, "traced-out").getAbsolutePath
      val lineage = s"traced ${in.dir.getName}"
      val workStarts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      def runPipeline(name: String): (Seq[CheckpointedRunner.BucketResult], Long) = {
        val t0 = System.nanoTime()
        val r = rec.span(name) {
          CheckpointedRunner.run(spark, Tiles.assignPoints(points, z), out, slice => {
            workStarts.add(System.nanoTime())
            GraftJob.tileRollup(slice, SpatialJoin.pipJoin(slice, polys, res = res,
              mode = "salted", preparedCells = Some(cells)))
          }, bucketRes = 2, lineage = lineage, parallelism = 4)
        }
        (r, t0)
      }
      val (fresh, t0) = runPipeline("pipeline.run")
      m("trace.main_path_end_ms", System.currentTimeMillis())

      val nPolys = polys.count()
      m("tiles.snapshot.s", secs("tiles.snapshot"))
      m("geom.assembly.s", secs("geom.assembly"))
      m("geom.polygons", nPolys)
      m("geom.polygons_per_s", nPolys / secs("geom.assembly"))
      m("geom.shuffle_mb", work("geom.assembly").shuffleMb)
      System.err.println(f"[graftbench] geom.spill_mb ${work("geom.assembly").spillMb}%.3f")
      if (nPolys != in.truth.polys.size) problem(s"assembled $nPolys polygons, generated ${in.truth.polys.size}")
      val nCells = cells.df.count()
      m("cell.cover.s", secs("cell.cover"))
      m("cell.cover.cells", nCells)
      m("cell.cells_per_polygon", nCells.toDouble / math.max(1L, nPolys))

      val starts = workStarts.toArray.map(_.asInstanceOf[java.lang.Long].longValue).sorted
      val walls = fresh.map(_.wallMs / 1e3).sorted
      val p50 = Runner.median(walls)
      m("pipeline.stage.s", starts.headOption.map(s => (s - t0) / 1e9).getOrElse(0.0))
      m("pipeline.buckets", fresh.size)
      m("pipeline.bucket.p50_s", p50)
      m("pipeline.bucket.max_s", walls.lastOption.getOrElse(0.0))
      m("pipeline.bucket_skew", walls.lastOption.getOrElse(0.0) / math.max(1e-9, p50))
      m("pipeline.bucket_wait_s", starts.map(s => (s - starts.head) / 1e9).sum)
      m("pipeline.run.s", secs("pipeline.run"))
      val freshOut = Check.tiles(CheckpointedRunner.readOutput(spark, out))
      Oracle.compareRollup(freshOut, expected).foreach(p => problem(s"traced pipeline: $p"))
      // the untraced reference Main job (pipeline workload) wrote here
      val refOut = new File(runDir, "ref-out")
      if (refOut.isDirectory &&
          Check.tiles(CheckpointedRunner.readOutput(spark, refOut.getAbsolutePath)) != freshOut)
        problem("traced pipeline output differs from the untraced Main output")
      m("pipeline.stored_mb", Fixtures.treeBytes(new File(out)) / 1e6)

      // ---- resume: markers of every other bucket deleted, Main re-run
      val ckpt = new File(out, "_ckpt")
      fresh.map(_.bucket).sorted.zipWithIndex.collect { case (b, i) if i % 2 == 0 =>
        new File(ckpt, s"$b.json").delete() }
      val (resumed, _) = runPipeline("pipeline.resume")
      m("pipeline.resume.s", secs("pipeline.resume"))
      m("pipeline.resume.skipped", resumed.count(_.skipped))
      m("pipeline.resume.rerun", resumed.count(!_.skipped))
      if (Check.tiles(CheckpointedRunner.readOutput(spark, out)) != freshOut)
        problem("resumed pipeline output differs from the fresh output")

      // ---- the bucket work's layers, each materialized at its boundary
      val tiled = rec.span("tiles.assign")(Tiles.assignPoints(points, z).localCheckpoint())
      m("tiles.assign.s", secs("tiles.assign"))
      val hits = rec.span("join.pip") {
        SpatialJoin.pipJoin(tiled, polys, res = res, mode = "salted", preparedCells = Some(cells))
          .localCheckpoint()
      }
      val pointCells = tiled.select(F.cell_of(col("lon"), col("lat"), res).as("cell"))
      val candidates = pointCells.join(cells.df.select("cell"), "cell").count()
      val nHits = hits.count()
      val densest = pointCells.groupBy("cell").count().agg(max("count")).collect().head.getLong(0)
      m("join.pip.s", secs("join.pip"))
      m("join.pip.candidates", candidates)
      m("join.pip.hits", nHits)
      m("join.pip.hits_per_candidate", nHits.toDouble / math.max(1L, candidates))
      m("join.pip.max_cell_points", densest)
      m("join.pip.shuffle_mb", work("join.pip").shuffleMb)
      m("join.pip.task_skew", work("join.pip").skew)
      val rolled = rec.span("tiles.rollup")(Check.tiles(GraftJob.tileRollup(tiled, hits)))
      m("tiles.rollup.s", secs("tiles.rollup"))
      Oracle.compareRollup(rolled, expected).foreach(p => problem(s"traced rollup: $p"))

      // ---- osmpbf.codec: single-threaded, no Spark
      val scan = rec.span("codec.frame_scan")(FrameScanner.scan(in.pbf))
      val data = scan.blobs.filter(_.blobType == "OSMData")
      val conf = spark.sessionState.newHadoopConf()
      val payloads = data.map(b => FrameScanner.readBlobPayload(b, conf))
      val blocks = rec.span("codec.inflate")(payloads.map(p => PbfCodec.decodeBlobPayload(p, 0, p.length)))
      val counter = new CountingHandler
      rec.span("codec.decode")(blocks.foreach(b => PbfCodec.decodeBlock(b, counter)))
      val (compressedMb, inflatedMb) = (payloads.map(_.length.toLong).sum / 1e6, blocks.map(_.length.toLong).sum / 1e6)
      val decoded = counter.nodes + counter.ways + counter.relations
      m("codec.frame_scan.mb_per_s", scan.fileSize / 1e6 / secs("codec.frame_scan"))
      m("codec.inflate.mb_per_s", inflatedMb / secs("codec.inflate"))
      m("codec.decode.elements_per_s", decoded / secs("codec.decode"))
      m("codec.blobs", data.size)
      m("codec.elements", decoded)
      m("codec.compressed_mb", compressedMb)
      m("codec.inflated_mb", inflatedMb)
      if ((counter.nodes, counter.ways, counter.relations) != ((in.truth.nodes, in.truth.ways, in.truth.relations)))
        problem(s"block decoder counted ${(counter.nodes, counter.ways, counter.relations)}, " +
          s"generated ${(in.truth.nodes, in.truth.ways, in.truth.relations)}")

      // ---- osmpbf.source
      rec.span("source.scan")(noop(OsmPbf.raw(spark, in.pbf)))
      Check.decodedCounts(spark, in).foreach(problem)
      m("source.scan.s", secs("source.scan"))
      m("source.scan.elements_per_s", truthElements / secs("source.scan"))
      m("source.partitions", OsmPbf.raw(spark, in.pbf).rdd.getNumPartitions)

      // ---- spatial.join kNN
      val n = knnIds(workload, in)
      val pts = Worker.knnPoints(spark, in).where(col("pt_id") < n).localCheckpoint()
      val pois = Worker.pois(spark, in).localCheckpoint()
      def knnCall(): DataFrame = {
        val r = SpatialJoin.knnJoin(pts, pois, Worker.K)
        noop(r)
        r
      }
      def untraced(): Double = { val t = System.nanoTime(); knnCall(); (System.nanoTime() - t) / 1e9 }
      // on its own workload the traced call is bracketed by untraced ones:
      // their mean is the reference for the tracing overhead (calls speed
      // up as the JIT warms, so one side alone would bias it)
      val before = if (workload == "knn_sparse") untraced() else 0.0
      val knn = rec.span("join.knn")(knnCall())
      if (workload == "knn_sparse") m("trace.knn_untraced_s", (before + untraced()) / 2)
      m("join.knn.s", secs("join.knn"))
      m("trace.knn_path_s", secs("join.knn"))
      m("join.knn.stragglers",
        if (observed.get >= 0) observed.get.toDouble else SpatialJoin.lastKnnStragglerCount.toDouble)
      m("join.knn.jobs", work("join.knn").jobs)
      m("join.knn.rows", knn.count())
      Worker.checkKnn(knn, in, (0L until n).iterator).foreach(p => problem(s"traced knn: $p"))

      // ---- tiles: PNG parity
      val pImages = ImageTable.load(spark, in.parityImages)
      val gc0 = Traced.gcMs
      val (rows, ok, _) = rec.span("tiles.parity")(Worker.parityVerdict(pImages, in))
      val gcMs = Traced.gcMs - gc0
      m("tiles.parity.s", secs("tiles.parity"))
      m("tiles.parity.images_per_s", rows / secs("tiles.parity"))
      System.err.println(f"[graftbench] tiles.parity.gc_s ${gcMs / 1e3}%.3f")
      if (ok != in.sizes.pngImages) problem(s"traced parity: $ok of ${in.sizes.pngImages} rows pass")
    }

    rec.all.foreach(sp => say("span", sp.id.toString, s"${sp.parent} ${sp.startNs} ${sp.endNs} ${sp.name}"))
  }

  /** `--trace 1`: the traced worker, parity at `local[cores]` and
    * `local[1]` in fresh JVMs for scale_eff, and on `pipeline` an untraced
    * `Main` job as the reference for the tracing overhead (on `knn_sparse`
    * the traced worker times untraced calls itself). */
  def drive(jvm: Jvm, runDir: File, workload: String, in: Inputs, seconds: Double): Outcome = {
    val ref = if (workload == "pipeline") Some(Runner.runMain(jvm, in, new File(runDir, "ref-out"))) else None
    val refProblems = ref.toSeq.flatMap(s => if (s.ok) Nil else Seq(s"Main exited ${s.run.exit}"))
    val traced = Worker.spawn(jvm, "traced", in, workload, seconds, runDir)
    val runId = s"$workload-${in.seed}"
    val spans = traced.spans.map { case (id, rest) =>
      val Array(parent, start, end, name) = rest.split(" ", 4)
      Span(id.toInt, name, parent.toInt, runId, start.toLong, end.toLong)
    }
    System.err.println(s"[graftbench] traced run $runId: self time per span\n" + SelfTime.render(spans))
    val traces = new File(runDir.getParentFile, "traces")
    traces.mkdirs()
    java.nio.file.Files.writeString(new File(traces, s"$runId.spans.json").toPath, SelfTime.json(spans))
    val par = Worker.spawn(jvm, "parity", in, workload, 0, runDir)
    val par1 = Worker.spawn(jvm, "parity", in, workload, 0, runDir, cores = 1)
    def ips(r: Worker.Report): Double =
      Runner.median(r.samples.getOrElse("wall_s", Nil).map(r.metrics.getOrElse("items", 0.0) / _))
    def metric(k: String): Double = traced.metrics.getOrElse(k, Double.NaN)
    val (path, untracedWall, refRun) = ref match {
      // spawn to the end of Main's path: the bucket runner's return in the
      // traced worker, the application-end event of the untraced Main
      case Some(s) => ((metric("trace.main_path_end_ms") - traced.run.spawnMs) / 1e3,
        (s.run.listener.getOrElse("app_end_ms", 0L) - s.run.spawnMs) / 1e3, s.run)
      case None => (metric("trace.knn_path_s"), metric("trace.knn_untraced_s"), traced.run)
    }
    val identical =
      if (Seq("parity_digest", "tiles_digest").forall(k => par.metrics.get(k) == par1.metrics.get(k))) Nil
      else Seq(s"parity rows differ between local[${Runner.cores}] and local[1]")
    val reports = Seq(traced, par, par1)
    val hidden = Set("trace.main_path_end_ms", "trace.knn_path_s", "trace.knn_untraced_s")
    val metrics = traced.metrics.toSeq.filterNot(kv => hidden(kv._1)).sortBy(_._1)
      .map { case (k, v) => Metric(k, v) } ++ Seq(
      Metric("tiles.parity.scale_eff", ips(par) / ips(par1) / Runner.cores),
      Metric("trace.wall_s", path),
      Metric("trace.overhead_s", path - untracedWall),
      Metric("trace.setup_s", refRun.setupS),
      Metric("trace.mem_peak_mb", refRun.heapAfterGcPeakMb))
    Outcome(reports.size + 1, reports.count(!_.ok), refProblems ++ reports.flatMap(_.problems) ++ identical,
      metrics)
  }

  /** Collection time of this JVM so far; in local mode the executors run
    * in it, so a difference covers the tasks of a span. */
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean]).map(_.getCollectionTime).sum
}
