package graftbench

import graft.osmpbf.source.OsmPbf
import graft.pipeline.GraftJob
import graft.spatial.geom.Assembly
import graft.spatial.join.SpatialJoin
import graft.tiles.{ImageTable, Images}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** A fresh benchmark JVM that calls an operator in-process, the way a
  * session user does: set up once, untimed warmup calls, then timed calls
  * in a closed loop. It reports through stdout lines the parent parses:
  *
  *   GB sample <name> <value>    one timed call's measurement
  *   GB metric <name> <value>    one value for the whole run
  *   GB problem <text>           a failed output check
  *   GB span <id> <parent> <start ns> <end ns> <name>   one span of a traced run
  *
  * Usage: Worker <probe|knn|parity|traced> <workload> <seed> <inputs dir> <seconds> <run dir>
  */
object Worker {
  val K = 5

  def say(kind: String, name: String, value: Any): Unit = println(s"GB $kind $name $value")
  def problem(text: String): Unit = println(s"GB problem ${text.replace('\n', ' ')}")

  def main(args: Array[String]): Unit = {
    val Array(mode, workload, seedS, dirS, secondsS, runDirS) = args
    val in = Fixtures.load(new File(dirS), workload, seedS.toLong)
    val spark = SparkSession.builder().appName(s"graftbench-$mode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // inputs located: the snapshot pointer resolved and the PBF present
    ImageTable.manifest(spark, in.images, ImageTable.currentSnapshot(spark, in.images))
    require(new File(in.pbf).isFile, s"missing ${in.pbf}")
    try mode match {
      case "probe" =>
      case "knn" => knnLoop(spark, in, secondsS.toDouble)
      case "parity" => parityLoop(spark, in, secondsS.toDouble)
      case "traced" => Traced.sweep(spark, workload, in, new File(runDirS))
    } finally spark.stop()
  }

  /** Times `call` in a closed loop after `warmups` untimed calls, until
    * `seconds` passed and at least `min` calls ran. Each sample reports
    * its wall and the shuffle bytes its jobs wrote. */
  def loop[T](seconds: Double, min: Int, warmups: Int)(call: => T): T = {
    for (_ <- 0 until warmups) call
    val t0 = System.nanoTime()
    var n = 0
    var last: T = null.asInstanceOf[T]
    while (n < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      val l = BenchListener.latest
      val before = l.total.shuffleWriteBytes
      val s = System.nanoTime()
      last = call
      say("sample", "wall_s", (System.nanoTime() - s) / 1e9)
      say("sample", "shuffle_mb", (l.total.shuffleWriteBytes - before) / 1e6)
      n += 1
    }
    last
  }

  // ------------------------------------------------------------------ kNN

  def knnPoints(spark: SparkSession, in: Inputs): DataFrame =
    ImageTable.load(spark, in.images)
      .select(col("image_id").substr(5, 20).cast("long").as("pt_id"), col("lon"), col("lat"))

  def pois(spark: SparkSession, in: Inputs): DataFrame =
    OsmPbf.nodes(spark, in.pbf).toDF()
      .where(map_contains_key(col("tags"), "amenity") || map_contains_key(col("tags"), "shop"))
      .select(col("id").as("poi_id"), col("lon"), col("lat"))

  def knnLoop(spark: SparkSession, in: Inputs, seconds: Double): Unit = {
    val pts = knnPoints(spark, in).localCheckpoint()
    val ps = pois(spark, in).localCheckpoint()
    // a kNN call gets ~30% faster over its first three calls in a JVM (JIT)
    val res = loop(seconds, min = 3, warmups = 3) {
      val r = SpatialJoin.knnJoin(pts, ps, K)
      r.write.format("noop").mode("overwrite").save()
      r
    }
    checkKnn(res, in, (0L until in.sizes.images).iterator).foreach(problem)
  }

  /** Exactly k rows per point, and brute-force equality on a seeded
    * sample of 200 points. */
  def checkKnn(res: DataFrame, in: Inputs, ids: Iterator[Long]): Seq[String] = {
    val rows = res.select("pt_id", "poi_id", "dist_m", "rank").collect()
      .groupBy(_.getLong(0))
    val idSet = ids.toVector
    val k = math.min(K, in.truth.pois.size)
    val wrongCount = idSet.filter(i => rows.get(i).forall(_.length != k))
    val rnd = new java.util.Random(in.seed)
    val sample = Seq.fill(200)(idSet(rnd.nextInt(idSet.size))).distinct
    val wrong = sample.filterNot { i =>
      val (lon, lat) = WorldGen.point(in.seed, i, in.pointMix)
      val got = rows.getOrElse(i, Array.empty).sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      Oracle.knnAgrees(got, lon, lat, in.truth.pois, k)
    }
    (if (wrongCount.nonEmpty) Seq(s"${wrongCount.size} points without exactly $k neighbours, e.g. ${wrongCount.head}") else Nil) ++
      (if (wrong.nonEmpty) Seq(s"${wrong.size} of ${sample.size} sampled points differ from brute force, e.g. ${wrong.head}") else Nil)
  }

  // --------------------------------------------------------------- parity

  /** Polygons of the inputs' PBF, assembled once per session. */
  def polygons(spark: SparkSession, in: Inputs): DataFrame =
    Assembly.polygons(OsmPbf.nodes(spark, in.pbf).toDF(), OsmPbf.ways(spark, in.pbf).toDF(),
      OsmPbf.relations(spark, in.pbf).toDF()).localCheckpoint()

  /** Parity verdict totals: rows, rows with every check ok, and an
    * order-independent digest of all verdict columns. */
  def parityVerdict(images: DataFrame, in: Inputs): (Long, Long, Long) = {
    val r = ImageTable.parity(images, in.truth.centers)
      .agg(count(lit(1)),
        sum(when(col("psnr_db") >= 40.0 && col("caption_ok") && col("phash_ok"), 1L).otherwise(0L)),
        bit_xor(xxhash64(col("image_id"), col("psnr_db"), col("caption_ok"), col("phash_ok"))))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def parityPoints(in: Inputs): Iterator[(Double, Double)] =
    Iterator.range(0L, in.sizes.pngImages).map(i => Images.position(i, in.truth.centers))

  def parityLoop(spark: SparkSession, in: Inputs, seconds: Double): Unit = {
    val polys = polygons(spark, in)
    say("metric", "items", in.sizes.pngImages)
    val (verdict, tiles) = loop(seconds, min = 1, warmups = 1) {
      val images = ImageTable.load(spark, in.parityImages)
      (parityVerdict(images, in),
        Check.tiles(GraftJob.run(images.select("image_id", "lon", "lat"), polys,
          z = Runner.Z, res = Runner.Res)))
    }
    val (n, ok, digest) = verdict
    say("metric", "parity_digest", digest)
    say("metric", "tiles_digest", tiles.toSeq.sortBy(_._1).hashCode())
    if (n != in.sizes.pngImages) problem(s"parity returned $n rows for ${in.sizes.pngImages} images")
    if (ok != n) problem(s"${n - ok} of $n images fail PSNR >= 40, caption_ok or phash_ok")
    Oracle.compareRollup(tiles, Oracle.rollup(parityPoints(in), in.truth.polys, Runner.Z))
      .foreach(p => problem(s"parity rollup: $p"))
  }

  // ---------------------------------------------------------- parent side

  /** What the parent learned from one worker JVM. */
  final case class Report(run: ChildRun, samples: Map[String, Seq[Double]],
      metrics: Map[String, Double], spans: Seq[(String, String)], problems: Seq[String]) {
    def ok: Boolean = run.exit == 0
  }

  def spawn(jvm: Jvm, mode: String, in: Inputs, workload: String, seconds: Double,
      runDir: File, cores: Int = Runner.cores): Report = {
    val run = jvm.run("graftbench.Worker", Seq(mode, workload, in.seed.toString,
      in.dir.getAbsolutePath, seconds.toString, runDir.getAbsolutePath), cores, 3072)
    val lines = run.stdout.split('\n').filter(_.startsWith("GB ")).map(_.split(" ", 4))
    def vals(kind: String) = lines.collect { case Array(_, `kind`, n, v) => n -> v }.toSeq
    val problems = lines.collect { case Array(_, "problem", a, b) => s"$a $b" }.toSeq ++
      (if (run.exit != 0) Seq(s"worker $mode exited ${run.exit}; log ${run.log}") else Nil)
    Report(run, vals("sample").groupBy(_._1).map { case (k, v) => k -> v.map(_._2.toDouble) },
      vals("metric").map { case (k, v) => k -> v.toDouble }.toMap, vals("span"), problems)
  }

  /** Timed run of `knn_sparse`: one worker JVM for the loop plus a set-up
    * probe, so `setup_s` is the median of two fresh starts. */
  def drive(jvm: Jvm, runDir: File, in: Inputs, seconds: Double): Outcome = {
    val main = spawn(jvm, "knn", in, "knn_sparse", seconds, runDir)
    val probes = Seq(spawn(jvm, "probe", in, "knn_sparse", 0, runDir))
    val all = main +: probes
    val walls = main.samples.getOrElse("wall_s", Nil)
    System.err.println(s"[graftbench] kNN call walls: ${walls.map(w => f"$w%.3f").mkString(" ")}")
    Outcome(walls.size + probes.size, all.count(!_.ok), all.flatMap(_.problems), Seq(
      Metric("wall_s", Runner.median(walls)),
      Metric("setup_s", Runner.median(all.filter(_.ok).map(_.run.setupS))),
      Metric("shuffle_mb", Runner.median(main.samples.getOrElse("shuffle_mb", Nil)))))
  }
}
