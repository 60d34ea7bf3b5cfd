package graftbench

import graft.tiles.{ImageTable, Images}

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io._

/** One workload's input sizes. `images` is the image snapshot (or, for
  * kNN, the point set); `hotFrac` of it sits in one res-12 cell.
  * `pngImages` sizes the PNG table the traced run's parity calls read. */
final case class Sizes(world: WorldSpec, images: Long, hotFrac: Double, cityFrac: Double,
    citySpread: Double, background: Box, pngImages: Long)

/** A workload's generated inputs on disk plus the ground truth the oracle
  * needs. The program only ever receives `pbf` and `images`. */
final case class Inputs(dir: File, seed: Long, sizes: Sizes, truth: Truth) {
  def pbf: String = new File(dir, "world.osm.pbf").getAbsolutePath
  def images: String = new File(dir, "images").getAbsolutePath
  def parityImages: String = new File(dir, "parity_images").getAbsolutePath
  def pointMix: WorldGen.PointMix = WorldGen.PointMix(truth.centers,
    if (sizes.hotFrac > 0) Some(WorldGen.cellCenter(truth.centers.head._1, truth.centers.head._2, 12))
    else None, sizes.hotFrac, sizes.cityFrac, sizes.citySpread, sizes.background)
  def points: Iterator[(Double, Double)] =
    Iterator.range(0L, sizes.images).map(i => WorldGen.point(seed, i, pointMix))
}

object Fixtures {
  /** A regional extract: cities and background inside four res-2 cells,
    * so `Main` stages four buckets, one per bucket slot. */
  val Region: Box = Box(-40.0, 10.0, 40.0, 80.0)

  val Workloads: Map[String, Sizes] = Map(
    // graft.pipeline.Main end to end on a regional extract: a 0.2M-element
    // PBF (decode, assembly, cover) and 150k images, 72% of them in one
    // res-12 cell above pipJoin's 100k salting threshold (join, rollup,
    // buckets)
    "pipeline" -> Sizes(WorldSpec(cities = 12, polysPerCity = 400, fillerPerCity = 14000, Region),
      images = 150000, hotFrac = 0.72, cityFrac = 0.23, citySpread = 0.1, Region, pngImages = 3000),
    // kNN: 80% of the points near POIs, 20% uniform over the world, which
    // exhaust the ring search and fall to the exact cross join
    "knn_sparse" -> Sizes(WorldSpec(cities = 8, polysPerCity = 70, fillerPerCity = 3000, Box.World),
      images = 20000, hotFrac = 0.0, cityFrac = 0.8, citySpread = 0.05, Box.World, pngImages = 3000))

  /** Generates the inputs into `cacheRoot/<workload>-<seed>-<stamp>`
    * unless they are there already; returns them with the ground truth
    * and the seconds spent generating (0 on a cache hit). `stamp` names
    * the sources that wrote them: the generator, its sizes and the
    * program's writers (`PbfWriter`, `ImageTable`), so inputs are never
    * shared between builds of different sources. The PNG table is made
    * only when `withPng` asks for it. */
  def prepare(spark: => SparkSession, cacheRoot: File, workload: String, seed: Long,
      stamp: String, withPng: Boolean): (Inputs, Double) = {
    val sizes = Workloads(workload)
    val dir = new File(cacheRoot, s"$workload-$seed-$stamp")
    val truthFile = new File(dir, "truth.bin")
    val pngDone = new File(dir, "parity_images.done")
    val t0 = System.nanoTime()
    val in =
      if (truthFile.exists()) Inputs(dir, seed, sizes, readTruth(truthFile))
      else {
        deleteTree(dir)
        dir.mkdirs()
        val truth = WorldGen.write(new File(dir, "world.osm.pbf").getAbsolutePath, seed, sizes.world)
        val in = Inputs(dir, seed, sizes, truth)
        ImageTable.write(pointTable(spark, in), in.images)
        writeTruth(truthFile, truth) // last: its presence marks a complete cache entry
        in
      }
    if (withPng && !pngDone.exists()) {
      deleteTree(new File(in.parityImages))
      ImageTable.write(Images.synthesize(spark, sizes.pngImages, in.truth.centers, partitions = 8),
        in.parityImages)
      pngDone.createNewFile()
    }
    (in, (System.nanoTime() - t0) / 1e9)
  }

  /** Inputs a previous [[prepare]] left in `dir`. */
  def load(dir: File, workload: String, seed: Long): Inputs =
    Inputs(dir, seed, Workloads(workload), readTruth(new File(dir, "truth.bin")))

  /** The image snapshot: image_id, lon, lat and a caption per point. */
  def pointTable(spark: SparkSession, in: Inputs): DataFrame = {
    import spark.implicits._
    val (seed, mix) = (in.seed, in.pointMix)
    spark.range(0, in.sizes.images, 1, 8).map { i =>
      val (lon, lat) = WorldGen.point(seed, i, mix)
      (Images.idString(i), lon, lat, s"photo $i")
    }.toDF("image_id", "lon", "lat", "caption")
  }

  private def writeTruth(f: File, t: Truth): Unit = {
    val out = new ObjectOutputStream(new BufferedOutputStream(new FileOutputStream(f)))
    try out.writeObject(t) finally out.close()
  }

  private def readTruth(f: File): Truth = {
    val in = new ObjectInputStream(new BufferedInputStream(new FileInputStream(f)))
    try in.readObject().asInstanceOf[Truth] finally in.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum else f.length()
}
