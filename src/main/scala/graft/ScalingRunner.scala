package graft

import graft.fixtures.OsmWorld
import graft.osmpbf.source.OsmPbf
import graft.pipeline.GraftJob
import graft.spatial.geom.Assembly
import graft.tiles.ImageTable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One scaling measurement at one parallelism level, in its own JVM.
  *
  * Why a separate process: the north-rule evidence compares the SAME job at
  * N and 4N cores, standing in for two cluster sizes. Running both levels
  * inside the Bench JVM after its 40-query phase is not reproducible — the
  * aged heap / JIT code cache slowed the 16-core level by 15-30% while
  * barely moving the 4-core level (0.87 efficiency from a clean JVM vs 0.71
  * from a dirty one, same binary, same input). A fresh JVM per level is
  * both reproducible and closer to what "two separate clusters" means.
  *
  * Protocol: args = [cores, imgPath, pbfPath, worldNodes]; prints ONE line
  * `SCALING_RESULT {"cores":N,"sec":median,"rows":R}` on stdout; the
  * per-iteration breakdown goes to stderr.
  */
object ScalingRunner {

  /** The `SCALING_RESULT` line's JSON body. */
  private final case class Result(cores: Int, sec: Double, rows: Long)

  /** The scaling job: per-image PNG decode parity + spatial PIP join +
    * per-tile aggregation — the BASELINE.json metric workload. Returns the
    * number of image rows processed (throughput numerator). */
  def graftJob(spark: SparkSession, images: DataFrame, polys: DataFrame,
      centers: Seq[(Double, Double)]): Long = {
    val t0 = System.nanoTime()
    val parityOk = ImageTable.parity(images, centers)
      .where(col("psnr_db") >= 40.0 && col("caption_ok")).count()
    val t1 = System.nanoTime()
    val tiles = GraftJob.run(images, polys, z = 10, res = 12)
    tiles.agg(sum("n_images")).collect().head.getLong(0)
    val t2 = System.nanoTime()
    System.err.println(f"[bench] parity=${(t1 - t0) / 1e9}%.2fs tiles=${(t2 - t1) / 1e9}%.2fs")
    parityOk
  }

  def main(args: Array[String]): Unit = {
    val Array(coresS, imgPath, pbfPath, worldNodesS) = args.take(4)
    val cores = coresS.toInt
    // optional 5th arg: master override — `local-cluster[n,c,mem]` runs the
    // SAME measurement with real separate executor JVMs (worker-spawned,
    // netty shuffle, executor-side class loading), the closest one box gets
    // to genuinely distinct cluster sizes; executors then need this JVM's
    // classpath and their own bounded heap
    val master = if (args.length > 4) args(4) else s"local[$cores]"
    val builder = SparkSession.builder()
      .master(master)
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.maxPartitionBytes", 16L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      // same honesty flags the local[N] children get: each executor JVM
      // must size GC/JIT pools for ITS core budget, not the host's 32
      // (8 one-core executors bursting 23 GC threads each oversubscribes
      // the box and penalizes exactly the high level), and pre-touch its
      // heap so page-zeroing lands at startup, not mid-measurement
      val perExecCores = master.stripPrefix("local-cluster[").stripSuffix("]")
        .split(",")(1).trim
      builder
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.memory", sys.env.getOrElse("GRAFT_EXEC_MEM", "3g"))
        .config("spark.executor.extraJavaOptions",
          s"-XX:ActiveProcessorCount=$perExecCores -XX:+AlwaysPreTouch")
    }
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val (_, world) = OsmWorld.cachedPbf(
      sys.props("java.io.tmpdir") + "/graft-fixtures", 42L, 8, worldNodesS.toInt)
    val images = s.read.parquet(imgPath)
    val nodes = OsmPbf.nodes(s, pbfPath).toDF()
    val ways = OsmPbf.ways(s, pbfPath).toDF()
    val rels = OsmPbf.relations(s, pbfPath).toDF()
    val polys = Assembly.polygons(nodes, ways, rels).localCheckpoint()
    // one untimed full-size warmup (JIT + page cache), then the MEDIAN of
    // three timed steady-state iterations (median, not best-of — round-1
    // ADVICE: best-of selection biases the reported efficiency)
    graftJob(s, images, polys, world.clusterCenters)
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val rows = graftJob(s, images, polys, world.clusterCenters)
      ((System.nanoTime() - t0) / 1e9, rows)
    }.sortBy(_._1)
    val (sec, rows) = runs(runs.size / 2)
    println("SCALING_RESULT " + graft.util.Json.write(Result(cores, sec, rows)))
    s.stop()
  }

  /** Child heap in GiB: enough for the scaling job (streams the ~12 GB
    * image fixture through 16 MB partitions; 16 GiB is generous), clamped
    * to half of what the OS says is actually available so parent + child
    * can never out-commit physical RAM. Round 2's bench died exactly here:
    * children inherited the parent's environment-sized `-Xms=-Xmx` (~90 GiB
    * under the driver's SPARK_DRIVER_MEM) plus `-XX:+AlwaysPreTouch`, so
    * the first child pre-touched a second full-size heap and the OOM killer
    * fired at its SparkContext startup (BENCH_r02.json: rc=1, exit 137). */
  private[graft] def childHeapGb(): Long = {
    val availGb = try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.trim.split("\\s+")(1).toLong / (1024 * 1024) }
        .getOrElse(Long.MaxValue)
    } catch { case _: Throwable => Long.MaxValue }
    math.max(4L, math.min(16L, availGb / 2))
  }

  /** JVM args for the child: the parent's flags (add-opens, GC choice) MINUS
    * its heap sizing — children get their own bounded, pre-touched heap. */
  private[graft] def childJvmArgs(inherited: Seq[String], cores: Int, heapGb: Long): Seq[String] =
    inherited.filterNot(a =>
      a.startsWith("-agentlib") || a.startsWith("-Xmx") || a.startsWith("-Xms") ||
        a == "-XX:+AlwaysPreTouch") ++ Seq(
      s"-Xmx${heapGb}g", s"-Xms${heapGb}g",
      // pre-touch the BOUNDED heap so page-zeroing still lands at child
      // startup, never mid-measurement
      "-XX:+AlwaysPreTouch",
      // honest N-core-box emulation: without this the JVM sizes GC/JIT
      // thread pools for the FULL machine, so the low-core level gets its
      // GC and compilation done free on the 28 idle cores — a subsidy a
      // real N-core cluster node never has, which distorts N vs 4N
      s"-XX:ActiveProcessorCount=$cores")

  /** Parent-side: run one level in a fresh JVM, inheriting this JVM's
    * classpath and flags except heap sizing (see childJvmArgs). Pass
    * `master` to override the child's `local[cores]` (e.g. a
    * `local-cluster[n,c,mem]` topology with real executor JVMs — the child
    * driver heap is then kept small, the work lives in the executors). */
  def spawn(cores: Int, imgPath: String, pbfPath: String, worldNodes: Int,
      master: Option[String] = None): (Double, Long) = {
    import scala.jdk.CollectionConverters._
    val javaBin = sys.props("java.home") + "/bin/java"
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val heapGb = if (master.exists(_.startsWith("local-cluster"))) 4L else childHeapGb()
    val cmd = Seq(javaBin) ++ childJvmArgs(inherited, cores, heapGb) ++ Seq(
      "-cp", sys.props("java.class.path"),
      "graft.ScalingRunner", cores.toString, imgPath, pbfPath, worldNodes.toString) ++
      master.toSeq
    def attempt(): (Double, Long) = {
      val pb = new ProcessBuilder(cmd: _*)
      // local-cluster masters: the in-process Worker launches executor JVMs
      // through the Spark distribution's launcher and needs SPARK_HOME
      // ("Cannot find any build directories" otherwise)
      if (master.exists(_.startsWith("local-cluster"))) {
        if (!pb.environment().containsKey("SPARK_HOME"))
          pb.environment().put("SPARK_HOME",
            sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
        // normally exported by bin/load-spark-env.sh; the launcher's
        // getScalaVersion falls back to source-build dirs without it
        if (!pb.environment().containsKey("SPARK_SCALA_VERSION"))
          pb.environment().put("SPARK_SCALA_VERSION", "2.13")
      }
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      // drain stdout on a separate thread so the timed wait below is a real
      // backstop — a wedged child with an open stdout must not hold the
      // whole bench (and the driver's JSON line) hostage
      val outF = java.util.concurrent.CompletableFuture.supplyAsync { () =>
        new String(proc.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
      }
      if (!proc.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)) {
        proc.destroyForcibly()
        throw new IllegalStateException(s"ScalingRunner(cores=$cores) timed out")
      }
      val out = outF.get(1, java.util.concurrent.TimeUnit.MINUTES)
      val line = out.linesIterator.find(_.startsWith("SCALING_RESULT ")).getOrElse(
        throw new IllegalStateException(
          s"ScalingRunner(cores=$cores) rc=${proc.exitValue()} produced no result; output:\n$out"))
      val r = graft.util.Json.read[Result](line.stripPrefix("SCALING_RESULT "))
      (r.sec, r.rows)
    }
    try attempt() catch {
      case e: Exception => // one retry: a lost level must not lose the bench
        System.err.println(s"[bench] ScalingRunner(cores=$cores) failed once (${e.getMessage}); retrying")
        attempt()
    }
  }
}
