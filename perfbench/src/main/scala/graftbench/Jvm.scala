package graftbench

import java.io.File
import java.util.concurrent.TimeUnit

/** A finished child JVM: its wall from spawn to exit, the epoch time it
  * was spawned, and the files it left. */
final case class ChildRun(exit: Int, wallS: Double, spawnMs: Long, stdout: String, log: File,
    gcLog: File, listenerOut: File) {
  /** Highest heap occupancy right after a collection, in MB, read from the
    * child's `-Xlog:gc` file ("GC(n) Pause ... 300M->45M(1004M)"). */
  def heapAfterGcPeakMb: Double = Jvm.heapAfterGcPeakMb(gcLog)

  /** Spawn to the Spark application-start event (SparkContext up). */
  def setupS: Double = (listener.getOrElse("app_start_ms", spawnMs) - spawnMs) / 1e3

  /** Summary the child's [[BenchListener]] wrote at application end. */
  def listener: Map[String, Long] =
    if (!listenerOut.exists()) Map.empty
    else """"(\w+)":(-?\d+)""".r.findAllMatchIn(
      new String(java.nio.file.Files.readAllBytes(listenerOut.toPath), "UTF-8"))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
}

/** Starts benchmark and program JVMs with the classpath of this one, the
  * Spark module flags, and every scratch path inside `work`. */
final class Jvm(work: File) {
  private val javaBin = new File(new File(sys.props("java.home"), "bin"), "java").getPath
  private val cp = sys.props("java.class.path")
  // the Spark module flags this JVM was started with (the JVM reports
  // each as one `--add-opens=...` argument)
  private val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
    .getInputArguments.toArray(Array.empty[String]).toSeq.filter(_.startsWith("--add-opens="))
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Spark settings every JVM of the benchmark runs with: the user's
    * `--conf` choices for a `local[cores]` submit. */
  def sparkProps(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> (2 * cores).toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.local.dir" -> new File(work, "spark-local").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath,
    "spark.extraListeners" -> classOf[BenchListener].getName)

  def run(mainClass: String, args: Seq[String], cores: Int, heapMb: Int): ChildRun = {
    val tag = s"${mainClass.split('.').last.toLowerCase}-${counter.incrementAndGet()}"
    val dir = new File(work, "jvm"); dir.mkdirs()
    val log = new File(dir, s"$tag.log"); val gc = new File(dir, s"$tag.gc")
    val lo = new File(dir, s"$tag.listener.json")
    Seq(log, gc, lo).foreach(_.delete())
    val tmp = new File(work, "tmp"); tmp.mkdirs()
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(s"-Xmx${heapMb}m", "-XX:+UseParallelGC",
      s"-Xlog:gc:file=${gc.getAbsolutePath}", s"-Djava.io.tmpdir=${tmp.getAbsolutePath}",
      s"-Dgraftbench.listener.out=${lo.getAbsolutePath}") ++
      sparkProps(cores).map { case (k, v) => s"-D$k=$v" } ++
      Seq("-cp", cp, mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectError(log)
    pb.directory(work)
    val spawnMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val p = pb.start()
    val out = new StringBuilder
    val reader = new Thread(() => {
      val src = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
      try src.getLines().foreach(l => out.synchronized(out.append(l).append('\n')))
      finally src.close()
    })
    reader.start()
    val finished = p.waitFor(Jvm.TimeoutS, TimeUnit.SECONDS)
    if (!finished) { p.destroyForcibly(); p.waitFor() }
    reader.join(10000)
    val wall = (System.nanoTime() - t0) / 1e9
    ChildRun(if (finished) p.exitValue() else -1, wall, spawnMs,
      out.synchronized(out.toString), log, gc, lo)
  }
}

object Jvm {
  /** A child still running after this long is killed and counted failed. */
  val TimeoutS = 170L

  private val AfterGc = """->(\d+)([KMG])\(""".r

  def heapAfterGcPeakMb(gcLog: File): Double =
    if (!gcLog.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(gcLog, "UTF-8")
      try src.getLines().flatMap(l => AfterGc.findAllMatchIn(l).map { m =>
        val v = m.group(1).toDouble
        m.group(2) match { case "K" => v / 1024; case "G" => v * 1024; case _ => v }
      }).foldLeft(0.0)(math.max)
      finally src.close()
    }
}
