package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** One metric as printed: name and value. Its unit is the one
  * BENCHMARK.json declares; `run.py` adds it to the result line. */
final case class Metric(name: String, value: Double)

/** Outcome of one benchmark run. */
final case class Outcome(attempted: Int, failed: Int, problems: Seq[String], metrics: Seq[Metric]) {
  def correct: Boolean = problems.isEmpty && failed == 0
  def json: String = {
    val ms = metrics.map(m => s""""${m.name}":{"value":${Runner.num(m.value)}}""")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   Runner --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --stamp <hex>
  *
  * Generates (or reuses) the workload's inputs under `<dir>/fixtures`,
  * keyed by `stamp`, a hash of the sources that write them; runs
  * the user's job closed-loop, one job at a time, checks every output
  * against [[Oracle]], and prints one JSON result as the last stdout line.
  * `--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
  * metrics of a traced run ([[Traced]]). Exits non-zero when a check fails. */
object Runner {
  val Z = 10
  val Res = 12
  val MinSamples = 2

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

  /** A local session for this JVM, with the benchmark's Spark settings. */
  def session(jvm: Jvm, cores: Int, name: String): SparkSession = {
    val b = SparkSession.builder().appName(name)
    jvm.sparkProps(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val stamp = opts("stamp")
    require(Fixtures.Workloads.contains(workload),
      s"unknown workload $workload (known: ${Fixtures.Workloads.keys.toSeq.sorted.mkString(", ")})")
    work.mkdirs()
    val jvm = new Jvm(work)

    var spark: SparkSession = null
    val (in, genS) = Fixtures.prepare({
      if (spark == null) spark = session(jvm, cores, "graftbench-runner")
      spark
    }, new File(work, "fixtures"), workload, seed, stamp, withPng = trace)
    System.err.println(f"[graftbench] inputs ${in.dir.getName} ready (generated in $genS%.1f s)")
    // only the timed pipeline run reads its output back through this JVM
    if (spark != null && (trace || workload != "pipeline")) { spark.stop(); spark = null }

    val runDir = new File(work, s"run-$workload")
    Fixtures.deleteTree(runDir)
    runDir.mkdirs()
    val outcome =
      try {
        if (trace) Traced.drive(jvm, runDir, workload, in, seconds)
        else workload match {
          case "pipeline" => mainJob(jvm, runDir, in, seconds, Option(spark))
          case "knn_sparse" => Worker.drive(jvm, runDir, in, seconds)
        }
      } finally {
        if (spark != null) spark.stop()
        Fixtures.deleteTree(runDir)
      }
    outcome.problems.foreach(p => System.err.println(s"[graftbench] CHECK FAILED: $p"))
    for (m <- outcome.metrics) System.err.println(f"[graftbench] ${m.name}%-34s ${m.value}%14.4f")
    println(outcome.json)
    sys.exit(if (outcome.correct) 0 else 1)
  }

  /** Arguments of `graft.pipeline.Main` for these inputs. */
  def mainArgs(in: Inputs, out: File): Seq[String] =
    Seq(in.pbf, in.images, out.getAbsolutePath, Z.toString, Res.toString)

  /** One spark-submit-shaped run of `graft.pipeline.Main` in a fresh JVM. */
  final case class MainSample(run: ChildRun, out: File) {
    def ok: Boolean = run.exit == 0
    def shuffleMb: Double = run.listener.getOrElse("shuffle_write_bytes", 0L) / 1e6
  }

  def runMain(jvm: Jvm, in: Inputs, out: File): MainSample =
    MainSample(jvm.run("graft.pipeline.Main", mainArgs(in, out), cores, 3072), out)

  /** Fresh-JVM `Main` runs, closed loop, until `seconds` have passed and
    * at least [[MinSamples]] ran; the last output is checked by the
    * oracle. */
  def mainJob(jvm: Jvm, runDir: File, in: Inputs, seconds: Double,
      spark: Option[SparkSession]): Outcome = {
    val t0 = System.nanoTime()
    val samples = scala.collection.mutable.ArrayBuffer.empty[MainSample]
    var last: Option[MainSample] = None
    while (samples.size < MinSamples || (System.nanoTime() - t0) / 1e9 < seconds) {
      val s = runMain(jvm, in, new File(runDir, s"out-${samples.size}"))
      samples += s
      if (!s.ok) System.err.println(s"[graftbench] Main exited ${s.run.exit}; log ${s.run.log}")
      if (s.ok) { last.foreach(l => Fixtures.deleteTree(l.out)); last = Some(s) }
    }
    val ok = samples.filter(_.ok)
    val problems = last match {
      case None => Seq("no Main run succeeded")
      case Some(l) => Check.mainOutput(jvm, in, l.out, spark)
    }
    Outcome(samples.size, samples.size - ok.size, problems, Seq(
      Metric("wall_s", median(ok.map(_.run.wallS))),
      Metric("setup_s", median(ok.map(_.run.setupS))),
      Metric("shuffle_mb", median(ok.map(_.shuffleMb)))))
  }
}
