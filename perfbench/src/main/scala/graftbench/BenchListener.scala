package graftbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Task-level totals of one job group (or of the whole application). */
final case class Work(jobs: Int, shuffleWriteBytes: Long, spillBytes: Long, taskMs: Vector[Long]) {
  def +(o: Work): Work = Work(jobs + o.jobs, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, taskMs ++ o.taskMs)
  def shuffleMb: Double = shuffleWriteBytes / 1e6
  def spillMb: Double = spillBytes / 1e6
  /** Slowest task over the median task of the group (1 when empty). */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

object Work { val Empty: Work = Work(0, 0L, 0L, Vector.empty) }

/** Spark listener the benchmark attaches from outside the program, through
  * `spark.extraListeners` (or `addSparkListener` in-process). It keeps the
  * application start time and task metrics per job group; the traced run
  * gives every span its own job group, so jobs, shuffle, spill and task
  * time are attributed to spans.
  *
  * When the JVM property `graftbench.listener.out` names a file, a summary
  * is written there at application end: start and end times and the
  * totals. */
class BenchListener extends SparkListener {
  @volatile var appStartMs: Long = -1L
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Work]()

  BenchListener.latest = this

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    appStartMs = System.currentTimeMillis()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    groups.merge(g, Work.Empty.copy(jobs = 1), (a, b) => a + b)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    groups.merge(g, Work(0, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, Vector(e.taskInfo.duration)),
      (a, b) => a + b)
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    sys.props.get("graftbench.listener.out").foreach { path =>
      val t = total
      val json = s"""{"app_start_ms":$appStartMs,"app_end_ms":${System.currentTimeMillis()},""" +
        s""""shuffle_write_bytes":${t.shuffleWriteBytes}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    }

  def work(group: String): Work = Option(groups.get(group)).getOrElse(Work.Empty)
  def total: Work = groups.values().asScala.foldLeft(Work.Empty)(_ + _)
}

object BenchListener {
  /** The listener Spark instantiated most recently in this JVM. */
  @volatile var latest: BenchListener = _
}
