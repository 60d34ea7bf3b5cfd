package graftbench

import org.apache.spark.SparkContext

/** One timed interval of the traced run. `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, runId: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run, used from the one thread
  * that calls the layers. Each span runs under its own Spark job group
  * (restored on exit), so a [[BenchListener]] can attribute the Spark work
  * inside it. */
final class SpanRecorder(val runId: String, sc: Option[SparkContext]) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def groupOf(id: Int): String = s"$runId-span-$id"

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val outer = sc.flatMap(c => Option(c.getLocalProperty("spark.jobGroup.id")))
    sc.foreach(_.setJobGroup(groupOf(id), name))
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.foreach { c =>
        outer match {
          case Some(g) => c.setJobGroup(g, "")
          case None => c.clearJobGroup()
        }
      }
      spans += Span(id, name, parent, runId, t0, t1)
    }
  }

  def all: Seq[Span] = spans.sortBy(_.startNs).toVector
}

object SelfTime {
  /** Length of the union of intervals, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. Overlapping children (concurrent work) are counted
    * once. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - covered(kids, s.startNs, s.endNs))
    }.toMap
  }

  /** Per span name: count, total seconds, self seconds; sorted by self. */
  def table(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.size, ss.map(_.durNs).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }.sortBy(-_._4)
  }

  def render(spans: Seq[Span]): String = {
    val rows = table(spans)
    val w = (Seq(4) ++ rows.map(_._1.length)).max
    val head = s"%-${w}s %5s %9s %9s".format("span", "n", "total_s", "self_s")
    (head +: rows.map { case (n, c, t, s) => s"%-${w}s %5d %9.3f %9.3f".format(n, c, t, s) })
      .mkString("\n")
  }

  def json(spans: Seq[Span]): String = spans.map { s =>
    val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"id":${s.id},"name":"$name","parent":${s.parent},"run_id":"${s.runId}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
