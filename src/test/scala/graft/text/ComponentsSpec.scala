package graft.text

import graft.{GenSupport, SparkTestBase}

import org.scalacheck.Gen
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

class ComponentsSpec extends AnyFunSuite with SparkTestBase with GenSupport with TimeLimits {
  import spark.implicits._

  // every call runs under a generous time limit: a loop stalled in AQE's
  // re-planning interrupts its thread and fails with a timeout message
  // instead of hanging the whole suite
  private implicit val signaler: Signaler = ThreadSignaler

  private def comps(edges: Seq[(Long, Long)]): Map[Long, Long] = failAfter(120.seconds) {
    Components.connectedComponents(edges.toDF("a_id", "b_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chains, cliques and bridges resolve to min-id components") {
    val m = comps(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),       // chain
      (10L, 11L),                          // pair
      (20L, 21L), (21L, 22L), (20L, 22L),  // clique
      (22L, 30L)))                         // bridge merges 30 into the clique
    assert(m === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 20L))
  }

  test("long chain converges via pointer jumping (O(log n) iterations)") {
    // a 300-node chain has diameter 299: naive min-propagation needs ~299
    // rounds and would blow the 25-iteration guard — pointer jumping must
    // finish well inside it
    val edges = (1L until 300L).map(i => (i, i + 1))
    val m = comps(edges)
    assert(m.size === 300)
    assert(m.values.toSet === Set(1L))
  }

  test("empty edge list yields empty labeling, not an error") {
    assert(comps(Seq.empty) === Map.empty)
  }

  test("property: components equal driver-side union-find on random graphs") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // normalize: every node labelled by the min id of its component
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val byRoot = nodes.groupBy(find)
      byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
    }
    val genEdges = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield edges
    forAllG(genEdges, n = 12) { edges =>
      assert(comps(edges) === unionFind(edges), s"edges: $edges")
    }
  }

  test("concurrent loops share a session safely: caller conf never flips, both correct") {
    // the loop runs on the caller's session: no operator may write to its
    // conf, for the WHOLE duration of two concurrent calls (a session-wide
    // flip with a finally-restore would be racy under concurrency)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val chainA = (1L until 150L).map(i => (i, i + 1))
    val chainB = (1000L until 1150L).map(i => (i, i + 1))
    @volatile var flipSeen = false
    @volatile var err: Throwable = null
    val results = new java.util.concurrent.ConcurrentHashMap[String, Map[Long, Long]]()
    def runner(name: String, edges: Seq[(Long, Long)]) = new Thread(() =>
      try results.put(name, comps(edges))
      catch { case t: Throwable => err = t })
    val threads = Seq(runner("a", chainA), runner("b", chainB))
    threads.foreach(_.start())
    while (threads.exists(_.isAlive)) {
      if (spark.conf.get("spark.sql.adaptive.enabled") != "true") flipSeen = true
      Thread.sleep(5)
    }
    threads.foreach(_.join())
    if (err != null) throw err
    assert(!flipSeen, "caller session conf was flipped mid-loop")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(results.get("a").values.toSet === Set(1L))
    assert(results.get("b").values.toSet === Set(1000L))
  }

  test("iteration checkpoints are freed: only the result's blocks remain") {
    val before = spark.sparkContext.getPersistentRDDs.size
    comps((1L until 100L).map(i => (i, i + 1)))
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, s"leaked checkpoint blocks: $before -> $after")
  }
}
