package graft.ann

import graft.SparkTestBase

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AnnSpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")).cache()
  private lazy val queries = emb.where(col("vec_id") < 8)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")).cache()

  test("cosine expression matches scala computation") {
    val row = emb.where(col("vec_id").isin(0, 1)).collect()
    val v0 = row.find(_.getLong(0) == 0L).get.getSeq[Float](1)
    val v1 = row.find(_.getLong(0) == 1L).get.getSeq[Float](1)
    val dot = v0.zip(v1).map { case (a, b) => a.toDouble * b.toDouble }.sum
    val expected = dot / (math.sqrt(v0.map(x => x.toDouble * x).sum) * math.sqrt(v1.map(x => x.toDouble * x).sum))
    import spark.implicits._
    val got = Seq((v0, v1)).toDF("a", "b")
      .select(Ann.cosine(col("a"), col("b")).as("c")).collect().head.getDouble(0)
    assert(math.abs(got - expected) < 1e-6) // float mul in zip_with vs double driver math
  }

  test("brute-force top-k: correct ranks vs driver-side computation") {
    val k = 5
    val got = Ann.bruteForceTopK(queries, corpus, k).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap

    val corpusLocal = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    queries.collect().foreach { q =>
      val qid = q.getLong(0)
      val qv = q.getSeq[Float](1).toArray
      val expected = corpusLocal.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k).map(_._1)
      val gotIds = (1 to k).map(r => got((qid, r)))
      assert(gotIds === expected.toSeq, s"query $qid")
    }
  }

  test("LSH top-k: high rank-1 recall on clustered data, exactly k rows per query") {
    import spark.implicits._
    // planted clusters: 20 centers × 30 members with small noise — real
    // neighbour structure (uniform random vectors have none, and
    // hyperplane LSH legitimately degrades to the brute-force fallback
    // there, which is exactly what the fallback is for)
    def unit(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(32)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = for (c <- 0 until 20; m <- 0 until 30) yield {
      val center = unit(c)
      val noise = unit(c * 1000 + m + 7)
      val v = center.zip(noise).map { case (a, b) => (a + 0.15 * b).toFloat }
      (c * 1000L + m, v.toSeq)
    }
    val planted = rows.toDF("c_id", "c_vec").cache()
    val qs = planted.where(col("c_id") % 1000 < 2)
      .select(col("c_id").as("q_id"), col("c_vec").as("q_vec")).cache()
    val k = 3
    val exact = Ann.bruteForceTopK(qs, planted, k)
      .where(col("rank") === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approxDf = Ann.lshTopK(qs, planted, k, nPlanes = 8, nTables = 6).cache()
    val approx = approxDf.where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    val recall = exact.count { case (q, c) => approx.get(q).contains(c) }.toDouble / exact.size
    assert(recall >= 0.8, s"rank-1 recall $recall")
    // every query has exactly k rows
    val counts = approxDf.groupBy("q_id").count().collect().map(_.getLong(1)).toSet
    assert(counts === Set(k.toLong))
  }

  test("lshTopK scale path: smallCorpusBytes=0 forces the IVF fallback, k rows per query") {
    import spark.implicits._
    // same planted-cluster corpus as the recall test, but the fallback is
    // forced down the no-broadcast IVF branch (what a 100-TB corpus takes)
    def unit(seed: Int): Array[Double] = {
      val raw = Array.tabulate(16)(d => Ann.planeComponent(99L, seed, d))
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val rows = for (c <- 0 until 10; m <- 0 until 20) yield {
      val center = unit(c)
      val noise = unit(c * 1000 + m + 7)
      val v = center.zip(noise).map { case (a, b) => (a + 0.15 * b).toFloat }
      (c * 1000L + m, v.toSeq)
    }
    val planted = rows.toDF("c_id", "c_vec").cache()
    val qs = planted.where(col("c_id") % 1000 < 2)
      .select(col("c_id").as("q_id"), col("c_vec").as("q_vec")).cache()
    val k = 3
    val out = Ann.lshTopK(qs, planted, k, nPlanes = 8, nTables = 6,
      smallCorpusBytes = 0L).cache()
    // every query still resolves to exactly k neighbours
    val counts = out.groupBy("q_id").count().collect().map(_.getLong(1)).toSet
    assert(counts === Set(k.toLong))
    // rank-1 recall against exact stays usable through the IVF branch
    val exact = Ann.bruteForceTopK(qs, planted, k)
      .where(col("rank") === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = out.where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recall = exact.count { case (q, c) => approx.get(q).contains(c) }.toDouble / exact.size
    assert(recall >= 0.6, s"rank-1 recall $recall via IVF fallback")
  }

  test("concurrent lshTopK calls don't free each other's checkpoint blocks") {
    // round-3 ADVICE: the cleanup sweep used a global getPersistentRDDs
    // diff, so two concurrent calls could unpersist each other's LIVE
    // localCheckpoint blocks mid-flight (job failure). Now each call frees
    // only the RDD ids its own checkpoints created.
    val k = 4
    @volatile var err: Throwable = null
    val rowCounts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val threads = (0 until 2).map(i => new Thread(() =>
      try {
        val out = Ann.lshTopK(queries, corpus, k, seed = 42L + i)
        val counts = out.groupBy("q_id").count().collect().map(_.getLong(1))
        assert(counts.length === 8 && counts.forall(_ == k.toLong))
        rowCounts.put(i, out.count())
      } catch { case t: Throwable => err = t }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (err != null) throw err
    assert(rowCounts.get(0) === 8L * k)
    assert(rowCounts.get(1) === 8L * k)
  }

  test("IVF full-probe equals brute force; partial probe keeps high recall, bounded candidates") {
    val k = 5
    val brute = Ann.bruteForceTopK(queries, corpus, k).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    // nProbe = nCells: candidate set is the whole corpus → exact equality
    val full = Ann.ivfTopK(queries, corpus, k, nCells = 8, nProbe = 8, iters = 2).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(full === brute)
    // approximate mode: rank-1 recall stays high on this corpus
    val approx = Ann.ivfTopK(queries, corpus, k, nCells = 8, nProbe = 3, iters = 2).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val rank1Brute = brute.collect { case (q, 1, c) => q -> c }.toMap
    val hits = rank1Brute.count { case (q, c) => approx.get((q, 1)).contains(c) }
    assert(hits.toDouble / rank1Brute.size >= 0.6, s"rank-1 recall $hits/${rank1Brute.size}")
    // determinism: same inputs → same centroids → same results
    val again = Ann.ivfTopK(queries, corpus, k, nCells = 8, nProbe = 3, iters = 2).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(again === approx)
  }

  test("zero-norm corpus vectors train as cell -1: centroids never drift to the origin") {
    import spark.implicits._
    // a tight cluster far from the origin plus many dead (all-zero)
    // embeddings. Their cosine is NULL → pinned to -2 for every centroid;
    // the argmax must map that to the unreachable cell -1, NOT tie-break to
    // cell 0 — otherwise 50 zero vectors drag centroid 0's per-dimension
    // means toward the origin on every Lloyd iteration
    val dims = 8
    val cluster = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(dims)(d => if (d == 0) 10f else 0.1f * ((i + d) % 3)).toSeq)
    }
    val zeros = (100 until 150).map(i => (i.toLong, Seq.fill(dims)(0f)))
    val mixed = (cluster ++ zeros).toDF("c_id", "c_vec")
    val cents = Ann.trainIvfCentroids(mixed, nCells = 2, iters = 3)
    cents.foreach { case (i, c) =>
      val norm = math.sqrt(c.map(x => x.toDouble * x).sum)
      assert(norm > 5.0, s"centroid $i dragged toward origin (norm $norm)")
    }
    // end-to-end: dead vectors never surface in top-k (null cosine ranks last)
    val qs = Seq((1000L, Array.tabulate(dims)(d => if (d == 0) 9f else 0.1f).toSeq))
      .toDF("q_id", "q_vec")
    val res = Ann.ivfTopK(qs, mixed, k = 3, nCells = 2, nProbe = 2, iters = 3).collect()
    assert(res.length === 3)
    assert(res.forall(_.getLong(1) < 100L), "zero-norm vector surfaced in top-k")
  }

  test("near-duplicate pairs finds planted duplicate") {
    import spark.implicits._
    // plant an exact duplicate of vec 0 with id 100000
    val v0 = corpus.where(col("c_id") === 0).collect().head.getSeq[Float](1)
    val planted = corpus.unionByName(Seq((100000L, v0)).toDF("c_id", "c_vec"))
    val pairs = Ann.nearDuplicatePairs(planted, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100000L)))
  }

  test("near-duplicate pairs equal all-pairs cosine >= threshold through the group expansion") {
    import spark.implicits._
    // a 3-copy byte-identical cluster (three intra pairs), a near neighbour
    // of it (cross pairs through the expansion), two zero vectors (cosine
    // NULL: they never pair, not even with each other) and spread vectors
    val dims = 16
    def vec(seed: Int, eps: Double): Seq[Float] = {
      val r = new scala.util.Random(seed)
      (0 until dims).map(d => (math.cos(d + 1) + r.nextGaussian() * eps).toFloat)
    }
    val dup = vec(1, 0.0)
    val rows = Seq((10L, dup), (11L, dup), (12L, dup), (13L, vec(2, 1e-3)),
      (20L, Seq.fill(dims)(0f)), (21L, Seq.fill(dims)(0f))) ++
      (100 until 140).map(i => (i.toLong, vec(i * 7919, 1.0)))
    val threshold = 0.99
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expected = (for {
      (i, a) <- rows; (j, b) <- rows if i < j
      c = cos(a, b) if !c.isNaN && c >= threshold
    } yield (i, j) -> c).toMap
    assert(expected.keySet === Set((10L, 11L), (10L, 12L), (11L, 12L),
      (10L, 13L), (11L, 13L), (12L, 13L)))
    val got = Ann.nearDuplicatePairs(rows.toDF("c_id", "c_vec"), threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(got.map(_._1).toSet === expected.keySet)
    assert(got.length === expected.size, "each pair once")
    got.foreach { case (p, c) => assert(math.abs(c - expected(p)) < 1e-6, s"pair $p") }
  }

  test("a null vector drops out of LSH bucketing instead of failing the job") {
    import spark.implicits._
    val nullC = Seq((999999L, Option.empty[Seq[Float]])).toDF("c_id", "c_vec")
    val nullQ = Seq((999998L, Option.empty[Seq[Float]])).toDF("q_id", "q_vec")
    val k = 3
    val out = Ann.lshTopK(queries.unionByName(nullQ), corpus.unionByName(nullC), k).collect()
    val byQ = out.groupBy(_.getLong(0))
    (0L until 8L).foreach(q => assert(byQ(q).length === k, s"query $q"))
    val v0 = corpus.where(col("c_id") === 0).collect().head.getSeq[Float](1)
    val planted = corpus.unionByName(Seq((100000L, v0)).toDF("c_id", "c_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) = Ann.nearDuplicatePairs(df, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withNull = pairs(planted.unionByName(nullC))
    assert(withNull.contains((0L, 100000L)))
    assert(withNull === pairs(planted))
  }

  test("capBuckets bounds a hot bucket deterministically and reports it") {
    import spark.implicits._
    // one 40-row bucket with cap 10 → ceil(40/10)=4 strata, residue-0 kept
    // (~10 rows); a 3-row bucket passes through whole
    val banded = ((1L to 40L).map(i => (i, 0, 5L)) ++
      (100L to 102L).map(i => (i, 1, 9L))).toDF("c_id", "table", "bucket")
    val capped = Ann.capBuckets(banded, Seq("table", "bucket"), "c_id", 10, "g")
    val rows = capped.collect()
    val hot = rows.filter(_.getAs[Int]("table") == 0)
    assert(hot.length < 40 && hot.nonEmpty, s"hot bucket kept ${hot.length}")
    assert(hot.length <= 20, "sampling keeps roughly cap rows") // 40/4 expected ≈ 10
    assert(rows.count(_.getAs[Int]("table") == 1) === 3, "small bucket untouched")
    val m = capped.queryExecution.observedMetrics("g")
    assert(m.getAs[Long]("oversize_buckets") === 1L)
    assert(m.getAs[Long]("max_bucket_rows") === 40L)
    // determinism: same input, same survivors
    assert(Ann.capBuckets(banded, Seq("table", "bucket"), "c_id", 10, "g2")
      .collect().map(_.getAs[Long]("c_id")).sorted.toSeq ===
      rows.map(_.getAs[Long]("c_id")).sorted.toSeq)
  }

  test("lshTopK with a planted hot bucket: capped candidates, still k rows per query") {
    import spark.implicits._
    // 300 near-identical vectors land in the same bucket of every table;
    // a tiny cap forces sampling, and queries the sampling under-fills are
    // re-answered by the fallback — output stays exactly k per query
    def vec(seed: Int, eps: Double): Seq[Float] = {
      val r = new scala.util.Random(seed)
      (0 until 16).map(d => (math.sin(d + 1).toFloat + (r.nextGaussian() * eps).toFloat))
    }
    val hot = (0 until 300).map(i => (i.toLong, vec(i, 1e-4)))
    val spread = (300 until 340).map(i => (i.toLong, vec(i * 7919, 1.0)))
    val corpus = (hot ++ spread).toDF("c_id", "c_vec")
    val qs = (0 until 6).map(i => (i.toLong, vec(i, 1e-4))).toDF("q_id", "q_vec")
    val k = 3
    val out = Ann.lshTopK(qs, corpus, k, maxBucketSize = 20).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 6L).toSet)
    assert(byQ.values.forall(_.length == k), "every query answered with exactly k rows")
    assert(out.forall(_.getAs[Int]("rank") <= k))
  }
}
