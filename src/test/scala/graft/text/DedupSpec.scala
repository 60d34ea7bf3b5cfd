package graft.text

import graft.SparkTestBase

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.DataFrame

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
      (4L, "completely different content about spark engines and distributed joins"),
      (5L, "Der schnelle braune Fuchs springt über den faulen Hund im Wald"),
      (6L, "le renard brun rapide saute par dessus le chien paresseux et la lune"),
      (7L, "the quick brown fox jumps over the lazy dog"), // another exact dup
      (8L, "spark engines and distributed joins are completely different content about"))
    base.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id as canonical") {
    val res = Dedup.exact(docs).collect().map(r =>
      r.getLong(0) -> (r.getAs[Long]("canonical_id"), r.getAs[Boolean]("is_duplicate"))).toMap
    assert(res(1L) === ((1L, false)))
    assert(res(2L) === ((1L, true)))
    assert(res(7L) === ((1L, true)))
    assert(res(3L) === ((3L, false)))
    assert(res(4L) === ((4L, false)))
  }

  test("null text: exact() keeps singletons, LSH paths drop the row instead of NPE") {
    import spark.implicits._
    val docs = Seq((1L, Option("same")), (2L, Option("same")),
      (3L, Option.empty[String]), (4L, Option.empty[String])).toDF("doc_id", "text")
    // two UNKNOWN texts are not duplicates of each other — the null
    // fingerprint must not form one window partition that marks id 4 a
    // duplicate of id 3
    val ex = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(ex(3L) === ((3L, 1L, false)) && ex(4L) === ((4L, 1L, false)))
    assert(ex(2L) === ((1L, 2L, true)), "real duplicate detection unchanged")
    // the signature UDFs receive raw Strings — a null row crashed the whole
    // job before the entry filters
    assert(Dedup.minhashLsh(docs, bands = 4, rows = 4, shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(Dedup.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    // degenerate knobs fail fast, not garbage output
    intercept[IllegalArgumentException](Dedup.minhashLsh(docs, bands = 0))
    intercept[IllegalArgumentException](graft.ann.Ann.nearDuplicatePairs(
      Seq((1L, Seq(1f, 0f))).toDF("c_id", "c_vec"), maxBucketSize = 0))
  }

  test("minhash signature: identical texts identical sigs; near dups mostly agree") {
    val s1 = Dedup.minhashSignature(docs.collect()(0).getString(1), 128, 5)
    val s2 = Dedup.minhashSignature(docs.collect()(1).getString(1), 128, 5)
    val s3 = Dedup.minhashSignature(docs.collect()(2).getString(1), 128, 5)
    val s4 = Dedup.minhashSignature(docs.collect()(3).getString(1), 128, 5)
    assert(s1.toSeq === s2.toSeq)
    val agree13 = s1.zip(s3).count { case (a, b) => a == b } / 128.0
    val agree14 = s1.zip(s4).count { case (a, b) => a == b } / 128.0
    assert(agree13 > 0.6, s"near-dup agreement $agree13")
    assert(agree14 < 0.3, s"unrelated agreement $agree14")
  }

  test("minhash LSH finds exact and near dups, not unrelated pairs") {
    val pairs = Dedup.minhashLsh(docs, bands = 16, rows = 8, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 7L)))
    assert(pairs.contains((2L, 7L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((3L, 7L)), s"near dup missed: $pairs")
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(5L) || Set(a, b).contains(6L) })
  }

  test("simhash: identical → distance 0; banding finds hamming ≤ 3 pairs") {
    assert(Dedup.simhash64("hello world foo") === Dedup.simhash64("hello world foo"))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(pairs.exists(p => p._1 == 2L && p._2 == 7L && p._3 == 0))
  }

  test("ngram jaccard verification on candidate pairs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a_id", "b_id")
    val verified = Dedup.ngramJaccard(pairs, docs, n = 3).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> r.getAs[Double]("jaccard")).toMap
    assert(verified((1L, 2L)) === 1.0)
    assert(verified((1L, 3L)) > 0.5 && verified((1L, 3L)) < 1.0)
    assert(verified((1L, 4L)) === 0.0)
  }

  test("exact-dup mega-cluster: linear LSH work, member pairs still complete") {
    import spark.implicits._
    // 60 identical docs + 2 unrelated: round 1 pushed 60 rows into every
    // band bucket (m²/2 candidates); now one representative enters the LSH
    // join and pairs are expanded back — all 1770 intra pairs at est 1.0
    val docs = ((1L to 60L).map(i => (i, "the same boilerplate page content here")) ++
      Seq((100L, "totally different text about something else entirely"),
        (101L, "yet another unrelated document body with different words"))).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, threshold = 0.7).collect()
    assert(pairs.count(r => r.getLong(0) <= 60L && r.getLong(1) <= 60L) === 60 * 59 / 2)
    assert(pairs.forall(r => r.getDouble(2) >= 0.7))
    // representatives-only mode (the 100-TB shape): no pair enumeration
    val reps = Dedup.minhashLsh(docs, threshold = 0.7, expandExactGroups = false)
    assert(reps.count() === 0) // a single canonical doc has nothing to pair with
    // a tiny bucket cap must not lose the exact-cluster pairs
    val capped = Dedup.minhashLsh(docs, threshold = 0.7, maxBucketSize = 2)
    capped.collect()
    assert(capped.where(col("a_id") <= 60 && col("b_id") <= 60).count() === 60 * 59 / 2)
    // the guard metric reads ZERO here (or is absent entirely: AQE's
    // empty-relation propagation eliminates the broadcast subtree — and with
    // it the CollectMetrics node — exactly when the oversize set is empty),
    // because the exact-dup collapse removed the mega-cluster before banding
    // (that IS the linear-work claim, now measured instead of assumed)
    val m = capped.queryExecution.observedMetrics.get("minhash_bucket_guard")
    assert(m.forall(_.getAs[Long]("oversize_buckets") === 0L))
    assert(m.forall(_.getAs[Long]("oversize_rows") === 0L))
  }

  test("groupBy collapse shuffles measurably fewer bytes than a signature window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // duplicate-heavy corpus (the case the collapse exists for): 2000 docs,
    // 20 distinct texts. The round-3 shape shuffled EVERY row keyed by the
    // 1 KB signature array (window); the round-4 groupBy partial-aggregates
    // map-side, so only one row per distinct signature per map partition
    // reaches the exchange. Measured on the plans' own shuffle metrics.
    val dup = (1L to 2000L).map(i =>
      (i, s"boilerplate page variant number ${i % 20} with some shared filler text"))
      .toDF("doc_id", "text").repartition(4).cache()
    dup.count()
    val sigUdf = udf((t: String) => Dedup.minhashSignature(t, 128, 5))
    def shuffleWrite(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectWithSubqueries {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
      }.sum
    }
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // plain exchanges, readable metrics
    try {
      val base = dup.select(col("doc_id").as("_id"), sigUdf(col("text")).as("sig"))
      val oldStyle = base
        .withColumn("_rep", min(col("_id")).over(Window.partitionBy("sig")))
        .where(col("_id") === col("_rep")).select(col("_id"), col("sig"))
      val newStyle = base.groupBy(col("sig"))
        .agg(min("_id").as("_id"), collect_list("_id").as("_ids"))
        .select(col("_id"), col("sig"))
      val oldBytes = shuffleWrite(oldStyle)
      val newBytes = shuffleWrite(newStyle)
      assert(oldBytes > 0 && newBytes > 0)
      assert(newBytes < oldBytes / 2,
        s"collapse shuffle not reduced: window=$oldBytes bytes, groupBy=$newBytes bytes")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    dup.unpersist()
  }

  test("bucket guard reports oversize buckets through observed metrics") {
    import spark.implicits._
    // 10 distinct ids in ONE band bucket with cap 3 → the guard must split
    // into ceil(10/3)=4 sub-buckets AND report exactly one oversize bucket
    // of 10 rows; a second, small bucket must pass through unsplit
    val banded = ((1L to 10L).map(i => (i, 0, 7L)) ++ Seq((11L, 1, 9L), (12L, 1, 9L)))
      .toDF("_id", "band", "bucket")
    val (guarded, keys) = Dedup.subBucketed(banded, Seq("band", "bucket"), "_id", 3, "g")
    val rows = guarded.collect()
    assert(keys === Seq("band", "bucket", "_sub"))
    val m = guarded.queryExecution.observedMetrics("g")
    assert(m.getAs[Long]("oversize_buckets") === 1L)
    assert(m.getAs[Long]("oversize_rows") === 10L)
    assert(m.getAs[Long]("max_bucket_rows") === 10L)
    val subs = rows.filter(_.getAs[Int]("band") == 0).map(_.getAs[Long]("_sub")).distinct
    assert(subs.length > 1 && subs.forall(s => s >= 0 && s < 4))
    assert(rows.filter(_.getAs[Int]("band") == 1).map(_.getAs[Long]("_sub")).forall(_ == 0L))
  }

  test("dedup scales over the driver documents table") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.exact(real)
    assert(exact.count() === real.count())
    val lsh = Dedup.minhashLsh(real, threshold = 0.9)
    assert(lsh.count() >= 0) // runs end-to-end; dup count is data-dependent
  }
}
