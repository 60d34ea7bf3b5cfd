package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ARRAY<FLOAT>`).
  *
  * Two paths:
  *   - `bruteForceTopK`: exact cosine top-k; the corpus side is broadcast
  *     when small, and the dot products are pure higher-order-function
  *     expressions (`zip_with` + `aggregate`) — whole-stage codegen, no UDF.
  *   - `lshTopK`: random-hyperplane LSH bucketing (deterministic planes
  *     derived from a seed, computed per-row with no shuffle) → candidates
  *     share a bucket → exact rerank; queries left under-filled fall back
  *     to exact broadcast brute force when the corpus's plan statistics
  *     prove it small, and to wide-probe IVF (bounded shuffles, no
  *     full-corpus broadcast) otherwise. The scale path: bucket join
  *     shuffles only (query, bucket) keys, never the all-pairs cross
  *     product.
  */
object Ann {

  /** Cosine similarity of two ARRAY<FLOAT/DOUBLE> columns as a pure
    * Catalyst expression (codegen; no UDF). NULL (not an error) against a
    * zero-norm vector: under ANSI mode — Spark 4's DEFAULT — a plain `/`
    * THROWS on a zero divisor even for doubles, so one dead embedding in a
    * 100-TB corpus would crash the whole job; `try_divide` keeps the
    * function total and identical to `/` for every non-degenerate input.
    * Callers rank the NULL deliberately (desc ordering puts it last;
    * centroid assignment pins it below any real cosine). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0d), (acc, v) => acc + v * v))
    try_divide(dot, na * nb)
  }

  /** Exact top-k cosine neighbours for each query vector.
    * @param queries (q_id, q_vec)
    * @param corpus  (c_id, c_vec)
    * @return (q_id, c_id, cos_sim, rank), rank 1 = most similar; the query
    *         row itself is excluded when ids collide.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      broadcastCorpus: Boolean = true): DataFrame = {
    val c = if (broadcastCorpus) broadcast(corpus) else corpus
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id"))
    queries.crossJoin(c)
      .where(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "c_id", "cos_sim", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim). */
  def planeComponent(seed: Long, plane: Int, dim: Int): Double = {
    var z = seed + plane.toLong * 0x9e3779b97f4a7c15L + dim.toLong * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    // map to [-1, 1)
    (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  /** Sign-bit bucket of a vector under `nPlanes` seeded hyperplanes. */
  def lshBucket(vec: Seq[Float], nPlanes: Int, seed: Long): Long = {
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var d = 0
      while (d < vec.length) {
        dot += vec(d) * planeComponent(seed, p, d)
        d += 1
      }
      if (dot >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** (vector, table) → that table's [[lshBucket]]; each table draws its own
    * hyperplanes from `seed`. */
  private def bucketUdf(nPlanes: Int, seed: Long) =
    udf((vec: Seq[Float], table: Int) => lshBucket(vec, nPlanes, seed + table * 7919L))

  /** One row of `df` per hash table (`table`, `bucket`). A null vector has
    * no bucket, so its rows are dropped (as `minhashLsh` drops null text):
    * a null-vector query falls to [[lshTopK]]'s under-fill fallback, and a
    * null vector never reaches a cosine threshold. */
  private def withBuckets(df: DataFrame, vecCol: String, nPlanes: Int, nTables: Int,
      seed: Long): DataFrame =
    df.where(col(vecCol).isNotNull)
      .withColumn("table", explode(array((0 until nTables).map(lit(_)): _*)))
      .withColumn("bucket", bucketUdf(nPlanes, seed)(col(vecCol), col("table")))

  /** Deterministically cap each (keyCols) bucket of `df` to ~`cap` rows by
    * keeping the id-hash residue-0 stratum — the top-k analog of
    * [[graft.text.Dedup.subBucketed]]: where near-dup SPLITS an oversize
    * bucket (keeps every row, loses cross-split pairs), top-k candidate
    * generation SAMPLES it (bounded join fan-out; queries the sampling
    * under-fills are caught by the rank-count check and re-answered by the
    * fallback, so output quality degrades to the fallback's, never to
    * silence). Only the rare oversize buckets broadcast back; the big side
    * is never shuffled for the guard, and the oversize set is measured via
    * the named observe() (Dedup.guardMetrics): the residue-0 stratum is
    * the `_sub = 0` split of the shared guard. */
  private[graft] def capBuckets(df: DataFrame, keyCols: Seq[String], idCol: String,
      cap: Int, guardName: String): DataFrame =
    graft.text.Dedup.subBucketed(df, keyCols, idCol, cap, guardName)._1
      .where(col("_sub") === 0L).drop("_sub")

  /** Approximate top-k: LSH bucket candidates + exact rerank + wide-probe
    * IVF fallback for under-filled queries. With `nTables` independent hash
    * tables, recall rises without widening any single bucket. Corpus-side
    * hot buckets (a low-entropy vector cluster landing in one bucket of
    * every table) are capped to ~`maxBucketSize` rows by deterministic
    * sampling ([[capBuckets]]) — without it a bucket of m corpus rows
    * shared by q queries costs q·m join rows, the d5-style quadratic. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nPlanes: Int = 12, nTables: Int = 4, seed: Long = 42L,
      fallbackCells: Int = 16, smallCorpusBytes: Long = 64L << 20,
      maxBucketSize: Int = 100000): DataFrame = {
    val spark = queries.sparkSession
    // the candidates localCheckpoint below pins executor blocks; free
    // exactly the blocks this call's own checkpoints created once the
    // returned result has its own (the round-1 knnJoin leak — repeated
    // lshTopK calls in a long-lived session otherwise accumulate dead
    // checkpoint blocks; CheckpointTracker scaladoc for the concurrency
    // contract)
    val ckpt = new graft.util.CheckpointTracker(spark)
    val qb = withBuckets(queries, "q_vec", nPlanes, nTables, seed)
    val cb = capBuckets(withBuckets(corpus, "c_vec", nPlanes, nTables, seed),
      Seq("table", "bucket"), "c_id", maxBucketSize, "lsh_topk_bucket_guard")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id"))
    // localCheckpoint AFTER the rank filter: the materialized set is ≤ k
    // rows per query (small at any scale), and it is read three times below
    // (under-fill counts, the well-filled side, and the fallback gate) —
    // without it each read re-runs the bucket join.
    val candidates = qb.join(cb, Seq("table", "bucket"))
      .where(col("q_id") =!= col("c_id"))
      .select("q_id", "q_vec", "c_id", "c_vec").dropDuplicates("q_id", "c_id")
      .withColumn("cos_sim", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "c_id", "cos_sim", "rank")
      .localCheckpoint()
    ckpt.track(candidates)

    // Queries that found < k candidates need a fallback. The fallback is
    // picked from the corpus's Catalyst plan statistics, the same signal
    // Spark's own join strategy uses:
    //   - corpus provably small (stats.sizeInBytes ≤ smallCorpusBytes):
    //     exact brute force with the corpus broadcast — optimal and safe;
    //   - otherwise: wide-probe IVF (half the cells). NEVER broadcast an
    //     unbounded corpus: a skewed plane set can under-fill many queries
    //     at once, and a full-corpus broadcast is a driver OOM at scale.
    //     IVF keeps candidate generation to one bounded (cell) shuffle.
    // The whole fallback is gated on an under-fill actually existing — IVF
    // training collects centroids and runs Lloyd aggregations over the
    // corpus, real work that must not be paid when every query filled up.
    val counts = candidates.groupBy("q_id").agg(count(lit(1)).as("n"))
    val underfilled = queries.join(counts.where(col("n") < k), Seq("q_id"), "left_semi")
      .unionByName(queries.join(counts, Seq("q_id"), "left_anti"))
    val resultPlan =
      if (underfilled.isEmpty) candidates
      else {
        val corpusSmall =
          corpus.queryExecution.optimizedPlan.stats.sizeInBytes <= smallCorpusBytes
        val fallback =
          if (corpusSmall) bruteForceTopK(underfilled, corpus, k)
          else ivfTopK(underfilled, corpus, k,
            nCells = fallbackCells, nProbe = math.max(1, fallbackCells / 2), iters = 2)
        candidates.join(underfilled.select("q_id"), Seq("q_id"), "left_anti")
          .unionByName(fallback)
      }
    // materialize the result's own blocks (≤ k rows per query — small at
    // any scale), then free every block this call created before it
    val out = resultPlan.localCheckpoint()
    ckpt.freeAllExcept(out)
    out
  }

  /** Deterministic IVF (inverted-file) coarse quantizer: Lloyd's k-means
    * over the corpus, seeded from the first `k` vectors in id order (no
    * RNG — resumable plans must replay identically). All iterations are
    * DataFrame aggregations: assign = broadcast-centroid argmin (codegen
    * cosine), update = groupBy(cell) element-wise mean via
    * `aggregate`/`zip_with` — one narrow shuffle per iteration, never the
    * cross product. */
  def trainIvfCentroids(corpus: DataFrame, nCells: Int, iters: Int = 3): Array[(Int, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var centroids = corpus.select(col("c_id"), col("c_vec"))
      .orderBy("c_id").limit(nCells)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).toArray) }
    var it = 0
    while (it < iters) {
      // element-wise mean without collecting whole vectors onto a reducer:
      // (cell, dim) partial sums combine map-side, then the k×dims means
      // re-assemble into centroid arrays — scales to any corpus size
      // `_vn` (row norm) is computed once per row and referenced by every
      // per-centroid similarity — CollapseProject keeps the multi-referenced
      // non-cheap alias in its own projection, so it is NOT re-inlined
      val means = corpus
        .withColumn("_vn", vecNormExpr(col("c_vec")))
        .withColumn("cell", nearestCentroidExpr(centroids, col("c_vec"), col("_vn")))
        .select(col("cell"), posexplode(col("c_vec")).as(Seq("dim", "v")))
        .groupBy("cell", "dim").agg(avg("v").as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("mean"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).map(_.toFloat).toArray)
        .toMap
      // empty cells keep their previous centroid (standard Lloyd practice)
      centroids = centroids.map { case (i, c) => (i, means.getOrElse(i, c)) }
      it += 1
    }
    centroids
  }

  /** Norm of the literal centroid `c`, computed driver-side with the SAME
    * arithmetic the [[cosine]] expression performs per row (float multiply,
    * then double-accumulate left fold, then sqrt) — bit-identical to
    * `sqrt(aggregate(vec, 0.0, (acc, v) => acc + v * v))` over the literal,
    * so hoisting it out of the per-row plan cannot move any similarity by
    * even one ulp (round-6: the old expression recomputed every centroid's
    * norm for every input row). */
  private def centroidNorm(c: Array[Float]): Double = {
    var acc = 0.0d
    var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    math.sqrt(acc)
  }

  /** The row-side vector norm, shared across all centroid comparisons —
    * callers materialize it ONCE per row in a `_vn` column (see
    * [[withVecNorm]]) instead of recomputing it per centroid. */
  private def vecNormExpr(vec: Column): Column =
    sqrt(aggregate(vec, lit(0.0d), (acc, v) => acc + v * v))

  /** Per-centroid cosine similarities of `vec` as ARRAY<STRUCT<sim, i>> —
    * the shared body of assignment and probe selection. Pure codegen
    * expressions (no per-row UDF): one dot product per centroid against the
    * literal centroid vector, divided by the hoisted row norm × the
    * driver-side literal centroid norm. Unrolled `array(...)` rather than
    * `transform` over a literal array so the `vnorm` column reference stays
    * a cheap attribute lookup per element (a lambda body would re-evaluate
    * any inlined norm subtree once per centroid). */
  private def centroidSims(centroids: Array[(Int, Array[Float])], vec: Column,
      vnorm: Column): Column =
    array(centroids.map { case (i, c) =>
      val dot = aggregate(zip_with(vec, typedLit(c.toSeq), (x, y) => x * y),
        lit(0.0d), (acc, v) => acc + v)
      // cosine is NULL against a zero-norm vector (try_divide — ANSI mode
      // would THROW on a plain /): pin it to -2 (below any real cosine) so
      // a degenerate centroid ranks LAST everywhere — array_sort would
      // otherwise order the null struct field FIRST and make it every
      // query's top probe, silently burning one of nProbe probes
      struct(coalesce(try_divide(dot, vnorm * lit(centroidNorm(c))), lit(-2.0d)).as("sim"),
        lit(i).as("i"))
    }: _*)

  /** argmax_i cosine(vec, centroid_i), ties to the lower index (a single
    * `aggregate` fold — no sort of the k-array per row). A best sim of -2
    * means EVERY cosine was degenerate (zero-norm input vector) — such rows
    * keep the unreachable cell -1 so Lloyd training ignores them, as the
    * pre-pinning null semantics did; mapping them to cell 0 would drag
    * centroid 0's per-dimension means toward the origin every iteration.
    * Real cosines live in [-1, 1], so -2 is unambiguous. */
  private def nearestCentroidExpr(centroids: Array[(Int, Array[Float])], vec: Column,
      vnorm: Column): Column = {
    val best = aggregate(centroidSims(centroids, vec, vnorm),
      struct(lit(Double.MinValue).as("sim"), lit(-1).as("i")),
      (acc, s) => when(s.getField("sim") > acc.getField("sim") ||
          (s.getField("sim") === acc.getField("sim") && s.getField("i") < acc.getField("i")), s)
        .otherwise(acc))
    when(best.getField("sim") <= lit(-2.0d), lit(-1)).otherwise(best.getField("i"))
  }

  /** The `nProbe` centroid indices closest to `vec` (sim desc, index asc). */
  private def topCentroidsExpr(centroids: Array[(Int, Array[Float])], nProbe: Int,
      vec: Column, vnorm: Column): Column =
    transform(
      slice(array_sort(transform(centroidSims(centroids, vec, vnorm),
        s => struct((-s.getField("sim")).as("negsim"), s.getField("i").as("i")))), 1, nProbe),
      s => s.getField("i"))

  /** IVF top-k: corpus bucketed by nearest centroid; each query probes its
    * `nProbe` closest cells and reranks exactly. The scale path probes a
    * fraction of cells (bounded candidates, one (cell) shuffle); with
    * `nProbe = nCells` the candidate set is the full corpus and results
    * equal [[bruteForceTopK]] exactly (that mode backs the e4 oracle). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, iters: Int = 3): DataFrame = {
    val centroids = trainIvfCentroids(corpus, nCells, iters)
    val cb = corpus
      .withColumn("_vn", vecNormExpr(col("c_vec")))
      .withColumn("cell", nearestCentroidExpr(centroids, col("c_vec"), col("_vn")))
      .drop("_vn")
    val qb = queries
      .withColumn("_vn", vecNormExpr(col("q_vec")))
      .withColumn("cell", explode(topCentroidsExpr(centroids, nProbe, col("q_vec"), col("_vn"))))
      .drop("_vn")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id"))
    // no dropDuplicates: the cells PARTITION the corpus (each c_id is
    // assigned exactly one nearest centroid) and a query's probe list holds
    // distinct cells, so a (q_id, c_id) pair can meet at most once — the
    // old dedup was a no-op that cost a SortAggregate (arrays in the
    // buffer) + an extra Exchange + two Sorts (round-6 plan audit)
    qb.join(cb, Seq("cell"))
      .where(col("q_id") =!= col("c_id"))
      .select("q_id", "q_vec", "c_id", "c_vec")
      .withColumn("cos_sim", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "c_id", "cos_sim", "rank")
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold via LSH blocking +
    * exact verification (the embedding-cosine near-dup of the prompt).
    *
    * Scale shape (round-1 fix, mirroring Dedup.minhashLsh): byte-identical
    * vectors — which share every bucket and pair with everything in their
    * cluster — are collapsed to one representative before the self-join and
    * expanded back afterwards, so an m-document identical cluster costs m
    * rows, not m²/2 candidates. Buckets still above `maxBucketSize` are
    * split into ~cap-sized sub-buckets by secondary id hash (count guard):
    * bounded work, pairs across sub-splits only found via other tables. */
  def nearDuplicatePairs(corpus: DataFrame, threshold: Double = 0.95,
      nPlanes: Int = 12, nTables: Int = 4, seed: Long = 42L,
      maxBucketSize: Int = 100000, expandExactGroups: Boolean = true): DataFrame = {
    val base = corpus.select(col("c_id").as("_id"), col("c_vec").as("_vec"))
    // identical-vector collapse via the shared partial-aggregating groupBy
    // (Dedup.collapseByKey — round-3 verdict item 4: never a window keyed
    // by the embedding array); members carry their vector, which is
    // byte-identical to the representative's
    val (reps, membership) = graft.text.Dedup.collapseByKey(
      base, "_vec", "_id", expandExactGroups, keepKeyInMembers = true)
    val repPairs = graft.text.Dedup.bandSelfJoin(
        withBuckets(reps, "_vec", nPlanes, nTables, seed), Seq("table", "bucket"), "_vec",
        maxBucketSize, "ann_bucket_guard")
      .withColumn("cos_sim", cosine(col("key_a"), col("key_b")))
      .where(col("cos_sim") >= threshold)
      .select("a_id", "b_id", "cos_sim")
    membership match {
      case None => repPairs
      // members are byte-identical to their representative, so the intra
      // cosine over the member's own vector equals the un-collapsed plan's
      // (NULL for a zero vector, which the threshold then drops)
      case Some(m) => graft.text.Dedup.expandGroups(repPairs, m,
          cosine(col("x._vec"), col("x._vec")).as("cos_sim"), Seq("cos_sim"))
        .where(col("cos_sim") >= threshold)
    }
  }
}
