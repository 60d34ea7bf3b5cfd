package graft.spatial.join

import graft.spatial.cell.CellMath
import graft.spatial.cell.{functions => F}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cell-indexed spatial joins (north_star J3/J4): the PIP join is rewritten
  * manually into a cell equi-join + exact ray-cast test (SURVEY.md §4 —
  * deliberate API-layer rewrite instead of planner surgery), with three
  * physical paths:
  *
  *   - broadcast: polygon side broadcast when small (north_star
  *     "broadcast joins for small polygon sets");
  *   - shuffle: plain cell equi-join, AQE skew-join handles moderate skew;
  *   - salted: hot cells (dense urban tiles) replicated S ways on the
  *     polygon side, points pick `pmod(xxhash64(lon, lat), S)` — bounded
  *     fan-out skew mitigation (north_star "salted repartitioning for hot
  *     cells"). Coordinate-hash salting is deterministic across task
  *     retries (an id column is not guaranteed to exist on the points
  *     side); the trade is that MANY POINTS STACKED ON ONE EXACT
  *     COORDINATE share a salt id and are not split — a cell that is hot
  *     because of coordinate-stacked records (geocoded-to-centroid data)
  *     needs pre-jittering or a caller-side id-hash salt.
  *
  * All paths produce identical rows (asserted in SpatialJoinSpec).
  */
object SpatialJoin {

  private val coverUdf = udf((minLon: Double, minLat: Double, maxLon: Double, maxLat: Double, res: Int) =>
    CellMath.coverBBox(minLon, minLat, maxLon, maxLat, res))

  // stragglers (points that exhausted ring expansion and took the exact
  // cross-join fallback) from the most recent knnJoin in this JVM; -1 =
  // no knnJoin has run. The same number is also emitted as the
  // "knn_stragglers" observed metric inside the executed plan.
  private val stragglerCount = new java.util.concurrent.atomic.AtomicLong(-1L)
  def lastKnnStragglerCount: Long = stragglerCount.get()

  /** Polygon side exploded to its bbox cell cover at `res`.
    * Output: (poly_id, rings, poly side payload..., cell). */
  def polygonCells(polys: DataFrame, res: Int): DataFrame =
    polys.withColumn("cell",
      explode(coverUdf(col("bbox.min_lon"), col("bbox.min_lat"),
        col("bbox.max_lon"), col("bbox.max_lat"), lit(res))))

  /** The polygon side exactly as [[pipJoin]] consumes it, TAGGED with the
    * resolution it was built at: a prepared side from res 10 silently
    * matches nothing against point cells encoded at res 12 (packed ids
    * carry the res), so pipJoin must be able to fail fast on the mismatch
    * instead of returning an empty join. */
  final case class PreparedCells private[join] (df: DataFrame, res: Int) {
    /** Materialize once for reuse across many pipJoin calls. */
    def localCheckpoint(): PreparedCells = copy(df = df.localCheckpoint())
  }

  /** The polygon side exactly as [[pipJoin]] consumes it (poly_id/poly_tags
    * renames — polygon payload columns pass through without colliding with
    * point-side names — cover-exploded, bbox dropped). localCheckpoint the
    * result and hand it to many pipJoin calls via `preparedCells`. Rows
    * with a null bbox are dropped: the cover UDF takes primitive doubles,
    * so a null field would be silently coerced to 0.0 and the polygon
    * covered at (0, 0) instead of its true location. */
  def preparedPolygonCells(polys: DataFrame, res: Int): PreparedCells =
    PreparedCells(polygonCells(
      polys.withColumnRenamed("id", "poly_id").withColumnRenamed("tags", "poly_tags")
        .where(col("bbox.min_lon").isNotNull && col("bbox.min_lat").isNotNull &&
          col("bbox.max_lon").isNotNull && col("bbox.max_lat").isNotNull), res)
      .drop("bbox"), res)

  /** Point-in-polygon join.
    *
    * @param points  must carry `lon`, `lat` (any other columns pass through)
    * @param polys   polygons table (id, rings, tags, bbox, ...)
    * @param res     cell resolution for the equi-join (higher = finer cover,
    *                fewer false candidates, more polygon replication)
    * @param mode    "broadcast" | "shuffle" | "salted" | "auto" (size-based pick)
    * @param salt    replication factor for the salted path
    * @param hotCellThreshold  salted mode replicates only cells whose point
    *                occupancy reaches this count (≤ 0 = replicate every
    *                cell, the pre-round-5 behavior)
    * @param preparedCells  pass [[preparedPolygonCells]] (ideally
    *                localCheckpointed) to reuse ONE cover explosion across
    *                many pipJoin calls over the same polygons — a bucketed
    *                pipeline otherwise re-explodes the full polygon set per
    *                bucket job; `polys` is ignored when set, and the
    *                prepared resolution must equal `res` (enforced)
    */
  def pipJoin(points: DataFrame, polys: DataFrame, res: Int = 12,
      mode: String = "shuffle", salt: Int = 8,
      hotCellThreshold: Long = 100000L,
      preparedCells: Option[PreparedCells] = None): DataFrame = {
    preparedCells.foreach(pc => require(pc.res == res,
      s"preparedCells built at res ${pc.res} but pipJoin called with res $res — " +
        "the cell equi-join would silently match nothing"))
    val polyCells = preparedCells.map(_.df).getOrElse(preparedPolygonCells(polys, res).df)
    val pts = points.withColumn("cell", F.cell_of(col("lon"), col("lat"), res))
    val exact = F.point_in_polygon(col("lon"), col("lat"), col("rings"))

    // "auto": broadcast when Catalyst's size estimate of the exploded
    // polygon-cell side fits the session's broadcast threshold (a planning-
    // time stat — no job is run), salted otherwise. Mirrors what AQE would
    // decide at runtime but commits to the polygon-replication strategy up
    // front, which the salted path needs.
    val resolvedMode = if (mode != "auto") mode else {
      val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        points.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
      val est = polyCells.queryExecution.optimizedPlan.stats.sizeInBytes
      if (threshold > 0 && est <= threshold) "broadcast" else "salted"
    }

    val joined = resolvedMode match {
      case "broadcast" =>
        pts.join(broadcast(polyCells), Seq("cell"))
      case "shuffle" =>
        pts.join(polyCells, Seq("cell"))
      case "salted" =>
        // polygon-cell rows replicated `salt` ways; each point probes one
        // replica. Key (cell, salt_id) splits a hot cell across `salt`
        // reducers while every matching pair still meets exactly once.
        //
        // Hot-cell-targeted (round-5): replicating the WHOLE polygon-cell
        // side ×salt pays salt× build-side shuffle volume even for the
        // overwhelming majority of cells that aren't hot. Instead, one
        // map-side-combined occupancy count (shuffles only distinct cells,
        // never the points) finds the cells at/above `hotCellThreshold`;
        // only those replicate, and only their points spread across salt
        // buckets. At most |points|/threshold cells can qualify, so the
        // hot set is broadcast-bounded by construction. The two broadcast
        // probes of the same count subtree collapse at runtime: AQE
        // assigns both the SAME BroadcastQueryStage (verified in
        // ExplainProbe — one scan+agg executes), so the occupancy pass
        // costs one narrow scan, not two. Caveats that follow: with AQE
        // disabled the subtree evaluates once per probe (two extra narrow
        // scans — cost, not correctness), and `points` must be
        // deterministic — the standard Spark recomputation contract, but
        // here a non-deterministic source could additionally let the two
        // evaluations disagree on hotness and mis-route salt ids (a
        // rand()-derived input should be materialized first; the legacy
        // thr<=0 path has no such dependence).
        if (hotCellThreshold <= 0) {
          val replicated = polyCells.withColumn("salt_id",
            explode(sequence(lit(0), lit(salt - 1))))
          val saltedPts = pts.withColumn("salt_id",
            pmod(xxhash64(col("lon"), col("lat")), lit(salt)).cast("int"))
          saltedPts.join(replicated, Seq("cell", "salt_id")).drop("salt_id")
        } else {
          val hotCells = pts.groupBy("cell").agg(count(lit(1)).as("_n"))
            .where(col("_n") >= hotCellThreshold)
            .select(col("cell"), lit(true).as("_hot"))
          val replicated = polyCells.join(broadcast(hotCells), Seq("cell"), "left")
            .withColumn("salt_id",
              explode(when(col("_hot"), sequence(lit(0), lit(salt - 1)))
                .otherwise(array(lit(0)))))
            .drop("_hot")
          val saltedPts = pts.join(broadcast(hotCells), Seq("cell"), "left")
            .withColumn("salt_id",
              when(col("_hot"), pmod(xxhash64(col("lon"), col("lat")), lit(salt)).cast("int"))
                .otherwise(lit(0)))
            .drop("_hot")
          saltedPts.join(replicated, Seq("cell", "salt_id")).drop("salt_id")
        }
      case other => throw new IllegalArgumentException(s"unknown pipJoin mode: $other")
    }
    joined.where(exact).drop("cell", "rings")
  }

  /** k-nearest-neighbour join by expanding cell rings (north_star J4).
    *
    * Iterative doubling: round i probes the candidate disk of Chebyshev
    * radius r_i around each unresolved point's cell; a point retires when
    * it has ≥ k candidates whose k-th haversine distance is provably within
    * the ring-guaranteed radius (no closer POI can live outside the probed
    * disk). Remaining stragglers after `maxRadius` fall back to a full
    * cross join (bounded: only unresolved points — SURVEY.md §7.4 risk 3).
    *
    * @param points DataFrame with (pt_id, lon, lat)
    * @param pois   DataFrame with (poi_id, lon, lat)
    * @return (pt_id, poi_id, dist_m, rank) — exactly k rows per point
    *         (fewer iff |pois| < k), rank 1 = nearest. Ties broken by poi_id.
    */
  def knnJoin(points: DataFrame, pois: DataFrame, k: Int, res: Int = 8,
      maxRadius: Int = 8): DataFrame = {
    // AQE re-plans every round of the driver loop and (observed on 4.1.2)
    // can stall in withFinalPlanUpdate on the checkpointed iteration;
    // these per-round joins are small and fixed-shape, so plan them
    // statically. The flip lives on a CLONED session (shared context +
    // cache, isolated conf) so concurrent queries on the caller's session
    // still plan with AQE; the result is re-rooted back before returning.
    val caller = points.sparkSession
    val spark = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(caller)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // round-6 (guide §3.1): the loop's per-round active/safe anti-joins run
    // over checkpointed frames whose stats are unknown (never broadcast,
    // AQE off) — sort-merge paid two 600k-row sorts per round for what a
    // hash table answers; prefer shuffled hash join for the loop session
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    val pointsL = org.apache.spark.sql.graftbridge.SessionBridge.ofRows(spark, points)
    val poisL = org.apache.spark.sql.graftbridge.SessionBridge.ofRows(spark, pois)
    import spark.implicits._
    // Per-round localCheckpoints pin executor-memory blocks; on long loops
    // these accumulate (round-1 leak). Track exactly the checkpoints THIS
    // call creates, materialize the final result, then free all of them
    // except the result's own blocks (CheckpointTracker scaladoc).
    val ckpt = new graft.util.CheckpointTracker(spark)
    import ckpt.track
    // fail on the driver, before any job runs: k sizes every group's
    // fixed-width top-k buffer (2k+1 slots), so it is bounded above too
    KnnTopK.requireK(k)
    // the finally below releases the POI cache and this call's checkpoint
    // blocks on EVERY exit — a mid-loop task failure would otherwise leave
    // them pinned for the session lifetime (the round-1 leak)
    var outJ: DataFrame = null
    val diskUdf = udf((cell: Long, r: Int) => CellMath.disk(cell, r))
    // rows with null coordinates cannot be placed in a cell — dropped here;
    // the cell/disk UDFs take primitive params, so a null would otherwise
    // be silently coerced to 0.0 and join at (0, 0) in the Gulf of Guinea
    val poiCells = poisL
      .where(col("lon").isNotNull && col("lat").isNotNull)
      .select(col("poi_id"), col("lon").as("poi_lon"), col("lat").as("poi_lat"))
      .withColumn("cell", F.cell_of(col("poi_lon"), col("poi_lat"), res))
      .cache()
    try {

    val cellHeightDeg = 180.0 / (1 << res)
    val metersPerDeg = 111194.9

    var active = track(pointsL
      .where(col("lon").isNotNull && col("lat").isNotNull)
      .select(col("pt_id"), col("lon"), col("lat"))
      .withColumn("cell", F.cell_of(col("lon"), col("lat"), res))
      .localCheckpoint())
    var activeCount = active.count()
    var results: DataFrame = null
    // Scale-adaptive FIRST radius (round-6; guide §2 "derive from input
    // size, not a constant"): every round pays a fixed cost — groupBy over
    // every active point, checkpoint, anti-join — so a first ring too small
    // for the POI density burns a full round to retire almost nobody
    // (measured at sf0.1/res 8: the radius-1 round cost 4–5 s and retired
    // 22% of 600k points; radius 2 retired 78%). Target ~4k expected POIs
    // in the first probed disk — enough that a typical point's k-th
    // candidate sits safely inside the ring-guaranteed bound. The RESULT is
    // schedule-invariant by construction: a point only retires when its
    // k-th distance is provably within the probed disk, so any schedule
    // returns the same rows (SpatialJoinSpec's knn ≡ brute-force gate).
    // The count() also makes the poiCells cache materialize eagerly, off
    // the first timed round. density = POIs per cell at `res`.
    val nPois = poiCells.count()
    val density = nPois / math.pow(4.0, res)
    var radius =
      if (density <= 0) maxRadius // no POIs reachable: go straight to cap
      else {
        val cellsWanted = 4.0 * k / density
        math.max(1, math.min(maxRadius, ((math.sqrt(cellsWanted) - 1) / 2).toInt))
      }
    while (radius <= maxRadius && activeCount > 0) {
      val tRound = System.nanoTime()
      // Codegen disk (round-6, guide §4): the probed disk is the full
      // Chebyshev square [-radius, radius]², so explode two CONSTANT offset
      // ranges (sequence(lit,lit) constant-folds to an array literal — the
      // Generate loops over it with zero per-row allocation) and rebuild the
      // neighbor id with the CellMath.pack bit layout inline: y clamps at
      // the poles (filter, placed between the explodes so pole-clamped rows
      // never pay the second explode), x wraps (pmod). Identical probe set
      // to the old per-row disk UDF, which only differs when 2·radius+1 > n
      // (lon wrap aliases cells and the UDF's array_distinct collapsed
      // them) — that degenerate grid keeps the UDF path.
      val n = 1 << res
      val probed =
        if (2 * radius + 1 <= n) active
          .withColumn("_dy", explode(sequence(lit(-radius), lit(radius))))
          .withColumn("_py", col("cell").bitwiseAND(lit(0x1FFFFFFFL)) + col("_dy"))
          .where(col("_py") >= 0 && col("_py") < n)
          .withColumn("_dx", explode(sequence(lit(-radius), lit(radius))))
          .withColumn("probe", lit(res.toLong << 58)
            .bitwiseOR(shiftleft(pmod(
              shiftrightunsigned(col("cell"), 29).bitwiseAND(lit(0x1FFFFFFFL)) + col("_dx"),
              lit(n.toLong)), 29))
            .bitwiseOR(col("_py")))
          .drop("_dy", "_py", "_dx")
        else active
          .withColumn("probe", explode(array_distinct(diskUdf(col("cell"), lit(radius)))))
      val cand = probed
        .join(poiCells.withColumnRenamed("cell", "probe"), Seq("probe"))
        .withColumn("dist_m", F.haversine_m(col("lon"), col("lat"), col("poi_lon"), col("poi_lat")))
        .select(col("pt_id"), col("lon"), col("lat"), col("cell"),
          col("dist_m"), col("poi_id"))
      // One synthetic keep-alive row per active point (null candidate,
      // skipped by KnnTopK.update): the inner probe join alone loses points
      // whose disk matched nothing, which round-5 recovered with a per-round
      // anti-join + a SECOND full checkpoint of the shrunken active set.
      // With every point guaranteed a group, the next-active set is a
      // cheap filter over THIS round's one checkpoint (round-6, guide §2.4
      // — one materialization and zero extra joins per round).
      val keepAlive = active.select(col("pt_id"), col("lon"), col("lat"), col("cell"),
        lit(null).cast("double").as("dist_m"), lit(null).cast("long").as("poi_id"))
      // Bounded top-k aggregate instead of a window rank: partial
      // aggregation keeps ≤ k candidates per point map-side, so the shuffle
      // carries O(k·points) rows, not every candidate (KnnTopK scaladoc).
      // The aggregate also dedups poi ids (lon-wrap can alias disk cells).
      // localCheckpoint: each round materializes once — without it the
      // lazily-chained rounds re-execute every prior round's join whenever
      // the final union materializes (memory + time blow-up). lon/lat/cell
      // ride through the aggregation (identical on every row of a point)
      // so the surviving points need no join back to `active`.
      val grouped = track(cand.unionByName(keepAlive).groupBy("pt_id")
        .agg(KnnTopK.topk(col("dist_m"), col("poi_id"), k).as("topk"),
          first(col("lon")).as("lon"), first(col("lat")).as("lat"),
          first(col("cell")).as("cell"))
        .localCheckpoint())
      // Retirement guarantee: a POI outside the probed disk is > `radius`
      // cells away (wrapped-Chebyshev), i.e. EITHER
      //   (y-escape) its latitude differs by ≥ radius·cellH
      //     → haversine ≥ radius·cellH·111194.9 m, OR
      //   (x-escape) its longitude differs by δ ≥ radius·cellW (any lat)
      //     → haversine ≥ R·asin(cosφ₁·sin(min(δ, 90°))) — the cross-track
      //     distance from the point to the δ-meridian great circle, which
      //     lower-bounds the distance to every point beyond it (including
      //     escapes over the pole, where the arc through the pole is the
      //     δ=90° limit: asin(cosφ₁) = 90°−|φ₁|).
      // A point retires when its k-th candidate distance is within
      // min(bound_y, bound_x). Once the disk spans the whole grid the
      // candidate set is complete and no bound is needed.
      val coversAll = radius >= (1 << res)
      val lonCovered = 2 * radius + 1 >= (1 << res) // x fully wrapped
      val cellWidthDeg = 360.0 / (1 << res)
      val degToRad = math.Pi / 180.0
      val stats = grouped
        .withColumn("n", size(col("topk")).cast("long"))
        // a keep-alive-only group has an EMPTY topk — guard the -1 access
        // (ANSI mode throws on out-of-bounds) behind the size check;
        // CaseWhen evaluates branches lazily per row
        .withColumn("dk",
          when(col("n") >= 1L, element_at(col("topk"), -1).getField("dist")))
        .withColumn("safe", {
          if (coversAll) col("n") >= 1L
          else {
            val boundY = lit(radius * cellHeightDeg * metersPerDeg)
            val delta = math.min(90.0, radius * cellWidthDeg) * degToRad
            val boundX =
              if (lonCovered) lit(Double.MaxValue)
              else lit(6371000.0) * asin(cos(abs(col("lat")) * lit(degToRad)) * lit(math.sin(delta)))
            (col("n") === k.toLong) && col("dk") <= least(boundY, boundX)
          }
        })
      val done = stats.where(col("safe"))
        .select(col("pt_id"), posexplode(col("topk")).as(Seq("pos", "c")))
        .select(col("pt_id"), col("c.id").as("poi_id"), col("c.dist").as("dist_m"),
          (col("pos") + 1).cast("int").as("rank"))
      results = if (results == null) done else results.unionByName(done)
      // unresolved points straight off the round's checkpoint — no
      // anti-join, no second materialization (the filter re-reads cached
      // blocks; lineage depth stays 1)
      active = stats.where(!col("safe")).select("pt_id", "lon", "lat", "cell")
      activeCount = active.count()
      if (sys.env.contains("GRAFT_KNN_VERBOSE"))
        println(s"[knn] radius=$radius active=$activeCount tookMs=${(System.nanoTime() - tRound) / 1000000}")
      // double, but never SKIP the cap: an adaptive start that is not a
      // power-of-two divisor of maxRadius would otherwise jump straight
      // past it (e.g. 9 → 18 with maxRadius 16) and dump every remaining
      // point into the exact cross-join fallback — measured 85 s at res 10
      // before this clamp. Once maxRadius itself has been probed, exit.
      radius = if (radius >= maxRadius) maxRadius + 1 else math.min(radius * 2, maxRadius)
    }
    stragglerCount.set(activeCount) // 0 when every point retired in-ring
    if (activeCount > 0) {
      // exact fallback for stragglers (sparse regions / poles): brute-force
      // against all POIs, but only for the small unresolved remainder.
      // "Bounded" is measured, not assumed: the named observe() records the
      // fallback's input row count in the executed plan (the Dedup guard
      // pattern), and the driver-side count is published via
      // [[lastKnnStragglerCount]] for suites and ops dashboards.
      val rest = active.observe("knn_stragglers", count(lit(1)).as("n_stragglers"))
        .crossJoin(poiCells.drop("cell"))
        .withColumn("dist_m", F.haversine_m(col("lon"), col("lat"), col("poi_lon"), col("poi_lat")))
        .groupBy("pt_id")
        .agg(KnnTopK.topk(col("dist_m"), col("poi_id"), k).as("topk"))
        .select(col("pt_id"), posexplode(col("topk")).as(Seq("pos", "c")))
        .select(col("pt_id"), col("c.id").as("poi_id"), col("c.dist").as("dist_m"),
          (col("pos") + 1).cast("int").as("rank"))
      results = if (results == null) rest else results.unionByName(rest)
    }
    if (results == null) {
      // no point ever entered a round (empty points input): an empty
      // result with the contract schema, typed off the actual inputs
      results = active.select(col("pt_id")).limit(0)
        .crossJoin(poiCells.select(col("poi_id")).limit(0))
        .withColumn("dist_m", lit(0.0))
        .withColumn("rank", lit(1).cast("int"))
    }
    outJ = results.localCheckpoint() // eager: result blocks materialized
    org.apache.spark.sql.graftbridge.SessionBridge.ofRows(caller, outJ)
    } finally {
      poiCells.unpersist()
      if (outJ != null) ckpt.freeAllExcept(outJ)
      else ckpt.freeAllExcept(Set.empty[Int])
    }
  }

  /** Persist a cell-keyed DataFrame as a bucketed table so that REPEATED
    * cell joins (the steady-state shape of a tile-serving or training-data
    * pipeline: same polygon index probed by every new image batch) are
    * exchange-free — both sides pre-hashed into the same bucket layout, the
    * join plans with zero shuffle (asserted in SpatialJoinSpec). Bucket
    * count should match the downstream shuffle partitioning (≈ cluster
    * cores at 100 TB). */
  def writeBucketedByCell(df: DataFrame, table: String, buckets: Int,
      cellCol: String = "cell"): Unit =
    df.write.format("parquet")
      .bucketBy(buckets, cellCol).sortBy(cellCol)
      .mode("overwrite").saveAsTable(table)

  /** Exchange-free PIP join between two [[writeBucketedByCell]] tables:
    * points bucketed by probe cell × polygon cell cover bucketed the same
    * way. Returns the raw candidate join; apply the exact ray-cast with
    * `F.point_in_polygon` on the result (already included when the tables
    * carry `rings`). */
  def bucketedCellJoin(spark: org.apache.spark.sql.SparkSession,
      pointsTable: String, polyCellsTable: String): DataFrame = {
    val pts = spark.table(pointsTable)
    val pcs = spark.table(polyCellsTable)
    val joined = pts.join(pcs, Seq("cell"))
    if (joined.columns.contains("rings"))
      joined.where(F.point_in_polygon(col("lon"), col("lat"), col("rings")))
        .drop("rings")
    else joined
  }

  /** Range-partition a cell-keyed DataFrame by Z-order of the cell — the
    * "explicit range-partitioning by cell prefix" of the north rule.
    * Locality: neighbouring cells land in the same or adjacent partitions,
    * so downstream per-tile work is IO-local. */
  def repartitionByCellPrefix(df: DataFrame, cellCol: String, numPartitions: Int): DataFrame =
    df.withColumn("_z", F.cell_z(col(cellCol)))
      .repartitionByRange(numPartitions, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
}
