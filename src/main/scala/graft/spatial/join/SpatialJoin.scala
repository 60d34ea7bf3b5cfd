package graft.spatial.join

import graft.spatial.cell.{functions => F}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cell-indexed spatial joins (north_star J3/J4): the PIP join is rewritten
  * manually into a cell equi-join + exact test (SURVEY.md §4 — deliberate
  * API-layer rewrite instead of planner surgery). The polygon side is the
  * classified cover `F.polygon_cells`: a candidate in an interior cell (its
  * center inside, no ring edge meeting it) is a true hit without the
  * ray-cast, and only boundary-cell candidates are ray-cast. [[pipJoin]]
  * has one path whose physical shape follows from the data: the plain cell
  * join when Catalyst broadcasts a side (north_star "broadcast joins for
  * small polygon sets"), and hot-cell salting only when both sides must
  * shuffle (north_star "salted repartitioning for hot cells").
  */
object SpatialJoin {

  // stragglers (points whose ring search gave way to a scan of every POI)
  // from the most recent knnJoin in this JVM; -1 = no knnJoin has run. The
  // same number is the "knn_stragglers" accumulator of that call's job.
  private val stragglerCount = new java.util.concurrent.atomic.AtomicLong(-1L)
  def lastKnnStragglerCount: Long = stragglerCount.get()

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
    * point-side names — bbox dropped), one row per cell of the polygon's
    * cover with its `cell` and `interior` flag. localCheckpoint the result
    * and hand it to many pipJoin calls via `preparedCells`. */
  def preparedPolygonCells(polys: DataFrame, res: Int): PreparedCells =
    PreparedCells(polys.withColumnRenamed("id", "poly_id").withColumnRenamed("tags", "poly_tags")
      .drop("bbox").select(col("*"), inline(F.polygon_cells(col("rings"), res))), res)

  /** Point-in-polygon join.
    *
    * One decision, made at planning time without running a job: when
    * `spark.sql.autoBroadcastJoinThreshold` is positive and Catalyst's size
    * estimate of EITHER side is within it, the result is the plain cell
    * equi-join — Catalyst broadcasts that side, so no hot cell can skew a
    * shuffle. Otherwise both sides shuffle and hot cells are salted: with
    * N points and P = `spark.sql.shuffle.partitions`, a cell holding more
    * than N/P points gets [[hotCellSalt]] salt ids; its points pick
    * `pmod(xxhash64(lon, lat), salt)` and its polygon rows replicate once
    * per salt id, so key (cell, salt_id) splits it across reducers while
    * every matching pair still meets exactly once. Cold cells join on
    * salt id 0, unreplicated.
    *
    * The salted path's caveats:
    *   - occupancy is ONE map-side-combined count per cell (shuffles only
    *     distinct cells, never the points); N is its sum, a window over
    *     the distinct cells in one partition. A separate global total
    *     would rescan the points: its copy of the count does not share
    *     the count's exchange (the optimizer infers different filters for
    *     it). Fewer than P cells can be hot, so the hot set is
    *     broadcast-bounded. It feeds two broadcast probes (point side,
    *     polygon side); AQE assigns both the SAME BroadcastQueryStage
    *     (ExplainProbe prints it), so the count costs one narrow scan. With
    *     AQE disabled it evaluates once per probe — cost, not correctness;
    *   - `points` must be deterministic: a non-deterministic source could
    *     let the two evaluations disagree on hotness and mis-route salt ids
    *     (materialize a rand()-derived input first);
    *   - coordinate-hash salting is deterministic across task retries (an
    *     id column is not guaranteed on the points side); the trade is that
    *     MANY POINTS STACKED ON ONE EXACT COORDINATE share a salt id and are
    *     not split — a cell hot because of coordinate-stacked records
    *     (geocoded-to-centroid data) needs pre-jittering.
    *
    * @param points  must carry `lon`, `lat` (any other columns pass through)
    * @param polys   polygons table (id, rings, tags, bbox, ...)
    * @param res     cell resolution for the equi-join (higher = finer cover,
    *                fewer false candidates, more polygon replication)
    * @param preparedCells  pass [[preparedPolygonCells]] (ideally
    *                localCheckpointed) to reuse ONE cover explosion across
    *                many pipJoin calls over the same polygons — a bucketed
    *                pipeline otherwise re-explodes the full polygon set per
    *                bucket job; `polys` is ignored when set, and the
    *                prepared resolution must equal `res` (enforced)
    */
  def pipJoin(points: DataFrame, polys: DataFrame, res: Int = 12,
      preparedCells: Option[PreparedCells] = None): DataFrame = {
    preparedCells.foreach(pc => require(pc.res == res,
      s"preparedCells built at res ${pc.res} but pipJoin called with res $res — " +
        "the cell equi-join would silently match nothing"))
    val polyCells = preparedCells.map(_.df).getOrElse(preparedPolygonCells(polys, res).df)
    val pts = points.withColumn("cell", F.cell_of(col("lon"), col("lat"), res))
    val conf = points.sparkSession.sessionState.conf
    val threshold = conf.autoBroadcastJoinThreshold
    def broadcastable(df: DataFrame): Boolean =
      threshold > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold

    val joined = if (broadcastable(pts) || broadcastable(polyCells)) {
      pts.join(polyCells, Seq("cell"))
    } else {
      val p = conf.numShufflePartitions
      val hotCells = pts.groupBy("cell").agg(count(lit(1)).as("_n"))
        .select(col("cell"), saltUdf(col("_n"), sum("_n").over(), lit(p)).as("_salt"))
        .where(col("_salt") > 1)
      val replicated = polyCells.join(broadcast(hotCells), Seq("cell"), "left")
        .withColumn("salt_id", explode(sequence(lit(0), coalesce(col("_salt"), lit(1)) - 1)))
        .drop("_salt")
      val saltedPts = pts.join(broadcast(hotCells), Seq("cell"), "left")
        .withColumn("salt_id",
          coalesce(pmod(xxhash64(col("lon"), col("lat")), col("_salt")).cast("int"), lit(0)))
        .drop("_salt")
      saltedPts.join(replicated, Seq("cell", "salt_id")).drop("salt_id")
    }
    exactHits(joined).drop("cell")
  }

  /** The exact step of every cell join: a candidate in an interior cell is
    * a hit, any other is ray-cast. A point off the grid's range (NaN,
    * |lon| > 180, |lat| > 90) clamps into a border cell without lying in
    * its rectangle, so it is always ray-cast. */
  private def exactHits(joined: DataFrame): DataFrame = {
    val onGrid = col("lon").between(-180.0, 180.0) && col("lat").between(-90.0, 90.0)
    joined.where((col("interior") && onGrid) || F.point_in_polygon(col("lon"), col("lat"), col("rings")))
      .drop("rings", "interior")
  }

  /** Only caller: the benchmark's traced run (`perfbench/.../Traced.scala`),
    * which compiles against this signature. `mode` is ignored. No default
    * arguments, so overload resolution against [[pipJoin]] stays unambiguous. */
  @deprecated("pipJoin picks its physical path from the data; drop the mode argument", "0.1.0")
  def pipJoin(points: DataFrame, polys: DataFrame, res: Int, mode: String,
      preparedCells: Option[PreparedCells]): DataFrame =
    pipJoin(points, polys, res, preparedCells)

  /** Salt ids for a cell holding `nc` of `n` points when the join shuffles
    * into `p` partitions: a cell above its fair share n/p is hot and gets
    * ceil(nc / (n/p)) ids, at most `p`; every other cell gets 1 (unsalted).
    * Integer arithmetic: nc·p > n is exactly nc > n/p. */
  private[spatial] def hotCellSalt(nc: Long, n: Long, p: Int): Int =
    if (nc * p <= n) 1 else math.min(p.toLong, (nc * p + n - 1) / n).toInt

  private val saltUdf = udf(hotCellSalt _)

  /** k-nearest-neighbour join by expanding cell rings (north_star J4), as
    * one map-only pass over the points.
    *
    * The POI side is collected to the driver and broadcast as a [[KnnIndex]]
    * at the finest resolution whose non-empty cells still hold k (at least
    * 2) POIs on average ([[KnnIndex.resFor]]); each point then runs the
    * ring search over it inside one UDF ([[KnnIndex.nearest]]). Scale limit:
    * the POI side must fit in driver and executor memory at about 32 bytes
    * per POI; the points are never shuffled. The result is localCheckpointed
    * eagerly, so the broadcast is released before this returns.
    *
    * @param points DataFrame with (pt_id, lon, lat)
    * @param pois   DataFrame with (poi_id, lon, lat)
    * @return (pt_id, poi_id, dist_m, rank) — exactly k rows per point
    *         (fewer iff |pois| < k), rank 1 = nearest. Ties broken by poi_id,
    *         NaN distances rank last, duplicate poi_ids keep their nearer
    *         row; rows with a null coordinate (or null poi_id) are dropped.
    */
  def knnJoin(points: DataFrame, pois: DataFrame, k: Int): DataFrame = {
    // fail on the driver, before any job runs
    KnnIndex.requireK(k)
    val sc = points.sparkSession.sparkContext
    val poiRows = pois
      .where(col("poi_id").isNotNull && col("lon").isNotNull && col("lat").isNotNull)
      .select(col("poi_id").cast("long"), col("lon").cast("double"), col("lat").cast("double"))
      .collect()
    val ids = poiRows.map(_.getLong(0))
    val lons = poiRows.map(_.getDouble(1))
    val lats = poiRows.map(_.getDouble(2))
    val index = sc.broadcast(KnnIndex(ids, lons, lats, KnnIndex.resFor(lons, lats, k)))
    // points whose ring search gave way to a full scan; the named
    // accumulator shows up in the UI and the event log
    val scans = sc.longAccumulator("knn_stragglers")
    try {
      val nearest = udf { (lon: Double, lat: Double) =>
        val (hits, scanned) = index.value.nearest(lon, lat, k)
        if (scanned) scans.add(1L)
        hits
      }
      // a point with a null coordinate cannot be placed: dropped
      val out = points
        .where(col("lon").isNotNull && col("lat").isNotNull)
        .select(col("pt_id"),
          posexplode(nearest(col("lon").cast("double"), col("lat").cast("double"))).as(Seq("pos", "c")))
        .select(col("pt_id"), col("c._1").as("poi_id"), col("c._2").as("dist_m"),
          (col("pos") + 1).cast("int").as("rank"))
        .localCheckpoint() // eager: the result no longer needs the broadcast
      stragglerCount.set(scans.value)
      out
    } finally index.destroy()
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
    * points bucketed by probe cell × a [[preparedPolygonCells]] side
    * bucketed the same way. When the polygon table carries `rings` the
    * result is [[pipJoin]]'s exact step over the candidates; without it,
    * the raw candidate join. */
  def bucketedCellJoin(spark: org.apache.spark.sql.SparkSession,
      pointsTable: String, polyCellsTable: String): DataFrame = {
    val joined = spark.table(pointsTable).join(spark.table(polyCellsTable), Seq("cell"))
    if (joined.columns.contains("rings")) exactHits(joined) else joined
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
