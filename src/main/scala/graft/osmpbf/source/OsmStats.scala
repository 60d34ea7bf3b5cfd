package graft.osmpbf.source

import graft.osmpbf.codec.FrameScanner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reader statistics + dependency resolution (reference A1/A3/F7).
  */
object OsmStats {

  /** Per-blob index statistics as a DataFrame — the analog of the
    * reference's `IndexedReader::statistics()` blob-type histogram +
    * per-blob counts (indexed_reader.rs:261-279). Frame scans read only
    * frame lengths (no payload), and run ON EXECUTORS (one task per file) —
    * a driver-side loop over a 100-TB directory would serialize hours of
    * seeks before the first real task. */
  def blobStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val confS = new graft.util.SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val paths = OsmPbfSource.resolvePaths(path, confS.value)
    val blobs = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 2048)))
      .flatMap(p => FrameScanner.scan(p, confS.value).blobs)
      .map(b => (b.path, b.blobType, b.headerOffset, b.dataSize.toLong,
        b.nodeCount, b.wayCount, b.relationCount, b.changesetCount, b.minId, b.maxId))
    blobs
      .toDF("path", "blob_type", "offset", "data_size",
        "node_count", "way_count", "relation_count", "changeset_count", "min_id", "max_id")
      // unknown stats (foreign files / header blobs) surface as NULL, not -1
      .withColumn("node_count", when(col("node_count") >= 0, col("node_count")))
      .withColumn("way_count", when(col("way_count") >= 0, col("way_count")))
      .withColumn("relation_count", when(col("relation_count") >= 0, col("relation_count")))
      .withColumn("changeset_count", when(col("changeset_count") >= 0, col("changeset_count")))
      .withColumn("min_id", when(col("min_id") =!= Long.MinValue, col("min_id")))
      .withColumn("max_id", when(col("max_id") =!= Long.MaxValue, col("max_id")))
  }

  /** One-pass sidecar stats builder for FOREIGN .osm.pbf files (files whose
    * writer embedded no per-blob indexdata — planet dumps, osmium output).
    * Without stats, F5 count pruning and S9 row statistics degrade to
    * conservative include-all (reference-analog indexed_reader.rs:282-300).
    * This pass runs a task per file on executors, decodes each uncounted
    * data blob with tag/info resolution OFF (counts + id zone map only),
    * and writes `<file>.graft-stats.json` atomically next to the data;
    * `FrameScanner.scan` merges the sidecar on every later read, so
    * pushdown and statistics behave as if the writer had embedded stats.
    * The sidecar records the pbf's file size — a rewritten file silently
    * invalidates it. Returns one summary row per file. */
  def buildBlobStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val confS = new graft.util.SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val paths = OsmPbfSource.resolvePaths(path, confS.value)
    // Stage 1 — frame scan per file (lengths only, cheap) on executors.
    // Stage 2 — counting decode per BLOB, repartitioned: the canonical
    // foreign input is ONE multi-GB planet file, so file-granular tasks
    // would put the whole decode on one core; blob-granular tasks spread
    // it across the cluster. Stage 3 — one reducer per file assembles and
    // writes its sidecar (entries are ~100 B each; the raw payloads
    // never move). The driver only ever holds the per-file summary.
    val sc = spark.sparkContext
    val scanned = sc.parallelize(paths, math.max(1, math.min(paths.size, 2048)))
      .map { p =>
        val res = FrameScanner.scan(p, confS.value)
        val missing = res.blobs.filter(b => b.blobType == "OSMData" && b.nodeCount < 0)
        (p, res.fileSize, res.blobs.size, missing)
      }
    scanned.cache()
    val nMissing = scanned.map(_._4.size).fold(0)(_ + _)
    val summary =
      if (nMissing == 0)
        scanned.map { case (p, _, total, _) => (p, 0, total, false) }.collect().toSeq
      else {
        val entries = scanned
          .flatMap { case (p, _, _, missing) => missing }
          .repartition(math.max(1, math.min(nMissing, 2048)))
          .map { ptr =>
            val conf = confS.value
            val payload = FrameScanner.readBlobPayload(ptr, conf)
            val raw = graft.osmpbf.codec.PbfCodec.decodeBlobPayload(payload, 0, payload.length)
            var n, w, r, c = 0L
            var lo = Long.MaxValue
            var hi = Long.MinValue
            def fold(id: Long): Unit = { if (id < lo) lo = id; if (id > hi) hi = id }
            val h = new graft.osmpbf.codec.PbfCodec.ElementHandler {
              def onNode(id: Long, latNd: Long, lonNd: Long, lat: Double, lon: Double,
                  tagK: Array[String], tagV: Array[String],
                  info: graft.osmpbf.codec.PbfCodec.InfoData): Unit = { n += 1; fold(id) }
              def onWay(id: Long, refs: Array[Long], tagK: Array[String], tagV: Array[String],
                  info: graft.osmpbf.codec.PbfCodec.InfoData): Unit = { w += 1; fold(id) }
              def onRelation(id: Long, memids: Array[Long], roles: Array[String],
                  types: Array[Byte], tagK: Array[String], tagV: Array[String],
                  info: graft.osmpbf.codec.PbfCodec.InfoData): Unit = { r += 1; fold(id) }
              def onChangeSet(id: Long, tagK: Array[String], tagV: Array[String]): Unit = {
                c += 1; fold(id)
              }
            }
            graft.osmpbf.codec.PbfCodec.decodeBlock(raw, h,
              graft.osmpbf.codec.PbfCodec.KindAll, wantTags = false, wantInfo = false)
            val any = n + w + r + c > 0
            (ptr.path, FrameScanner.SidecarBlob(ptr.headerOffset, n, w, r, c,
              Option.when(any)(lo), Option.when(any)(hi)))
          }
        val sizes = scanned.map { case (p, sz, _, _) => (p, sz) }
        val written = entries.groupByKey(math.max(1, math.min(paths.size, 2048)))
          .join(sizes)
          .map { case (p, (es, fileSize)) =>
            val attempt = Option(org.apache.spark.TaskContext.get())
              .map(_.taskAttemptId()).getOrElse(0L)
            FrameScanner.writeSidecar(p, fileSize, es.toSeq, confS.value, attempt)
            (p, es.size)
          }.collect().toMap
        scanned.map { case (p, _, total, missing) => (p, missing.size, total, missing.nonEmpty) }
          .collect().toSeq
          .map { case (p, counted, total, wrote) =>
            (p, written.getOrElse(p, counted), total, wrote) }
      }
    scanned.unpersist(blocking = false)
    summary.toDF("path", "blobs_counted", "blobs_total", "sidecar_written")
  }

  /** ProcessingStats analog (reader.rs:44-52) in one scan. */
  def processingStats(spark: SparkSession, path: String): DataFrame =
    OsmPbf.raw(spark, path)
      .agg(count(lit(1)).as("elements_processed"),
        sum(when(col("kind") === "node", 1L).otherwise(0L)).as("nodes"),
        sum(when(col("kind") === "way", 1L).otherwise(0L)).as("ways"),
        sum(when(col("kind") === "relation", 1L).otherwise(0L)).as("relations"),
        sum(when(col("kind") === "changeset", 1L).otherwise(0L)).as("changesets"))

  /** Dependency resolution (F7 — `ways_only(resolve_deps = true)`,
    * indexed_reader.rs:81-90): the nodes referenced by any way, as a
    * distributed semi-join (never a driver-side set). */
  def nodesReferencedByWays(spark: SparkSession, path: String): DataFrame = {
    val nodes = OsmPbf.nodes(spark, path).toDF()
    val refs = OsmPbf.ways(spark, path).toDF()
      .select(explode(col("refs")).as("id"))
    nodes.join(refs, Seq("id"), "left_semi")
  }
}
