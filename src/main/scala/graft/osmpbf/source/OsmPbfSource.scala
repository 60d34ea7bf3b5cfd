package graft.osmpbf.source

import graft.osmpbf.codec.{FrameScanner, PbfCodec, PbfParseException}
import graft.osmpbf.model.BlobPointer

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** DataSourceV2 for .osm.pbf files: `spark.read.format("osmpbf").load(path)`.
  *
  * Split planning is the Spark re-grounding of the reference's
  * `IndexedReader::build_index` + filtered stream (indexed_reader.rs:138-176,
  * :328-339): the driver scans only frame lengths (seeking over payloads),
  * then packs blob pointers into input partitions sized from the data
  * ([[OsmPbfScan.splits]]); executors pread and decode their blobs
  * independently (delta chains never cross a blob boundary — dense_nodes.rs
  * semantics — so decode is embarrassingly parallel, SURVEY.md §1.2).
  *
  * Pushdown:
  *   - `kind = ...` equality filters prune whole blobs via the
  *     writer-embedded per-blob element counts (the reference's intended F5
  *     pushdown, with the counts actually populated) and skip decode of
  *     unneeded PrimitiveGroups inside surviving blobs.
  *   - `id` range filters prune blobs via per-blob (minId,maxId) zone maps —
  *     the analog of `find_blobs_for_id_range` (indexed_reader.rs:282-300).
  *   - column pruning reaches the decoder: tags / info / geometry columns
  *     are only materialized (string-table resolution, info parse) when the
  *     query actually reads them.
  *
  * Options: `path` (a file, directory or glob), `kind`
  * (all|nodes|ways|relations|changesets), `permissive` (skip and count
  * corrupt blobs instead of failing), `withFile` (append a `_file` column)
  * and `fileNamePattern` (a regex every listed file name must match).
  */
class OsmPbfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "osmpbf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OsmPbfSource.schemaFor(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OsmPbfTable(new CaseInsensitiveStringMap(properties))
}

object OsmPbfSource {
  val memberType: StructType = StructType(Seq(
    StructField("memid", LongType, nullable = false),
    StructField("role", StringType),
    StructField("mtype", StringType)))

  val infoType: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("ts", TimestampType),
    StructField("changeset", LongType, nullable = false),
    StructField("uid", IntegerType, nullable = false),
    StructField("user", StringType),
    StructField("visible", BooleanType, nullable = false)))

  /** FIXTURES.md §B logical schema, unified with a `kind` discriminator. */
  val fullSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("lat_nd", LongType),
    StructField("lon_nd", LongType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("refs", ArrayType(LongType, containsNull = false)),
    StructField("members", ArrayType(memberType, containsNull = false)),
    StructField("info", infoType),
    StructField("blob_offset", LongType, nullable = false)))

  /** `withFile=true` appends a `_file` source-path column to the schema —
    * the streaming analog of the batch `_file` METADATA column (metadata
    * columns resolve only through batch DataSourceV2Relation; the
    * micro-batch path needs it in the data schema). OsmReplication uses it
    * to recover osmosis sequence numbers. */
  def schemaFor(options: CaseInsensitiveStringMap): StructType =
    if (Option(options.get("withFile")).exists(_.toBoolean))
      StructType(fullSchema.fields :+ StructField("_file", StringType, nullable = false))
    else fullSchema

  def kindsMaskOf(kind: String): Int = kind.toLowerCase match {
    case "all" => PbfCodec.KindAll
    case "nodes" | "node" => PbfCodec.KindNode
    case "ways" | "way" => PbfCodec.KindWay
    case "relations" | "relation" => PbfCodec.KindRelation
    case "changesets" | "changeset" => PbfCodec.KindChangeSet
    case other => throw new IllegalArgumentException(s"unknown kind option: $other")
  }

  /** For pushed predicate VALUES (vs the explicit `kind` option, where a
    * typo should fail fast): an unrecognized kind string matches no element,
    * so it maps to mask 0 — every blob/group is pruned and Spark's
    * re-evaluated row filter returns the correct empty result instead of
    * planning crashing (round-1 ADVICE). */
  def kindsMaskOfPredicate(kind: String): Int =
    try kindsMaskOf(kind) catch { case _: IllegalArgumentException => 0 }

  /** Expand a path option into concrete .pbf file paths (dir → children). */
  def resolvePaths(pathOpt: String, conf: Configuration): Seq[String] =
    resolvePaths(pathOpt, conf, None)

  /** `namePattern`: an optional regex that must match the ENTIRE file
    * NAME (not the full path; full-match, not substring-find — a
    * substring rule would let `old-000000001.osm.pbf` slip past an
    * unanchored user pattern and recreate the very hazard below). A
    * directory entry or glob match whose name fails the pattern is
    * invisible to the source — critical for the replication stream,
    * whose offset is the lexically-largest path seen: a foreign file
    * (`state.osm.pbf`, a stray backup) admitted into the listing would
    * be committed as the offset and permanently wedge the stream above
    * every zero-padded numeric diff name. Filtering at the listing is
    * the only altitude that protects offsets, partitions, and rows at
    * once. */
  def resolvePaths(pathOpt: String, conf: Configuration,
      namePattern: Option[String]): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(pathOpt)
    val fs = p.getFileSystem(conf)
    val stat = fs.globStatus(p)
    if (stat == null || stat.isEmpty) throw new java.io.FileNotFoundException(pathOpt)
    val re = namePattern.map(_.r) // bad regex fails HERE, at plan time
    def keep(name: String): Boolean = re.forall(_.matches(name))
    var candidates = 0
    val out = stat.toSeq.flatMap { s =>
      if (s.isDirectory)
        fs.listStatus(s.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".pbf"))
          .flatMap { f =>
            candidates += 1
            if (keep(f.getPath.getName)) Some(f.getPath.toString) else None
          }
      else {
        candidates += 1
        if (keep(s.getPath.getName)) Seq(s.getPath.toString) else Nil
      }
    }
    // a pattern rejecting EVERY candidate is almost always a misconfigured
    // regex (e.g. a substring-style pattern written for find semantics) —
    // without this, a batch read silently returns zero rows and a stream
    // never produces a batch. Warned once per (path, pattern) per process,
    // not per trigger.
    if (re.isDefined && candidates > 0 && out.isEmpty &&
        warnedEmptyFilter.add(s"$pathOpt|${namePattern.get}"))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"osmpbf: fileNamePattern '${namePattern.get}' rejected all $candidates " +
          s"candidate file(s) under '$pathOpt' — the pattern must match the " +
          "ENTIRE file name; reads will return zero rows until it matches something.")
    out
  }

  private val warnedEmptyFilter =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The `fileNamePattern` option shared by the batch and streaming
    * planners (same listing semantics in both). */
  def fileNamePattern(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("fileNamePattern"))
}

class OsmPbfTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"osmpbf:${options.get("path")}"
  override def schema(): StructType = OsmPbfSource.schemaFor(options)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  // `_file`: source file path (metadata column, select explicitly) — used by
  // OsmReplication to recover the osmosis sequence number of a diff row
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def comment(): String = "source .osm.pbf file path"
    })
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(opts)
    new OsmPbfScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

class OsmPbfScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = OsmPbfSource.schemaFor(options)
  private var pushed: Array[Filter] = Array.empty
  private var kindsMask: Int = OsmPbfSource.kindsMaskOf(Option(options.get("kind")).getOrElse("all"))
  private var idMin: Long = Long.MinValue
  private var idMax: Long = Long.MaxValue

  override def pruneColumns(schema: StructType): Unit = requiredSchema = schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = mutable.ArrayBuffer.empty[Filter]
    filters.foreach {
      case f @ EqualTo("kind", v: String) =>
        kindsMask &= OsmPbfSource.kindsMaskOfPredicate(v)
        accepted += f
      case f @ In("kind", vs) =>
        kindsMask &= vs.collect { case s: String => OsmPbfSource.kindsMaskOfPredicate(s) }
          .foldLeft(0)(_ | _)
        accepted += f
      case f @ GreaterThan("id", v: Long) => idMin = math.max(idMin, v + 1); accepted += f
      case f @ GreaterThanOrEqual("id", v: Long) => idMin = math.max(idMin, v); accepted += f
      case f @ LessThan("id", v: Long) => idMax = math.min(idMax, v - 1); accepted += f
      case f @ LessThanOrEqual("id", v: Long) => idMax = math.min(idMax, v); accepted += f
      // point lookups — the most common shape — prune by the same zone map
      case f @ EqualTo("id", v: Long) =>
        idMin = math.max(idMin, v); idMax = math.min(idMax, v); accepted += f
      case f @ In("id", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
        val ls = vs.map(_.asInstanceOf[Long])
        idMin = math.max(idMin, ls.min); idMax = math.min(idMax, ls.max); accepted += f
      case _ => ()
    }
    pushed = accepted.toArray
    // all accepted filters are also re-evaluated by Spark (we only use them
    // to prune blobs / decode work, not as exact row filters for id ranges)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new OsmPbfScan(options, requiredSchema, kindsMask, idMin, idMax)
}

class OsmPbfScan(options: CaseInsensitiveStringMap, requiredSchema: StructType,
    kindsMask: Int, idMin: Long, idMax: Long) extends Scan with Batch
    with SupportsReportStatistics {

  // Resolved once on the driver at planning time and shipped to executors:
  // the SESSION's Hadoop conf, not `new Configuration()` — otherwise
  // S3/HDFS credentials and endpoint settings silently vanish on a cluster.
  private val confS = new graft.util.SerializableHadoopConf(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
  private val permissive = Option(options.get("permissive")).exists(_.toBoolean)

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"osmpbf kinds=$kindsMask idRange=[$idMin,$idMax] cols=${requiredSchema.fieldNames.mkString(",")}"

  // Blob index after pushdown pruning, built once (lazily) on the driver and
  // shared by partition planning AND statistics reporting — the stats must
  // not cost a second index scan.
  private lazy val scannedPointers: Seq[BlobPointer] = {
    val paths = OsmPbfSource.resolvePaths(options.get("path"), confS.value,
      OsmPbfSource.fileNamePattern(options))
    OsmPbfScan.scanPointers(paths, confS,
      org.apache.spark.sql.SparkSession.active.sparkContext,
      kindsMask, idMin, idMax)
  }

  override def planInputPartitions(): Array[InputPartition] =
    OsmPbfScan.splits(scannedPointers, org.apache.spark.sql.SparkSession.active)

  /** Post-pushdown size/row statistics from the blob index, so Catalyst can
    * auto-broadcast a small (or heavily pruned) PBF side of a join — the
    * reference analog is the BlobIndex byte/count stats
    * (indexed_reader.rs:261-279). Row counts come from the writer-embedded
    * per-blob element counts when present; size is the compressed payload
    * bytes times a conservative decode-expansion factor, so a table only
    * broadcasts when it is safely under the threshold. */
  override def estimateStatistics(): Statistics = {
    val ptrs = scannedPointers
    val compressedBytes = ptrs.map(_.dataSize.toLong).sum
    val allCounted = ptrs.forall(_.nodeCount >= 0)
    val rows: java.util.OptionalLong =
      if (allCounted) {
        var n = 0L
        ptrs.foreach { p =>
          if ((kindsMask & PbfCodec.KindNode) != 0) n += p.nodeCount
          if ((kindsMask & PbfCodec.KindWay) != 0) n += p.wayCount
          if ((kindsMask & PbfCodec.KindRelation) != 0) n += p.relationCount
          if ((kindsMask & PbfCodec.KindChangeSet) != 0) n += p.changesetCount
        }
        java.util.OptionalLong.of(n)
      } else java.util.OptionalLong.empty()
    new Statistics {
      // zlib on OSM PBF runs ~2x; decoded rows (boxed tags/refs) cost more —
      // 4x keeps the broadcast decision conservative
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(compressedBytes * 4)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new OsmPbfMicroBatchStream(options, requiredSchema, kindsMask, idMin, idMax,
      confS, permissive)

  // without this registration Spark drops every value the readers report
  // through currentMetricsValues (names are matched against the map built
  // from supportedCustomMetrics) — the permissive-mode skip counter the
  // class doc tells users to watch would be silently invisible
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new DecodeErrorsMetric)

  override def createReaderFactory(): PartitionReaderFactory =
    new OsmPbfReaderFactory(requiredSchema, kindsMask, confS, permissive)
}

/** Sum-aggregated task metric: corrupt blobs skipped under permissive mode. */
class DecodeErrorsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "decodeErrors"
  override def description(): String = "corrupt blobs skipped (permissive mode)"
}

object OsmPbfScan {
  /** Frame scans of at least this many files run on executors. */
  private val DistributedScanFiles = 4

  /** The batch and micro-batch split rule: blobs in file order, cut at
    * the payload offsets k·target, target = min(ceil(payload bytes /
    * leaf-scan parallelism p), `spark.sql.files.maxPartitionBytes`). A
    * split holds the blobs that start in its window, so there are at most
    * p splits and a split passes target by at most one blob (delta chains
    * never cross a blob boundary, so any grouping is decode-safe; file
    * order keeps reads sequential per split). */
  def splits(ptrs: Seq[BlobPointer],
      spark: org.apache.spark.sql.SparkSession): Array[InputPartition] = {
    val conf = spark.sessionState.conf
    val p = conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val blobs = ptrs.toArray
    val starts = blobs.scanLeft(0L)(_ + _.dataSize)
    val target = math.max(1L, math.min((starts.last + p - 1) / p, conf.filesMaxPartitionBytes))
    val cuts = blobs.indices.filter(i => i > 0 && starts(i) / target != starts(i - 1) / target)
    if (blobs.isEmpty) Array.empty
    else (0 +: cuts).zip(cuts :+ blobs.length)
      .map { case (from, until) => OsmPbfPartition(blobs.slice(from, until)): InputPartition }
      .toArray
  }

  /** Pushdown-pruned blob index over `paths` — THE shared scan for the batch
    * and streaming planners (one implementation so sort order and the
    * distribution rule cannot drift between them). Driver-side below
    * [[DistributedScanFiles]] files; at or above it the frame scan
    * distributes over executors (one seek per blob across a 100-TB
    * directory is hours of driver time) and only the small pointer lists
    * are collected. `sc` is by-name: the driver-side branch never touches a
    * SparkContext. */
  def scanPointers(paths: Seq[String], confS: graft.util.SerializableHadoopConf,
      sc: => org.apache.spark.SparkContext, kindsMask: Int, idMin: Long,
      idMax: Long): Seq[BlobPointer] =
    if (paths.size >= DistributedScanFiles) {
      // capture only primitives + the serializable conf — never a Scan/Stream
      val cs = confS
      val (km, lo, hi) = (kindsMask, idMin, idMax)
      sc.parallelize(paths, math.min(paths.size, 2048))
        .flatMap(p => FrameScanner.scan(p, cs.value).blobs
          .filter(b => keepBlob(b, km, lo, hi)))
        .collect().toSeq
        .sortBy(p => (p.path, p.headerOffset))
    } else {
      val conf = confS.value
      paths.flatMap(p => FrameScanner.scan(p, conf).blobs
        .filter(b => keepBlob(b, kindsMask, idMin, idMax)))
    }

  /** Blob-level pushdown: kind counts + id zone maps (reference F5 fixed).
    * Static so the distributed index scan can ship it without capturing the
    * (non-serializable) Scan instance. */
  def keepBlob(ptr: BlobPointer, kindsMask: Int, idMin: Long, idMax: Long): Boolean = {
    if (ptr.blobType != "OSMData") return false
    val countsKnown = ptr.nodeCount >= 0
    if (countsKnown) {
      var relevant = 0L
      if ((kindsMask & PbfCodec.KindNode) != 0) relevant += ptr.nodeCount
      if ((kindsMask & PbfCodec.KindWay) != 0) relevant += ptr.wayCount
      if ((kindsMask & PbfCodec.KindRelation) != 0) relevant += ptr.relationCount
      if ((kindsMask & PbfCodec.KindChangeSet) != 0) relevant += ptr.changesetCount
      if (relevant == 0) return false
    }
    // id zone map: unknown ranges conservatively included
    // (indexed_reader.rs:282-300 overlap semantics)
    if (idMin != Long.MinValue || idMax != Long.MaxValue) {
      if (ptr.minId != Long.MinValue || ptr.maxId != Long.MaxValue) {
        if (ptr.maxId < idMin || ptr.minId > idMax) return false
      }
    }
    true
  }
}

case class OsmPbfPartition(blobs: Array[BlobPointer]) extends InputPartition

/** Stream offset = the lexically-largest file path already processed.
  * Osmosis replication names diffs by zero-padded sequence number
  * (000000001.osm.pbf, …, header_block.rs:33-71 replication_sequence), so
  * lexical order IS sequence order and a single string is a complete,
  * restart-safe offset. */
case class OsmPbfOffset(
    @com.fasterxml.jackson.annotation.JsonProperty("lastFile") lastFile: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = graft.util.Json.write(this)
}

object OsmPbfOffset {
  def fromJson(json: String): OsmPbfOffset =
    scala.util.Try(graft.util.Json.read[OsmPbfOffset](json)).toOption.filter(_.lastFile != null)
      .getOrElse(throw new IllegalArgumentException(s"bad osmpbf offset: $json"))
}

/** Micro-batch streaming read: `spark.readStream.format("osmpbf").load(dir)`
  * tails a directory of replication .osm.pbf files — the Spark re-grounding
  * of the reference's osmosis replication-stream model (header fields
  * replication_sequence/timestamp/base_url, header_block.rs:33-71). Each
  * trigger processes the files that appeared since the last committed
  * offset; with checkpointing the stream resumes mid-sequence after a crash.
  * Requires diff files to arrive with lexically increasing names (the
  * osmosis convention); a file sorting BELOW the committed offset is never
  * picked up, matching osmosis semantics where sequence numbers only grow.
  */
class OsmPbfMicroBatchStream(options: CaseInsensitiveStringMap,
    requiredSchema: StructType, kindsMask: Int, idMin: Long, idMax: Long,
    confS: graft.util.SerializableHadoopConf, permissive: Boolean)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // captured at construction (driver-side, session guaranteed active) — the
  // backlog scan and split sizing below run on the stream-execution thread,
  // where relying on SparkSession.active would couple correctness to which
  // thread Spark happens to plan micro-batches on
  private val spark = org.apache.spark.sql.SparkSession.active

  private val namePatternRe = OsmPbfSource.fileNamePattern(options).map(_.r)
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def listFiles(): Seq[String] =
    try OsmPbfSource.resolvePaths(options.get("path"), confS.value,
      OsmPbfSource.fileNamePattern(options)).sorted
    catch { case _: java.io.FileNotFoundException => Nil } // dir not created yet

  // The largest offset this stream has SEEN — committed (the start offset
  // Spark hands the admission-control latestOffset, or deserializeOffset
  // on resume) or listed. latestOffset never returns below it: with a
  // transiently-empty filtered listing (files deleted, or a pattern edit
  // matching nothing) a bare listing-max would regress the offset to "",
  // commit it through an empty batch, and the eventual recovery would
  // re-admit EVERY previously-processed file (`p > ""`) — a full silent
  // replay into possibly non-idempotent sinks. The ratchet MUST be fed the
  // committed start per batch, which only the SupportsAdmissionControl
  // latestOffset(start, limit) overload receives: on restart Spark calls
  // the no-arg latestOffset()/prepareForTriggerAvailableNow BEFORE it ever
  // deserializes the checkpointed offset (MicroBatchExecution plans the
  // logical plan first), so seeding from deserializeOffset alone leaves
  // the first post-restart trigger unprotected.
  @volatile private var maxSeenOffset: String = ""
  private def noteSeen(lastFile: String): Unit =
    if (lastFile > maxSeenOffset) maxSeenOffset = lastFile

  override def initialOffset(): Offset = OsmPbfOffset("")

  // Trigger.AvailableNow: the run's end bound is the listing AT PREPARE
  // TIME (files arriving mid-run wait for the next run — standard
  // semantics). Implemented directly (not via Spark's wrapper) because the
  // wrapper captures the PLAIN latestOffset() before offsets are restored
  // and would pin a regressed "" bound for the whole run.
  /** Lexical max of the filtered listing, "" if none — the one definition
    * shared by the AvailableNow bound, the per-batch ratchet, and the
    * plain path (divergence here would split the bound from the ratchet). */
  private def listingMax(): String = {
    val fs = listFiles()
    if (fs.isEmpty) "" else fs.last
  }

  @volatile private var availableNowBound: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(listingMax())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    noteSeen(start.asInstanceOf[OsmPbfOffset].lastFile) // the ratchet seed
    noteSeen(availableNowBound.getOrElse(listingMax()))
    OsmPbfOffset(maxSeenOffset)
  }

  // StreamingQueryProgress.sources[].latestOffset reads THIS on the
  // admission-control path (the interface default is null, which would
  // blind backlog/lag monitoring that the plain path used to feed).
  override def reportLatestOffset(): Offset = OsmPbfOffset(maxSeenOffset)

  // Plain-MicroBatchStream path; unused once SupportsAdmissionControl is
  // detected, kept for interface completeness with the same ratchet.
  override def latestOffset(): Offset = {
    noteSeen(listingMax())
    OsmPbfOffset(maxSeenOffset)
  }

  @volatile private var warnedForeignOffset = false
  override def deserializeOffset(json: String): Offset = {
    val off = OsmPbfOffset.fromJson(json)
    // A committed offset whose NAME fails the active fileNamePattern comes
    // from a checkpoint written before the pattern existed (or with a
    // different one) — e.g. a foreign `state.osm.pbf` committed as the
    // lexical-max offset pre-filter. The source cannot rewrite a committed
    // offset (exactly-once would be voided for non-idempotent sinks), but
    // it must not be silent: files sorting below it are not picked up
    // while it remains the committed offset. Checked here — the one place
    // a checkpointed offset re-enters the stream — and latched, so a
    // triggering stream warns once, not once per micro-batch.
    namePatternRe.foreach { r =>
      if (!warnedForeignOffset && off.lastFile.nonEmpty &&
          !r.matches(new org.apache.hadoop.fs.Path(off.lastFile).getName)) {
        warnedForeignOffset = true
        log.warn(s"osmpbf stream: committed offset '${off.lastFile}' does not " +
          s"match fileNamePattern '${r.regex}' — it predates the pattern; " +
          "files sorting below it will not be picked up while it remains the " +
          "committed offset. Recover by restarting with a fresh " +
          "checkpointLocation (applyDiffs-style merges are idempotent under replay).")
      }
    }
    noteSeen(off.lastFile)
    off
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[OsmPbfOffset].lastFile
    val hi = end.asInstanceOf[OsmPbfOffset].lastFile
    val files = listFiles().filter(p => p > lo && p <= hi)
    // Shared scan with the batch planner: a stream started against a large
    // BACKLOG (thousands of queued diff files) distributes the frame scan
    // over executors instead of stalling the first trigger for hours on
    // driver-side seeks; steady-state triggers see a handful of new files
    // and stay driver-side.
    OsmPbfScan.splits(OsmPbfScan.scanPointers(files, confS, spark.sparkContext,
      kindsMask, idMin, idMax), spark)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OsmPbfReaderFactory(requiredSchema, kindsMask, confS, permissive)

  override def commit(end: Offset): Unit = () // offsets live in the checkpoint log
  override def stop(): Unit = ()
}

class OsmPbfReaderFactory(requiredSchema: StructType, kindsMask: Int,
    confS: graft.util.SerializableHadoopConf, permissive: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OsmPbfPartitionReader(partition.asInstanceOf[OsmPbfPartition], requiredSchema,
      kindsMask, confS, permissive)
}

/** Decodes a run of blobs into InternalRows. One blob is decoded at a time
  * (≤32 MiB uncompressed by spec), bounding memory, over ONE input stream
  * per file (blobs arrive packed in file order; an open/close per blob is
  * death by round-trips on object stores). A corrupt blob FAILS the task by
  * default — silent data loss is worse than a retry; `permissive=true` opts
  * into skip-and-count, surfaced via the `decodeErrors` task metric
  * (reference reader.rs:113-119 fault tolerance).
  */
class OsmPbfPartitionReader(partition: OsmPbfPartition, requiredSchema: StructType,
    kindsMask: Int, confS: graft.util.SerializableHadoopConf, permissive: Boolean)
    extends PartitionReader[InternalRow] {

  private val conf = confS.value
  private val fieldNames = requiredSchema.fieldNames
  private def fieldIndex(name: String): Option[Int] = {
    val i = fieldNames.indexOf(name)
    if (i < 0) None else Some(i)
  }
  private val wantTags = fieldNames.contains("tags")
  private val wantInfo = fieldNames.contains("info")
  // column positions in the required schema (-1 = absent)
  private val posKind = fieldIndex("kind").getOrElse(-1)
  private val posId = fieldIndex("id").getOrElse(-1)
  private val posLatNd = fieldIndex("lat_nd").getOrElse(-1)
  private val posLonNd = fieldIndex("lon_nd").getOrElse(-1)
  private val posLat = fieldIndex("lat").getOrElse(-1)
  private val posLon = fieldIndex("lon").getOrElse(-1)
  private val posTags = fieldIndex("tags").getOrElse(-1)
  private val posRefs = fieldIndex("refs").getOrElse(-1)
  private val posMembers = fieldIndex("members").getOrElse(-1)
  private val posInfo = fieldIndex("info").getOrElse(-1)
  private val posBlobOffset = fieldIndex("blob_offset").getOrElse(-1)
  private val posFile = fieldIndex("_file").getOrElse(-1) // metadata column
  private val nFields = requiredSchema.length
  // nested schema pruning (spark.sql.optimizer.nestedSchemaPruning) can hand
  // us `info`/`members` structs with a SUBSET of fields in any order — rows
  // must follow the pruned shape, not the full one
  private val infoFields: Array[String] =
    if (posInfo < 0) Array.empty
    else requiredSchema(posInfo).dataType.asInstanceOf[StructType].fieldNames
  private val memberFields: Array[String] =
    if (posMembers < 0) Array.empty
    else requiredSchema(posMembers).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames

  private val kindNode = UTF8String.fromString("node")
  private val kindWay = UTF8String.fromString("way")
  private val kindRelation = UTF8String.fromString("relation")
  private val kindChangeset = UTF8String.fromString("changeset")

  private var blobIdx = 0
  private var rows: mutable.ArrayBuffer[InternalRow] = mutable.ArrayBuffer.empty
  private var rowIdx = 0
  private var current: InternalRow = _
  var decodeErrors = 0L

  // one stream per file, reused across this partition's blobs (positioned
  // preads — no seek state, safe with the task's single thread)
  private var openPath: String = _
  private var openIn: org.apache.hadoop.fs.FSDataInputStream = _

  private def readPayload(ptr: BlobPointer): Array[Byte] = {
    if (openPath != ptr.path) {
      if (openIn != null) openIn.close()
      val p = new org.apache.hadoop.fs.Path(ptr.path)
      openIn = p.getFileSystem(conf).open(p)
      openPath = ptr.path
    }
    val buf = new Array[Byte](ptr.dataSize)
    openIn.readFully(ptr.dataOffset, buf)
    buf
  }

  private final class RowHandler(blobOffset: Long, file: UTF8String) extends PbfCodec.ElementHandler {
    private def baseRow(kind: UTF8String, id: Long): GenericInternalRow = {
      val r = new GenericInternalRow(nFields)
      if (posKind >= 0) r.update(posKind, kind)
      if (posId >= 0) r.setLong(posId, id)
      if (posBlobOffset >= 0) r.setLong(posBlobOffset, blobOffset)
      if (posFile >= 0) r.update(posFile, file)
      r
    }

    private def tagsData(tagK: Array[String], tagV: Array[String]): ArrayBasedMapData = {
      val k = new Array[Any](tagK.length)
      val v = new Array[Any](tagK.length)
      var i = 0
      while (i < tagK.length) {
        k(i) = UTF8String.fromString(tagK(i)); v(i) = UTF8String.fromString(tagV(i)); i += 1
      }
      new ArrayBasedMapData(new GenericArrayData(k), new GenericArrayData(v))
    }

    private def infoRow(info: PbfCodec.InfoData): InternalRow = {
      if (info == null) null
      else {
        val r = new GenericInternalRow(infoFields.length)
        var i = 0
        while (i < infoFields.length) {
          infoFields(i) match {
            case "version" => r.setInt(i, info.version)
            case "ts" => // TimestampType = micros; omitted timestamp = NULL,
              // never a fabricated 1970 epoch (`ts IS NULL` must match)
              if (info.tsSeen) r.setLong(i, info.tsMillis * 1000L) else r.setNullAt(i)
            case "changeset" => r.setLong(i, info.changeset)
            case "uid" => r.setInt(i, info.uid)
            case "user" => r.update(i, UTF8String.fromString(info.user))
            case "visible" => r.setBoolean(i, info.visible)
            case other => throw new IllegalStateException(s"unknown info field $other")
          }
          i += 1
        }
        r
      }
    }

    override def onNode(id: Long, latNd: Long, lonNd: Long, lat: Double, lon: Double,
        tagK: Array[String], tagV: Array[String], info: PbfCodec.InfoData): Unit = {
      val r = baseRow(kindNode, id)
      if (posLatNd >= 0) r.setLong(posLatNd, latNd)
      if (posLonNd >= 0) r.setLong(posLonNd, lonNd)
      if (posLat >= 0) r.setDouble(posLat, lat)
      if (posLon >= 0) r.setDouble(posLon, lon)
      if (posTags >= 0) r.update(posTags, tagsData(tagK, tagV))
      if (posInfo >= 0) r.update(posInfo, infoRow(info))
      rows += r
    }

    override def onWay(id: Long, refs: Array[Long],
        tagK: Array[String], tagV: Array[String], info: PbfCodec.InfoData): Unit = {
      val r = baseRow(kindWay, id)
      if (posRefs >= 0) r.update(posRefs, new GenericArrayData(refs))
      if (posTags >= 0) r.update(posTags, tagsData(tagK, tagV))
      if (posInfo >= 0) r.update(posInfo, infoRow(info))
      rows += r
    }

    override def onRelation(id: Long, memids: Array[Long], roles: Array[String], types: Array[Byte],
        tagK: Array[String], tagV: Array[String], info: PbfCodec.InfoData): Unit = {
      val r = baseRow(kindRelation, id)
      if (posMembers >= 0) {
        val ms = new Array[Any](memids.length)
        var i = 0
        while (i < memids.length) {
          val m = new GenericInternalRow(memberFields.length)
          var j = 0
          while (j < memberFields.length) {
            memberFields(j) match {
              case "memid" => m.setLong(j, memids(i))
              case "role" => m.update(j, UTF8String.fromString(roles(i)))
              case "mtype" => m.update(j, UTF8String.fromString(PbfCodec.memberTypeName(types(i).toInt)))
              case other => throw new IllegalStateException(s"unknown member field $other")
            }
            j += 1
          }
          ms(i) = m
          i += 1
        }
        r.update(posMembers, new GenericArrayData(ms))
      }
      if (posTags >= 0) r.update(posTags, tagsData(tagK, tagV))
      if (posInfo >= 0) r.update(posInfo, infoRow(info))
      rows += r
    }

    override def onChangeSet(id: Long, tagK: Array[String], tagV: Array[String]): Unit = {
      val r = baseRow(kindChangeset, id)
      if (posTags >= 0) r.update(posTags, tagsData(tagK, tagV))
      rows += r
    }
  }

  override def next(): Boolean = {
    while (rowIdx >= rows.length) {
      if (blobIdx >= partition.blobs.length) return false
      val ptr = partition.blobs(blobIdx)
      blobIdx += 1
      rows = mutable.ArrayBuffer.empty
      rowIdx = 0
      // the I/O read sits OUTSIDE the permissive net: a transient storage
      // error (S3 socket reset, throttling) on a perfectly healthy blob
      // must FAIL the task so Spark retries it — swallowing it as a
      // "decode error" would turn a retryable fault into permanent silent
      // data loss
      val payload = readPayload(ptr)
      try {
        val block = PbfCodec.decodeBlobPayload(payload, 0, payload.length)
        PbfCodec.decodeBlock(block,
          new RowHandler(ptr.headerOffset,
            if (posFile >= 0) UTF8String.fromString(ptr.path) else null),
          kindsMask, wantTags, wantInfo)
      } catch {
        // only CONTENT failures are skippable: the typed parse error plus
        // the runtime errors hostile/garbage bytes can still trigger in
        // the decode path — never IOException (the codec never throws it)
        case e @ (_: PbfParseException | _: ArrayIndexOutOfBoundsException |
                  _: NegativeArraySizeException | _: IndexOutOfBoundsException)
            if permissive =>
          // the handler may have appended rows before the failure —
          // skip-and-count means the WHOLE blob is skipped, never a
          // partial (possibly garbage-decoded) prefix emitted as data
          rows.clear()
          decodeErrors += 1
        case e: Exception =>
          throw new java.io.IOException(
            s"osmpbf: failed to decode blob at ${ptr.path} offset ${ptr.headerOffset} " +
              "(set option permissive=true to skip corrupt blobs and count them " +
              "in the decodeErrors task metric)", e)
      }
    }
    current = rows(rowIdx)
    rowIdx += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (openIn != null) { openIn.close(); openIn = null }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "decodeErrors"
      override def value(): Long = decodeErrors
    })
}
