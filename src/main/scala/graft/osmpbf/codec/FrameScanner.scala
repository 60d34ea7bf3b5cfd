package graft.osmpbf.codec

import graft.osmpbf.model.{BlobPointer, HeaderMeta}
import graft.util.{HadoopIO, Json}

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.{DataInputStream, EOFException}

/** Blob-frame index builder — the Spark analog of the reference's
  * `IndexedReader::build_index` (indexed_reader.rs:138-176): one cheap
  * sequential pass over frame *lengths* (payloads are seeked over, not
  * read), producing per-blob pointers the planner turns into input splits.
  *
  * Framing accepted:
  *   - standard OSMPBF: `u32_be(len(BlobHeader)) ++ BlobHeader ++ Blob[datasize]`
  *   - reference-style degenerate frames `u32_be(blob_size) ++ blob` whose
  *     body is not a parseable BlobHeader (e.g. the reference's own unit
  *     fixture of 100 zero bytes, mmap_blob.rs:494-516) are indexed as
  *     `Unknown` blobs and skipped by decode — matching the reference's
  *     tolerance of unknown blob types.
  *
  * Trailing garbage after the last full frame is tolerated with a warning,
  * per indexed_reader.rs:167-171.
  *
  * Unlike the reference (which never populates per-blob element counts —
  * indexed_reader.rs:150-151 — so its count-based pushdown at :328-339
  * would skip every data blob), we read optional writer-embedded
  * `indexdata` stats so blob-level pushdown is real (F5, SURVEY.md §2.2).
  */
object FrameScanner {

  /** indexdata stats message (our extension, embedded in BlobHeader field 2):
    * 1:nodes 2:ways 3:relations 4:changesets (varint), 5:minId 6:maxId (sint).
    */
  final case class BlobStats(nodes: Long, ways: Long, relations: Long,
      changesets: Long, minId: Long, maxId: Long)

  def parseStats(buf: Array[Byte]): Option[BlobStats] = try {
    val r = new ProtoReader(buf, 0, buf.length)
    var n, w, rel, cs = 0L
    var minId = Long.MinValue
    var maxId = Long.MaxValue
    var sawCount = false
    var t = r.readTag()
    while (t != 0) {
      (t >> 3) match {
        case 1 => n = r.readVarint(); sawCount = true
        case 2 => w = r.readVarint(); sawCount = true
        case 3 => rel = r.readVarint(); sawCount = true
        case 4 => cs = r.readVarint(); sawCount = true
        case 5 => minId = r.readSint()
        case 6 => maxId = r.readSint()
        case _ => r.skip(t & 7)
      }
      t = r.readTag()
    }
    // The OSMPBF spec declares `optional bytes indexdata` with UNSPECIFIED
    // contents — a foreign writer's bytes that happen to parse but carry
    // none of our count fields (e.g. an empty buffer: zero tags) must NOT
    // be trusted as "this blob provably holds zero elements", or keepBlob
    // silently prunes every such blob (total data loss with no error).
    // Same for counts that decode negative (malformed varints): poison.
    if (!sawCount || n < 0 || w < 0 || rel < 0 || cs < 0) None
    else Some(BlobStats(n, w, rel, cs, minId, maxId))
  } catch { case _: Exception => None }

  final case class ScanResult(header: Option[HeaderMeta], blobs: Vector[BlobPointer],
      fileSize: Long, truncatedTail: Boolean)

  /** Sidecar stats file for a FOREIGN .osm.pbf (one whose writer embedded
    * no indexdata): written by `OsmStats.buildBlobStats`, merged into every
    * later scan so blob pushdown (F5) and scan statistics (S9) work on
    * third-party files too. Guarded by the recorded file size — a rewritten
    * pbf invalidates its sidecar. */
  def sidecarPath(pathStr: String): String = pathStr + ".graft-stats.json"

  /** One blob's sidecar entry, keyed by its header offset; a blob with no
    * elements has no id range. */
  final case class SidecarBlob(offset: Long, nodes: Long, ways: Long, relations: Long,
      changesets: Long,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) minId: Option[Long],
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) maxId: Option[Long]) {
    def stats: BlobStats = BlobStats(nodes, ways, relations, changesets,
      minId.getOrElse(Long.MinValue), maxId.getOrElse(Long.MaxValue))
  }

  private final case class Sidecar(fileSize: Long, blobs: Seq[SidecarBlob])

  /** Write `pathStr`'s sidecar atomically (task-attempt scoped, so retried
    * and speculative tasks are safe). */
  def writeSidecar(pathStr: String, fileSize: Long, blobs: Seq[SidecarBlob],
      conf: Configuration, attemptId: Long): Unit = {
    val json = Json.write(Sidecar(fileSize, blobs.sortBy(_.offset)))
    val p = new Path(sidecarPath(pathStr))
    HadoopIO.writeAtomic(p.getParent.toString, p.getName, conf, attemptId)(
      _.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Sidecar stats by blob header offset; empty when there is no sidecar,
    * it is stale (pbf rewritten since the stats pass) or it does not parse. */
  private def loadSidecar(pathStr: String, fileSize: Long,
      conf: Configuration): Map[Long, BlobStats] = try {
    Json.readFile[Sidecar](sidecarPath(pathStr), conf).filter(_.fileSize == fileSize)
      .map(_.blobs.map(b => b.offset -> b.stats).toMap).getOrElse(Map.empty)
  } catch { case _: Exception => Map.empty }

  def scan(pathStr: String, conf: Configuration = new Configuration()): ScanResult = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val fileSize = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    val blobs = Vector.newBuilder[BlobPointer]
    var header: Option[HeaderMeta] = None
    var truncated = false
    try {
      var offset = 0L
      var done = false
      while (!done && offset + 4 <= fileSize) {
        in.seek(offset)
        val din = new DataInputStream(in)
        val len = try din.readInt() catch { case _: EOFException => -1 }
        if (len <= 0 || offset + 4 + len > fileSize) {
          // trailing garbage / truncated frame: warn + stop (reference
          // indexed_reader.rs:167-171)
          truncated = offset + 4 <= fileSize
          done = true
        } else if (len <= PbfCodec.MaxHeaderSize) {
          val hdrBytes = new Array[Byte](len)
          din.readFully(hdrBytes)
          parseHeaderOrNull(hdrBytes) match {
            case (bh, statsBytes) if bh != null &&
                offset + 4 + len + bh.datasize <= fileSize && bh.datasize >= 0 =>
              val dataOffset = offset + 4 + len
              val stats = if (statsBytes != null) parseStats(statsBytes) else None
              if (bh.blobType == "OSMHeader" && header.isEmpty) {
                val payload = new Array[Byte](bh.datasize)
                in.seek(dataOffset)
                new DataInputStream(in).readFully(payload)
                header = Some(PbfCodec.parseHeaderBlock(
                  PbfCodec.decodeBlobPayload(payload, 0, payload.length)))
              }
              blobs += BlobPointer(pathStr, bh.blobType, offset, dataOffset, bh.datasize,
                nodeCount = stats.map(_.nodes).getOrElse(-1L),
                wayCount = stats.map(_.ways).getOrElse(-1L),
                relationCount = stats.map(_.relations).getOrElse(-1L),
                changesetCount = stats.map(_.changesets).getOrElse(-1L),
                minId = stats.map(_.minId).getOrElse(Long.MinValue),
                maxId = stats.map(_.maxId).getOrElse(Long.MaxValue))
              offset = dataOffset + bh.datasize
            case _ =>
              // reference-style frame: the u32 covered the whole blob
              blobs += BlobPointer(pathStr, "Unknown", offset, offset + 4, len)
              offset += 4L + len
          }
        } else if (offset + 4 + len <= fileSize) {
          // too big to be a BlobHeader → reference-style unknown blob
          blobs += BlobPointer(pathStr, "Unknown", offset, offset + 4, len)
          offset += 4L + len
        } else {
          truncated = true
          done = true
        }
      }
      if (!done && offset < fileSize) truncated = true
    } finally in.close()
    val raw = blobs.result()
    // foreign file (no embedded stats): merge the sidecar if one was built
    val patched =
      if (!raw.exists(b => b.blobType == "OSMData" && b.nodeCount < 0)) raw
      else {
        val side = loadSidecar(pathStr, fileSize, conf)
        if (side.isEmpty) raw
        else raw.map { b =>
          if (b.blobType == "OSMData" && b.nodeCount < 0)
            side.get(b.headerOffset).map(s => b.copy(
              nodeCount = s.nodes, wayCount = s.ways, relationCount = s.relations,
              changesetCount = s.changesets, minId = s.minId, maxId = s.maxId))
              .getOrElse(b)
          else b
        }
      }
    ScanResult(header, patched, fileSize, truncated)
  }

  private def parseHeaderOrNull(buf: Array[Byte]): (PbfCodec.BlobHeaderMsg, Array[Byte]) = {
    try {
      // strict parse + type sanity; also capture indexdata (field 2)
      val r = new ProtoReader(buf, 0, buf.length)
      var tpe: String = null
      var datasize = -1
      var indexdata: Array[Byte] = null
      var t = r.readTag()
      while (t != 0) {
        (t >> 3) match {
          case 1 => tpe = r.readString()
          case 2 => indexdata = r.readBytes()
          case 3 => datasize = r.readVarint().toInt
          case _ => r.skip(t & 7)
        }
        t = r.readTag()
      }
      if (tpe == null || datasize < 0) (null, null)
      else if (tpe == "OSMHeader" || tpe == "OSMData") (PbfCodec.BlobHeaderMsg(tpe, datasize), indexdata)
      else (null, null)
    } catch { case _: Exception => (null, null) }
  }

  /** Read one blob's payload bytes (the Blob message) given its pointer. */
  def readBlobPayload(ptr: BlobPointer, conf: Configuration): Array[Byte] = {
    val path = new Path(ptr.path)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try {
      in.seek(ptr.dataOffset)
      val buf = new Array[Byte](ptr.dataSize)
      new DataInputStream(in).readFully(buf)
      buf
    } finally in.close()
  }
}
