package graft.tiles

import graft.SparkTestBase
import graft.fixtures.OsmWorld

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class ImagesSpec extends AnyFunSuite with SparkTestBase {

  private lazy val centers = OsmWorld.generate(seed = 42, nClusters = 4, nodesPerCluster = 10).clusterCenters

  test("synthesis is deterministic") {
    val a = Images.synthRow(17L, centers)
    val b = Images.synthRow(17L, centers)
    assert(a.image_id === "img_000000017")
    assert(a.bytes.toSeq === b.bytes.toSeq)
    assert(a.phash === b.phash)
    assert(a.caption === b.caption)
    assert((a.lon, a.lat) === (b.lon, b.lat))
  }

  test("PNG round trip is lossless: PSNR = ∞ (≥40dB gate trivially holds)") {
    val row = Images.synthRow(3L, centers)
    val decoded = Images.decode(row.bytes)
    val regenerated = Images.synthPixels(row.w, row.h, 3L)
    assert(Images.psnr(decoded, regenerated).isPosInfinity)
  }

  test("PSNR detects corruption and measures noise level") {
    val img = Images.synthPixels(32, 32, 5L)
    val noisy = Images.synthPixels(32, 32, 5L)
    // flip one channel of one pixel by 4 → PSNR high but finite
    noisy.px(0) = noisy.px(0) ^ 0x04
    val p = Images.psnr(img, noisy)
    assert(p > 40.0 && !p.isInfinity)
    // heavy corruption → low PSNR
    val bad = Images.synthPixels(32, 32, 999L)
    assert(Images.psnr(img, bad) < 40.0)
  }

  test("distributed synthesis + ImageTable write/load + parity gate") {
    val df = Images.synthesize(spark, 200, centers, partitions = 4)
    val root = s"$tmpDir/imageTable"
    ImageTable.write(df, root, snapshotId = 7L)
    assert(ImageTable.currentSnapshot(spark, root) === 7L)
    val loaded = ImageTable.load(spark, root)
    assert(loaded.count() === 200)
    assert(loaded.columns.toSet === Set("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lon", "lat"))

    val parity = ImageTable.parity(loaded, centers).cache()
    val minPsnr = parity.agg(min("psnr_db")).collect().head.getDouble(0)
    assert(minPsnr >= 40.0, s"PSNR gate: $minPsnr")
    assert(parity.where(!col("caption_ok")).count() === 0)
    assert(parity.where(!col("phash_ok")).count() === 0)
  }

  test("snapshot isolation: second snapshot does not disturb the first") {
    val root = s"$tmpDir/imageTable2"
    ImageTable.write(Images.synthesize(spark, 50, centers, 2), root, snapshotId = 1L)
    ImageTable.write(Images.synthesize(spark, 80, centers, 2), root, snapshotId = 2L)
    assert(ImageTable.loadSnapshot(spark, root, 1L).count() === 50)
    assert(ImageTable.load(spark, root).count() === 80)
    // metadata files exist per snapshot
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/metadata/v2.metadata.json")))
  }

  test("fast append shares parent files; incremental read returns only the delta") {
    import spark.implicits._
    val root = s"$tmpDir/imageTable3"
    val base = Images.synthesize(spark, 50, centers, 2)
    ImageTable.write(base, root, snapshotId = 1L)
    val extra = Images.synthesize(spark, 70, centers, 2)
      .where(substring(col("image_id"), 5, 9).cast("long") >= 50)
    val snap2 = ImageTable.append(extra, root)
    assert(snap2 === 2L)
    // new snapshot = parent rows + appended rows, through the MANIFEST
    assert(ImageTable.load(spark, root).count() === 70)
    assert(ImageTable.loadSnapshot(spark, root, 1L).count() === 50) // time travel intact
    // the append wrote only the delta's files: parent files are SHARED,
    // not copied — manifest(v2) ⊃ manifest(v1)
    val m1 = ImageTable.manifest(spark, root, 1L).toSet
    val m2 = ImageTable.manifest(spark, root, 2L).toSet
    assert(m1.subsetOf(m2) && m2.size > m1.size)
    // incremental read: exactly the appended rows, no history rescan
    val inc = ImageTable.readIncremental(spark, root, 1L, 2L)
    assert(inc.count() === 20)
    assert(inc.select("image_id").collect().map(_.getString(0)).toSet ===
      (50 until 70).map(i => Images.idString(i.toLong)).toSet)
    // empty diff → empty frame with the table schema
    val none = ImageTable.readIncremental(spark, root, 2L, 2L)
    assert(none.count() === 0 && none.schema === inc.schema)
  }

  test("manifest survives a table root containing a JSON-special character") {
    // a quote, backslash or tab in the directory name would corrupt
    // un-escaped manifest entries ({"path":"...".."}); the metadata must
    // round-trip write, append, time travel and incremental read
    val root = s"""$tmpDir/image"table\\back\ttab"quoted"""
    val base = Images.synthesize(spark, 30, centers, 2)
    ImageTable.write(base, root, snapshotId = 1L)
    val extra = Images.synthesize(spark, 40, centers, 2)
      .where(substring(col("image_id"), 5, 9).cast("long") >= 30)
    val snap2 = ImageTable.append(extra, root)
    assert(snap2 === 2L)
    assert(ImageTable.load(spark, root).count() === 40)
    assert(ImageTable.loadSnapshot(spark, root, 1L).count() === 30)
    assert(ImageTable.readIncremental(spark, root, 1L, 2L).count() === 10)
    // manifest() returns real, unescaped FS paths (readable by parquet)
    val m2 = ImageTable.manifest(spark, root, snap2)
    assert(m2.nonEmpty)
    m2.foreach { p =>
      assert(p.contains("image\"table\\back\ttab\"quoted") && !p.contains("\\\""), p)
    }
    // valid for any JSON reader: a strict mapper, no control-char allowance
    val metaDir = new java.io.File(s"$root/metadata")
    val metas = metaDir.listFiles().filter(_.getName.matches("v\\d+\\.metadata\\.json"))
    assert(metas.map(_.getName).toSet === Set("v1.metadata.json", "v2.metadata.json"))
    metas.foreach { f =>
      val tree = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(f.toPath))
      assert(tree.get("manifest").size() > 0, f.getName)
    }
  }

  test("metadata in the previous on-disk format still loads, reads and appends") {
    import spark.implicits._
    // the exact bytes the string-built writer produced: newlines after the
    // header and schema lines, only `"` and `\` escaped (so a tab in the
    // root sat raw inside the path strings), the schema as an escaped string
    val root = s"$tmpDir/old\tformat"
    def part(dir: String, df: org.apache.spark.sql.DataFrame): (String, Long) = {
      df.coalesce(1).write.parquet(s"$root/data/$dir")
      val f = new java.io.File(s"$root/data/$dir").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      ("file:" + f.getPath, f.length())
    }
    val (p1, s1) = part("snap=1", (0L until 5L).map(i => (i, s"n$i")).toDF("id", "name"))
    val (p2, s2) = part("txn-0", (5L until 8L).map(i => (i, s"n$i")).toDF("id", "name"))
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",""" +
      """\"nullable\":false,\"metadata\":{}},{\"name\":\"name\",\"type\":\"string\",""" +
      """\"nullable\":true,\"metadata\":{}}]}"""
    val v1 = s"""{"format-version":2,"snapshot-id":1,
      |"schema":"$schema",
      |"manifest":[{"path":"$p1","size":$s1}],
      |"written-at":"deterministic"}""".stripMargin
    val v2 = s"""{"format-version":2,"snapshot-id":2,"parent-snapshot-id":1,
      |"schema":"$schema",
      |"manifest":[{"path":"$p1","size":$s1},{"path":"$p2","size":$s2}],
      |"written-at":"deterministic"}""".stripMargin
    assert(p1.contains("\t") && v2.contains("\t"), "the raw tab is the point")
    Files.createDirectories(Paths.get(s"$root/metadata"))
    Files.writeString(Paths.get(s"$root/metadata/v1.metadata.json"), v1)
    Files.writeString(Paths.get(s"$root/metadata/v2.metadata.json"), v2)
    Files.writeString(Paths.get(s"$root/metadata/current"), "2")

    assert(ImageTable.manifest(spark, root, 2L) === Seq(p1, p2))
    assert(ImageTable.load(spark, root).count() === 8)
    assert(ImageTable.loadSnapshot(spark, root, 1L).count() === 5)
    assert(ImageTable.readIncremental(spark, root, 1L, 2L).count() === 3)
    val none = ImageTable.readIncremental(spark, root, 2L, 2L)
    assert(none.count() === 0 && none.schema.fieldNames.toSeq === Seq("id", "name"))
    // an append on top of the old-format parent keeps its entries verbatim
    val snap3 = ImageTable.append((8L until 10L).map(i => (i, s"n$i")).toDF("id", "name"), root)
    assert(snap3 === 3L)
    assert(ImageTable.manifest(spark, root, 3L).take(2) === Seq(p1, p2))
    assert(ImageTable.load(spark, root).count() === 10)
  }

  test("concurrent appends serialize: both commit, no rows lost") {
    val root = s"$tmpDir/imageTable5"
    ImageTable.write(Images.synthesize(spark, 10, centers, 2), root, snapshotId = 1L)
    val all = Images.synthesize(spark, 30, centers, 2).cache()
    def slice(lo: Long, hi: Long) = all.where(
      col("image_id") >= Images.idString(lo) && col("image_id") < Images.idString(hi))
    val t1 = new Thread(() => ImageTable.append(slice(10, 20), root))
    val t2 = new Thread(() => ImageTable.append(slice(20, 30), root))
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)
    // both committed (ids 2 and 3 in either order) and the final table has
    // every row — the lost-update race would silently drop one appender's
    assert(ImageTable.currentSnapshot(spark, root) === 3L)
    assert(ImageTable.load(spark, root).count() === 30)
    assert(ImageTable.load(spark, root).select("image_id").distinct().count() === 30)
  }

  test("expireSnapshots + vacuum reclaim unreferenced data files and orphan txn dirs") {
    val root = s"$tmpDir/imageTable6"
    val conf = spark.sessionState.newHadoopConf()
    ImageTable.write(Images.synthesize(spark, 10, centers, 2), root, snapshotId = 1L)
    // full rewrite (no shared files): snapshot 2 references only its own data
    ImageTable.write(Images.synthesize(spark, 12, centers, 2), root, snapshotId = 2L)
    // orphaned txn dir: an append that died before its metadata commit
    graft.util.HadoopIO.writeString(
      s"$root/data/txn-dead/part-00000-dead.parquet", "junk", conf)
    val expired = ImageTable.expireSnapshots(spark, root, keepLast = 1)
    assert(expired === Seq(1L))
    intercept[Exception] { ImageTable.loadSnapshot(spark, root, 1L) }
    val deleted = ImageTable.vacuum(spark, root, minAgeMs = 0L)
    assert(deleted.exists(_.contains("snap=1")), "snapshot-1 data not reclaimed")
    assert(deleted.exists(_.contains("txn-dead")), "orphan txn dir not reclaimed")
    assert(deleted.forall(!_.contains("snap=2")), "live snapshot data must survive")
    // live reads unaffected; a second vacuum is a no-op
    assert(ImageTable.load(spark, root).count() === 12)
    assert(ImageTable.vacuum(spark, root, minAgeMs = 0L).isEmpty)
    // shared-file safety: an append's snapshot shares the parent's files —
    // expiring the parent must NOT reclaim files the child still references
    val root2 = s"$tmpDir/imageTable7"
    ImageTable.write(Images.synthesize(spark, 10, centers, 2), root2, snapshotId = 1L)
    val delta = Images.synthesize(spark, 12, centers, 2)
      .where(col("image_id") > Images.idString(9L))
    ImageTable.append(delta, root2)
    assert(ImageTable.expireSnapshots(spark, root2, keepLast = 1) === Seq(1L))
    val deleted2 = ImageTable.vacuum(spark, root2, minAgeMs = 0L)
    assert(deleted2.isEmpty, s"shared parent files reclaimed: $deleted2")
    assert(ImageTable.load(spark, root2).count() === 12)
  }

  test("vacuum reclaims a crashed write's nested _temporary tree") {
    // an append that dies while df.write is in flight leaves
    // data/txn-X/_temporary/<attempt>/.../part-*.parquet — the one-level
    // listing never saw the nested files, and the _temporary SUBDIR failed
    // the old all-files drop check, so the whole tree leaked forever
    val root = s"$tmpDir/imageTable-nested"
    val conf = spark.sessionState.newHadoopConf()
    ImageTable.write(Images.synthesize(spark, 5, centers, 2), root, snapshotId = 1L)
    graft.util.HadoopIO.writeString(
      s"$root/data/txn-crashed/_temporary/0/task-1/part-00000-x.parquet", "junk", conf)
    val deleted = ImageTable.vacuum(spark, root, minAgeMs = 0L)
    assert(deleted.exists(_.contains("txn-crashed")), s"nested orphan survived: $deleted")
    assert(!graft.util.HadoopIO.exists(s"$root/data/txn-crashed", conf),
      "emptied txn dir (with _temporary subtree) not dropped")
    assert(ImageTable.load(spark, root).count() === 5)
  }

  test("parity reports a failed verdict for a malformed image_id, not a task crash") {
    import spark.implicits._
    val good = Images.synthesize(spark, 3, centers, 1)
    val foreign = good.limit(1)
      .withColumn("image_id", org.apache.spark.sql.functions.lit("ext_not_numeric"))
    val parity = ImageTable.parity(good.unionByName(foreign), centers).collect()
    assert(parity.length === 4)
    val bad = parity.find(_.getString(0) == "ext_not_numeric").get
    assert(!bad.getBoolean(2) && !bad.getBoolean(3) && bad.getDouble(1) === 0.0)
    assert(parity.filter(_.getString(0) != "ext_not_numeric")
      .forall(r => r.getBoolean(2) && r.getBoolean(3)))
  }

  test("vacuum skips txn dirs with a live pending marker; stale markers age out") {
    val root = s"$tmpDir/imageTable8"
    val conf = spark.sessionState.newHadoopConf()
    val fs = graft.util.HadoopIO.fileSystem(root, conf)
    ImageTable.write(Images.synthesize(spark, 10, centers, 2), root, snapshotId = 1L)
    // simulate an in-flight append mid-data-write: txn dir + live marker
    // (what registerPending creates before the unlocked parquet write)
    graft.util.HadoopIO.writeString(
      s"$root/data/txn-inflight/part-00000-x.parquet", "data-being-written", conf)
    graft.util.HadoopIO.writeString(s"$root/metadata/pending/txn-inflight", "in-flight", conf)
    // even an aggressive vacuum (no age floor) must not touch it — the 1 h
    // minAge heuristic alone cannot protect a 100-TB append's hours-long
    // unlocked data write
    val deleted = ImageTable.vacuum(spark, root, minAgeMs = 0L)
    assert(deleted.forall(!_.contains("txn-inflight")),
      s"vacuum deleted files of an in-flight append: $deleted")
    assert(graft.util.HadoopIO.exists(s"$root/data/txn-inflight", conf))
    // a crashed appender stops heartbeating: age the marker past the grace
    // and the txn dir becomes ordinary reclaimable garbage
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$root/metadata/pending/txn-inflight"),
      System.currentTimeMillis() - ImageTable.PendingGraceMs - 60000L, -1L)
    val deleted2 = ImageTable.vacuum(spark, root, minAgeMs = 0L)
    assert(deleted2.exists(_.contains("txn-inflight")), "crashed append's txn dir not reclaimed")
    assert(!graft.util.HadoopIO.exists(s"$root/metadata/pending/txn-inflight", conf),
      "stale pending marker not garbage-collected")
    // a successful append leaves no marker behind
    ImageTable.append(Images.synthesize(spark, 12, centers, 2)
      .where(col("image_id") > Images.idString(9L)), root)
    val pendingDir = new org.apache.hadoop.fs.Path(s"$root/metadata/pending")
    assert(!fs.exists(pendingDir) || fs.listStatus(pendingDir).isEmpty,
      "append left its pending marker behind")
  }

  test("append lock: a fresh lock blocks until timeout; a stale one is broken") {
    val root = s"$tmpDir/imageTable4"
    val conf = spark.sessionState.newHadoopConf()
    ImageTable.write(Images.synthesize(spark, 10, centers, 2), root, snapshotId = 1L)
    val lock = s"$root/metadata/.append-lock"
    val delta = Images.synthesize(spark, 12, centers, 2)
      .where(col("image_id") > Images.idString(9L))
    // fresh lock held by a live (pretend) appender → timeout, no commit
    graft.util.HadoopIO.writeString(lock, "held", conf)
    intercept[IllegalStateException] {
      ImageTable.append(delta, root, staleLockMs = 60000L, lockTimeoutMs = 700L)
    }
    assert(ImageTable.currentSnapshot(spark, root) === 1L)
    // the failed append must not leak its pending marker (a leaked marker
    // would heartbeat forever and shield the orphan txn dir from vacuum)
    val pendingDir = new org.apache.hadoop.fs.Path(s"$root/metadata/pending")
    val pfs = graft.util.HadoopIO.fileSystem(root, conf)
    assert(!pfs.exists(pendingDir) || pfs.listStatus(pendingDir).isEmpty,
      "lock-timeout append leaked its pending marker")
    // stale lock (holder crashed) → broken, append proceeds
    val fs = graft.util.HadoopIO.fileSystem(lock, conf)
    val p = new org.apache.hadoop.fs.Path(lock)
    fs.setTimes(p, System.currentTimeMillis() - 120000L, -1L)
    assert(ImageTable.append(delta, root, staleLockMs = 60000L) === 2L)
    assert(ImageTable.load(spark, root).count() === 12)
    assert(!graft.util.HadoopIO.exists(lock, conf), "lock released after commit")
  }

  test("parityStats fused pass ≡ decode→psnrVsSynth + aHash, across reused buffers") {
    // one thread, many sizes in shrinking AND growing order: exercises the
    // per-thread Decoder's grow-only buffer reuse (stale-tail bugs would
    // show as psnr < ∞ or hash mismatch)
    val idxs = Seq(0L, 7L, 3L, 100L, 1L, 55L, 8L, 2L)
    idxs.foreach { idx =>
      val row = Images.synthRow(idx, centers)
      val st = Images.parityStats(row.bytes, idx)
      val img = Images.decode(row.bytes)
      assert((st.w, st.h) === (img.w, img.h))
      assert(st.psnrDb.isPosInfinity, s"idx=$idx")
      assert(st.ahash === Images.aHash(img), s"idx=$idx")
      assert(st.ahash === row.phash)
    }
    // mismatch (wrong idx) must yield the same finite PSNR as the two-pass path
    val row = Images.synthRow(11L, centers)
    val st = Images.parityStats(row.bytes, 999L)
    val img = Images.decode(row.bytes)
    assert(st.psnrDb === Images.psnrVsSynth(img, 999L))
    assert(st.psnrDb < 40.0)
  }

  test("Decoder handles multi-IDAT and filtered PNGs identically to one-shot decode") {
    val img = Images.synthPixels(24, 16, 42L)
    val png = Png.encode(img)
    // split the single IDAT chunk into two chunks byte-identically
    val multi = splitIdat(png)
    assert(multi.length > png.length)
    val d = new Png.Decoder()
    try {
      d.decode(multi)
      assert((d.w, d.h) === (24, 16))
      assert(d.px.take(24 * 16).toSeq === img.px.toSeq)
      // an ImageIO-encoded PNG (uses scanline filters our encoder doesn't)
      val bi = new java.awt.image.BufferedImage(24, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 24) bi.setRGB(x, y, img.rgb(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "png", baos)
      d.decode(baos.toByteArray)
      assert(d.px.take(24 * 16).toSeq === img.px.toSeq)
    } finally d.close()
  }

  private def splitIdat(png: Array[Byte]): Array[Byte] = {
    def readInt(b: Array[Byte], o: Int) =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    val out = new java.io.ByteArrayOutputStream()
    out.write(png, 0, 8)
    var pos = 8
    while (pos + 8 <= png.length) {
      val len = readInt(png, pos)
      val name = new String(png, pos + 4, 4, "US-ASCII")
      if (name == "IDAT" && len > 1) {
        val half = len / 2
        def chunkOf(data: Array[Byte]): Unit = {
          val crc = new java.util.zip.CRC32()
          crc.update("IDAT".getBytes("US-ASCII")); crc.update(data)
          val hdr = java.nio.ByteBuffer.allocate(8).putInt(data.length).put("IDAT".getBytes("US-ASCII")).array()
          out.write(hdr); out.write(data)
          out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
        }
        chunkOf(java.util.Arrays.copyOfRange(png, pos + 8, pos + 8 + half))
        chunkOf(java.util.Arrays.copyOfRange(png, pos + 8 + half, pos + 8 + len))
      } else out.write(png, pos, 8 + len + 4)
      pos += 8 + len + 4
    }
    out.toByteArray
  }

  test("phash xor distance separates identical from different images") {
    import spark.implicits._
    val df = Images.synthesize(spark, 60, centers, 2).select("image_id", "phash")
    val joined = df.as("a").crossJoin(df.as("b"))
      .withColumn("hdist", bit_count(col("a.phash").bitwiseXOR(col("b.phash"))))
    val selfDist = joined.where(col("a.image_id") === col("b.image_id"))
      .agg(max("hdist")).collect().head.getInt(0)
    assert(selfDist === 0)
  }

  test("position() stays in bounds at planet-scale ids (no Long overflow)") {
    // idx * K wraps negative past ~3.47e9 — previously a negative index
    // into centers
    Seq(3_500_000_000L, 999_999_999_999L, Long.MaxValue / 2).foreach { idx =>
      val (lon, lat) = Images.position(idx, centers)
      assert(lon >= -180.5 && lon <= 180.5 && lat >= -80.5 && lat <= 80.5,
        s"idx=$idx -> ($lon, $lat)")
    }
  }

  test("corrupt PNG chunk length fails fast instead of hanging the decoder") {
    val good = Images.synthRow(3L, centers).bytes
    val bad = good.clone()
    // overwrite the first chunk's length (offset 8..11) with a negative int
    bad(8) = 0xff.toByte; bad(9) = 0xff.toByte; bad(10) = 0xff.toByte; bad(11) = 0xf4.toByte
    intercept[IllegalArgumentException] { Images.decode(bad) }
  }
}
