package graft.osmpbf

import graft.SparkTestBase
import graft.osmpbf.codec.PbfWriter
import graft.osmpbf.model.{OsmInfo, OsmNode}
import graft.osmpbf.source.OsmReplication

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Osmosis replication-diff consumption: batch latest-version-wins merge,
  * streaming micro-batch tail of a diff directory, and checkpoint resume
  * mid-sequence (the reference parses replication_sequence/timestamp but
  * never applies a diff — header_block.rs:33-71). */
class ReplicationSpec extends AnyFunSuite with SparkTestBase {

  private def info(version: Int, visible: Boolean = true) = Some(OsmInfo(
    version, new java.sql.Timestamp(1700000000000L), 1L, 7, "mapper", visible))

  private def node(id: Long, version: Int, tag: String, visible: Boolean = true) =
    OsmNode(id, id * 1000L, id * 1000L, id / 1e6, id / 1e6,
      Map("name" -> tag), info(version, visible), 0L)

  private def writePbf(path: String, nodes: Seq[OsmNode]): Unit = {
    val w = PbfWriter(path)
    nodes.foreach(w.addNode)
    w.close()
  }

  private lazy val baseDir = { // snapshot: nodes 1..5 at v1
    val d = s"$tmpDir/replication/base"
    new java.io.File(d).mkdirs()
    writePbf(s"$d/base.osm.pbf", (1L to 5L).map(i => node(i, 1, s"v1-$i")))
    d
  }

  private def writeDiff(dir: String, seq: Long, nodes: Seq[OsmNode]): Unit = {
    new java.io.File(dir).mkdirs()
    writePbf(f"$dir/$seq%09d.osm.pbf", nodes)
  }

  test("applyDiffs: modify wins by version, delete drops, create appears") {
    val dir = s"$tmpDir/replication/batch-diffs"
    writeDiff(dir, 1L, Seq(
      node(2L, 2, "v2-2"),                    // modify
      node(3L, 2, "deleted", visible = false), // delete
      node(6L, 1, "v1-6")))                    // create
    writeDiff(dir, 2L, Seq(
      node(2L, 3, "v3-2"),                     // modify again
      node(6L, 1, "v1-6-dup")))                // same version, higher seq wins

    val base = spark.read.format("osmpbf").load(baseDir)
    val diffs = spark.read.format("osmpbf").load(dir)
      .withColumn("seq", OsmReplication.seqOfFile(col("_file"))).drop("_file")
    val merged = OsmReplication.applyDiffs(base, diffs)
      .select("id", "tags", "info.version").collect()
      .map(r => r.getLong(0) -> ((r.getMap[String, String](1)("name"), r.getInt(2)))).toMap

    assert(merged.keySet === Set(1L, 2L, 4L, 5L, 6L)) // 3 deleted
    assert(merged(1L) === (("v1-1", 1)))               // untouched
    assert(merged(2L) === (("v3-2", 3)))               // latest version wins
    assert(merged(6L) === (("v1-6-dup", 1)))           // seq tie-break
  }

  test("diffStream: micro-batch tail processes each diff once, resumes from checkpoint") {
    val dir = s"$tmpDir/replication/stream-diffs"
    val ckpt = s"$tmpDir/replication/ckpt"
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (seq, id)

    writeDiff(dir, 1L, Seq(node(10L, 1, "a")))
    writeDiff(dir, 2L, Seq(node(11L, 1, "b"), node(12L, 1, "c")))

    def runOnce(): Unit = {
      val q = OsmReplication.diffStream(spark, dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= df.select("seq", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
          }
          ()
        }
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(seen.sorted === Seq((1L, 10L), (2L, 11L), (2L, 12L)))

    // new diff lands; a RESTARTED query (same checkpoint) must process ONLY
    // the new sequence — nothing is re-read, nothing is skipped
    writeDiff(dir, 3L, Seq(node(10L, 2, "a2"), node(13L, 1, "d")))
    seen.clear()
    runOnce()
    assert(seen.sorted === Seq((3L, 10L), (3L, 13L)))

    // nothing new → empty run
    seen.clear()
    runOnce()
    assert(seen.isEmpty)
  }

  test("diffStream over a BACKLOG distributes the frame scan and loses nothing") {
    // a stream started against a queued-up directory hits the distributed
    // index-scan path (files ≥ OsmPbfScan.DistributedScanFiles) inside the
    // micro-batch planner thread — the exact context where resolving the
    // session lazily would be fragile; the session is captured at stream
    // construction
    val dir = s"$tmpDir/replication/backlog-diffs"
    val nSeqs = 6L // > OsmPbfScan.DistributedScanFiles (4)
    (1L to nSeqs).foreach { s =>
      writeDiff(dir, s, Seq(node(100L + s, 1, s"b-$s"), node(200L + s, 1, s"c-$s")))
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = OsmReplication.diffStream(spark, dir)
      .writeStream
      .option("checkpointLocation", s"$tmpDir/replication/backlog-ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= df.select("seq", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }
      .start()
    q.awaitTermination()
    val expected = (1L to nSeqs).flatMap(s => Seq((s, 100L + s), (s, 200L + s)))
    assert(seen.sorted === expected.sorted)
  }

  test("streamed diffs fold into the same state as batch applyDiffs") {
    val dir = s"$tmpDir/replication/fold-diffs"
    writeDiff(dir, 1L, Seq(node(2L, 2, "v2-2"), node(3L, 2, "x", visible = false)))
    writeDiff(dir, 2L, Seq(node(2L, 3, "v3-2"), node(6L, 1, "v1-6")))

    val base = spark.read.format("osmpbf").load(baseDir)
    val batchDiffs = spark.read.format("osmpbf").load(dir)
      .withColumn("seq", OsmReplication.seqOfFile(col("_file"))).drop("_file")
    val expected = OsmReplication.applyDiffs(base, batchDiffs)
      .select("id", "info.version").collect().map(r => (r.getLong(0), r.getInt(1))).toSet

    // stream the same diffs through foreachBatch, folding incrementally
    var state = base
    val q = OsmReplication.diffStream(spark, dir)
      .writeStream
      .option("checkpointLocation", s"$tmpDir/replication/fold-ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        state = OsmReplication.applyDiffs(state, df).localCheckpoint()
        ()
      }
      .start()
    q.awaitTermination()
    val got = state.select("id", "info.version").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === expected)
  }

  test("stream offset json()/fromJson are exact inverses on hostile paths") {
    import graft.osmpbf.source.OsmPbfOffset
    // the durable-state killer cases: backslash before quote, lone
    // backslashes, quotes, unicode, empty
    val paths = Seq(
      "", "/plain/000000001.osm.pbf",
      """C:\diffs\000000042.osm.pbf""",
      """weird\"quote""", """trailing-backslash\\""", "\"", "\\",
      "s3a://bucket/ü/000000007.osm.pbf")
    paths.foreach { p =>
      val off = OsmPbfOffset(p)
      assert(OsmPbfOffset.fromJson(off.json()) === off, s"path <$p>")
      // valid for any JSON reader, not only fromJson
      assert(new com.fasterxml.jackson.databind.ObjectMapper().readTree(off.json())
        .get("lastFile").asText() === p)
    }
    // same bytes as before for a plain path: Spark compares offsets by json()
    assert(OsmPbfOffset("/d/000000001.osm.pbf").json() === """{"lastFile":"/d/000000001.osm.pbf"}""")
    // offsets already committed by the string-built writer (only `\` and
    // `"` escaped, so a tab stayed raw) keep resuming the stream
    Seq(
      """{"lastFile":""}""" -> "",
      """{"lastFile":"/plain/000000001.osm.pbf"}""" -> "/plain/000000001.osm.pbf",
      """{"lastFile":"C:\\diffs\\000000042.osm.pbf"}""" -> """C:\diffs\000000042.osm.pbf""",
      """{"lastFile":"weird\\\"quote"}""" -> """weird\"quote""",
      "{\"lastFile\":\"tab\there\"}" -> "tab\there"
    ).foreach { case (json, p) =>
      assert(OsmPbfOffset.fromJson(json) === OsmPbfOffset(p), json)
    }
    intercept[IllegalArgumentException](OsmPbfOffset.fromJson("""{"lastFile":1"""))
    intercept[IllegalArgumentException](OsmPbfOffset.fromJson("{}"))
  }

  test("a foreign file in the replication dir neither wedges the stream nor leaks rows") {
    // the offset is the lexically-largest path processed; an alphabetic
    // name ('state.osm.pbf') sorts above every zero-padded diff, so if the
    // listing admitted it, the checkpoint would commit it as the offset and
    // every later numeric diff would be skipped forever — silent,
    // checkpoint-persisted data loss. fileNamePattern must keep it out of
    // offsets, partitions, AND rows.
    val dir = s"$tmpDir/replication/foreign-diffs"
    val ckpt = s"$tmpDir/replication/foreign-ckpt"
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (seq, id)

    writeDiff(dir, 1L, Seq(node(10L, 1, "a")))
    writePbf(s"$dir/state.osm.pbf", Seq(node(99L, 9, "foreign"))) // higher version!

    def runOnce(): Unit = {
      val q = OsmReplication.diffStream(spark, dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= df.select("seq", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
          }
          ()
        }
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(seen.sorted === Seq((1L, 10L)), "foreign rows leaked into the stream")

    // the regression: a diff arriving AFTER the foreign file must still be
    // processed on restart — the committed offset must not be the foreign
    // path sorting above every numeric name
    writeDiff(dir, 2L, Seq(node(11L, 1, "b")))
    seen.clear()
    runOnce()
    assert(seen.sorted === Seq((2L, 11L)), "stream wedged above the foreign offset")
  }

  test("applyDiffs drops null-seq rows: a foreign file cannot win the batch merge") {
    // BATCH callers follow the module recipe — read the directory
    // unfiltered, derive seq from _file — so a foreign file's rows reach
    // applyDiffs with seq = NULL. The merge window ranks by version FIRST,
    // so a higher-version foreign row (worse: visible=false) would beat
    // the real state if the null-seq guard did not drop it.
    val dir = s"$tmpDir/replication/nullseq-batch"
    writeDiff(dir, 1L, Seq(node(2L, 2, "v2-2")))
    // foreign: would DELETE node 1 at version 9 if merged
    writePbf(s"$dir/state.osm.pbf", Seq(node(1L, 9, "foreign-delete", visible = false)))
    // the adversarial shape: a foreign name ENDING in <digits>.osm.pbf —
    // an unanchored seqOfFile would extract seq=9 (non-null) and walk it
    // straight past the isNotNull guard
    writePbf(s"$dir/old-000000009.osm.pbf", Seq(node(3L, 9, "foreign-sfx", visible = false)))
    val base = spark.read.format("osmpbf").load(baseDir)
    val diffs = spark.read.format("osmpbf").load(dir)
      .withColumn("seq", OsmReplication.seqOfFile(col("_file"))).drop("_file")
    val merged = OsmReplication.applyDiffs(base, diffs)
      .select("id", "tags", "info.version").collect()
      .map(r => r.getLong(0) -> ((r.getMap[String, String](1)("name"), r.getInt(2)))).toMap
    assert(merged.keySet === Set(1L, 2L, 3L, 4L, 5L), "a foreign visible=false row deleted a node")
    assert(merged(1L) === (("v1-1", 1)), "foreign higher-version row won the merge")
    assert(merged(3L) === (("v1-3", 1)), "digit-suffixed foreign name got a real seq")
    assert(merged(2L) === (("v2-2", 2)), "real diff row must still apply")
  }

  test("fileNamePattern is full-match: an unanchored pattern cannot admit prefixed names") {
    val dir = s"$tmpDir/replication/fullmatch"
    new java.io.File(dir).mkdirs()
    writePbf(s"$dir/000000001.osm.pbf", Seq(node(1L, 1, "a")))
    writePbf(s"$dir/old-000000001.osm.pbf", Seq(node(2L, 1, "b")))
    val conf = spark.sessionState.newHadoopConf()
    // the natural unanchored form a user would write — substring-find would
    // let 'old-000000001.osm.pbf' through (and it sorts above every numeric
    // name, recreating the offset wedge the option exists to prevent)
    val got = graft.osmpbf.source.OsmPbfSource
      .resolvePaths(dir, conf, Some("""\d+\.osm\.pbf"""))
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
    assert(got === Seq("000000001.osm.pbf"), s"unanchored pattern admitted: $got")
  }

  test("offset never regresses: an emptied listing must not cause a full replay") {
    // retention cleanup (or a pattern edit matching nothing) can make the
    // filtered listing transiently empty UNDER an existing checkpoint. A
    // listing-max latestOffset would regress the offset to "" through an
    // empty batch; once files reappear, `p > ""` re-admits EVERYTHING — a
    // full silent replay. The admission-control ratchet (latestOffset(start,
    // limit) seeds from the committed start) must hold the offset instead.
    val dir = s"$tmpDir/replication/regress-diffs"
    val ckpt = s"$tmpDir/replication/regress-ckpt"
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

    def runOnce(): Unit = {
      val q = OsmReplication.diffStream(spark, dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= df.select("seq", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
          }
          ()
        }
        .start()
      q.awaitTermination()
    }

    writeDiff(dir, 1L, Seq(node(10L, 1, "a")))
    writeDiff(dir, 2L, Seq(node(11L, 1, "b")))
    runOnce()
    assert(seen.sorted === Seq((1L, 10L), (2L, 11L)))

    // retention deletes every processed diff; the restarted stream sees an
    // EMPTY listing and must not commit a regressed offset
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".osm.pbf")).foreach(_.delete())
    seen.clear()
    runOnce()
    assert(seen.isEmpty)

    // the old files come back (restored backup) plus one genuinely new
    // diff: only the new one may be processed — a regressed offset would
    // replay all three
    writeDiff(dir, 1L, Seq(node(10L, 1, "a")))
    writeDiff(dir, 2L, Seq(node(11L, 1, "b")))
    writeDiff(dir, 3L, Seq(node(12L, 1, "c")))
    seen.clear()
    runOnce()
    assert(seen.sorted === Seq((3L, 12L)), s"replayed already-processed diffs: ${seen.sorted}")
  }

  test("seqOfFile: NULL for a foreign file name, not an ANSI cast error") {
    import spark.implicits._
    // regexp_extract yields '' on no-match; under ANSI (Spark 4 default)
    // cast('' as long) throws — one stray file in the replication dir must
    // not crash the diff stream
    val rows = Seq("/rep/000000042.osm.pbf", "/rep/state.osm.pbf", "/rep/readme.txt",
      "/rep/old-000000001.osm.pbf", "000000007.osm.pbf",
      "/rep/99999999999999999999.osm.pbf") // 20 digits > Long.MaxValue
      .toDF("f").select(OsmReplication.seqOfFile(col("f")).as("s")).collect()
    assert(rows(0).getLong(0) === 42L)
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
    assert(rows(3).isNullAt(0), "digit-suffixed foreign name must not yield a seq")
    assert(rows(4).getLong(0) === 7L, "bare file name (no directory) must still parse")
    assert(rows(5).isNullAt(0), "over-long digit run must be NULL, not an ANSI overflow")
  }
}
