package graft.tiles

import graft.util.Json

import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/** Snapshot-versioned Parquet layout with Iceberg-style metadata JSON —
  * the offline stand-in for an Iceberg catalog (SURVEY.md §7.0: no Iceberg
  * jar ships in /opt/spark/jars, so the engine reads through this one seam
  * and a real catalog can be slotted in where the jar exists).
  *
  * Layout:
  *   <root>/data/snap=<id>/part-*.parquet   (immutable per snapshot)
  *   <root>/metadata/v<id>.metadata.json     (snapshot id, schema, manifest)
  *   <root>/metadata/current                 (text: latest snapshot id)
  */
object ImageTable {

  /** One data file of a snapshot. */
  private final case class ManifestEntry(path: String, size: Long)

  /** `metadata/v<id>.metadata.json`; `schema` holds `StructType.json`. */
  private final case class Metadata(
      @JsonProperty("format-version") formatVersion: Int,
      @JsonProperty("snapshot-id") snapshotId: Long,
      @JsonProperty("parent-snapshot-id")
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) parentSnapshotId: Option[Long],
      schema: String,
      manifest: Seq[ManifestEntry],
      @JsonProperty("written-at") writtenAt: String)

  private def metadataPath(root: String, snapshotId: Long): String =
    s"$root/metadata/v$snapshotId.metadata.json"

  private def readMetadata(root: String, snapshotId: Long,
      conf: org.apache.hadoop.conf.Configuration): Metadata =
    Json.read[Metadata](graft.util.HadoopIO.readString(metadataPath(root, snapshotId), conf))

  /** Manifest entries for the part-files of one snapshot's data dir —
    * listed through the Hadoop FS (works on HDFS/S3, not just local disk). */
  private def dataFileEntries(dataDir: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[ManifestEntry] = {
    val fs = graft.util.HadoopIO.fileSystem(dataDir, conf)
    fs.listStatus(new org.apache.hadoop.fs.Path(dataDir))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .map(s => ManifestEntry(s.getPath.toString, s.getLen))
      .toSeq
  }

  private def commitMetadata(root: String, snapshotId: Long, parent: Option[Long],
      schema: org.apache.spark.sql.types.StructType, entries: Seq[ManifestEntry],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val meta = Json.write(Metadata(2, snapshotId, parent, schema.json, entries, "deterministic"))
    // atomic replaces: a reader of `current` (or of a metadata file being
    // re-committed) must see complete old bytes or complete new bytes —
    // the truncate-first writeString could expose "" or a prefix, and a
    // crash between truncate and write would brick the table pointer
    graft.util.HadoopIO.replaceStringAtomic(metadataPath(root, snapshotId), meta, conf)
    graft.util.HadoopIO.replaceStringAtomic(
      s"$root/metadata/current", snapshotId.toString, conf)
  }

  def write(df: DataFrame, root: String, snapshotId: Long = 1L): Unit = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val dataDir = s"$root/data/snap=$snapshotId"
    // same exposure as append: the data lands before any manifest
    // references it, so a long write needs the heartbeated pending marker
    // or a concurrent vacuum could reclaim its early files mid-write
    val pending = registerPending(root, s"snap=$snapshotId", conf)
    try {
      df.write.mode("overwrite").parquet(dataDir)
      val entries = dataFileEntries(dataDir, conf)
      // the current-pointer update must serialize with appends: unlocked,
      // a write racing an append is a lost update on `current` (append
      // reads parent, write sets snapshotId, append commits parent+1 —
      // the write's snapshot silently vanishes from the pointer)
      withMetadataLock(root, conf, 60000L, 120000L) { assertStillHeld =>
        assertStillHeld()
        commitMetadata(root, snapshotId, None, df.schema, entries, conf)
      }
    } finally pending.close()
  }

  def currentSnapshot(spark: SparkSession, root: String): Long =
    graft.util.HadoopIO.readString(s"$root/metadata/current",
      spark.sessionState.newHadoopConf()).trim.toLong

  /** Data-file paths recorded in a snapshot's metadata manifest. */
  def manifest(spark: SparkSession, root: String, snapshotId: Long): Seq[String] =
    readMetadata(root, snapshotId, spark.sessionState.newHadoopConf()).manifest.map(_.path)

  def load(spark: SparkSession, root: String): DataFrame =
    loadSnapshot(spark, root, currentSnapshot(spark, root))

  /** Snapshot read THROUGH the manifest (not a directory listing) — the
    * Iceberg contract that makes fast appends and incremental reads work:
    * a snapshot is its file list, and files are shared across snapshots. */
  def loadSnapshot(spark: SparkSession, root: String, snapshotId: Long): DataFrame = {
    val meta = readMetadata(root, snapshotId, spark.sessionState.newHadoopConf())
    readFiles(spark, meta, meta.manifest.map(_.path))
  }

  /** Parquet read of exact manifest paths with the schema `meta` records
    * (no footer read to infer it, and no paths is an empty frame). The
    * recorded schema keeps the writer's nullable=false flags; parquet
    * read-back reports every column nullable, so the read does too. Spark
    * glob-expands read paths, so glob characters in a path (a root
    * holding `\`, `[` or `*`) are escaped: each path names one file,
    * never a pattern. */
  private def readFiles(spark: SparkSession, meta: Metadata,
      paths: Seq[String]): DataFrame = {
    val recorded = org.apache.spark.sql.types.DataType.fromJson(meta.schema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val schema = org.apache.spark.sql.types.StructType(recorded.fields.map(_.copy(nullable = true)))
    spark.read.schema(schema).parquet(paths.map(_.flatMap(c =>
      if ("\\{}[]*?".indexOf(c) >= 0) s"\\$c" else c.toString)): _*)
  }

  /** Fast append (Iceberg-style): writes ONLY the new rows as data files,
    * then records a new snapshot whose manifest is the parent's file list
    * plus the new files — no existing data is rewritten or moved, so an
    * append to a 100-TB table costs only the appended bytes. Returns the
    * new snapshot id.
    *
    * Concurrency: the data files are written FIRST, to a transaction-scoped
    * dir, with no lock held — a 100-TB append's multi-minute write cannot
    * outlive `staleLockMs` because the lock isn't taken yet. Only the
    * metadata read-modify-write of `metadata/current` (milliseconds) runs
    * under the exclusive lock file (`HadoopIO.createExclusive` — atomic on
    * HDFS/local FS). Stale-lock breaking is token-checked: the lock content
    * is a unique per-attempt token, and a breaker deletes the lock only
    * after RE-reading it and seeing the same token it observed as stale —
    * so a lock released-and-reacquired between observation and break is
    * never deleted (the round-3 ADVICE double-break race; the residual
    * read-then-delete window is microseconds against a 60 s staleness
    * threshold). Two concurrent appends therefore serialize instead of
    * silently dropping the loser's rows. A failure before commit leaves an
    * orphaned `data/txn-*` dir — invisible to readers (reads go through the
    * manifest, never a directory listing) and reclaimable by any vacuum.
    * On object stores without atomic create, slot a real catalog at this
    * seam. */
  def append(df: DataFrame, root: String,
      staleLockMs: Long = 60000L, lockTimeoutMs: Long = 120000L): Long = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val txnToken = java.util.UUID.randomUUID().toString
    // 1. data write, unlocked: the expensive part at scale. A heartbeated
    // pending marker (not a time heuristic — a 100-TB data write can
    // outlive any fixed minAge) tells vacuum the txn dir is in flight.
    val dataDir = s"$root/data/txn-$txnToken"
    // one try/finally spans EVERYTHING after registration — a failure
    // anywhere (data write, file listing, lock timeout, interrupted sleep)
    // must stop the heartbeat and drop the marker, or the orphan txn dir
    // is skipped by every future vacuum and the daemon executor leaks
    val pending = registerPending(root, s"txn-$txnToken", conf)
    try {
      val newEntries = {
        df.write.mode("overwrite").parquet(dataDir)
        dataFileEntries(dataDir, conf)
      }
      // 2. metadata commit under the token-stamped lock
      withMetadataLock(root, conf, staleLockMs, lockTimeoutMs) { assertStillHeld =>
        val parent = currentSnapshot(spark, root)
        val snapshotId = parent + 1
        val parentManifest = readMetadata(root, parent, conf).manifest
        assertStillHeld()
        commitMetadata(root, snapshotId, Some(parent), df.schema,
          parentManifest ++ newEntries, conf)
        snapshotId
      }
    } finally {
      // committed (or failed anywhere above): the manifest now references
      // the files (or the txn dir is orphaned garbage) — either way the
      // pending marker has served its purpose
      pending.close()
    }
  }

  /** Acquire `<root>/metadata/.append-lock`, run `body`, release. The lock
    * serializes EVERY current-pointer committer (append and write — an
    * unlocked write racing an append is a lost update on `current`).
    * `body` receives `assertStillHeld`: call it immediately before the
    * metadata commit — a holder stalled past `staleLockMs` (huge parent
    * manifest, GC pause) may have had its lock legitimately broken by a
    * waiter, and committing anyway would assign the same snapshot id twice,
    * silently overwriting the waiter's rows; better to fail LOUDLY (the
    * data dir becomes vacuumable garbage, the caller retries). The residual
    * check-to-commit window is microseconds against a 60 s staleness
    * threshold. */
  private def withMetadataLock[T](root: String,
      conf: org.apache.hadoop.conf.Configuration,
      staleLockMs: Long, lockTimeoutMs: Long)(body: (() => Unit) => T): T = {
    val token = java.util.UUID.randomUUID().toString
    val lock = s"$root/metadata/.append-lock"
    val deadline = System.nanoTime() + lockTimeoutMs * 1000000L
    var acquired = false
    while (!acquired) {
      acquired = graft.util.HadoopIO.createExclusive(lock, token, conf)
      if (!acquired) {
        // observe holder token + age together; a vanished lock means the
        // holder just released — loop back to the create race
        val observed = try {
          val t = graft.util.HadoopIO.readString(lock, conf)
          val age = System.currentTimeMillis() -
            graft.util.HadoopIO.modificationTime(lock, conf)
          Some((t, age))
        } catch { case _: Exception => None }
        observed match {
          case Some((heldToken, age)) if age > staleLockMs =>
            // break ONLY the lock instance observed stale: re-read and
            // verify the token is unchanged before deleting
            val still = try graft.util.HadoopIO.readString(lock, conf)
              catch { case _: Exception => null }
            if (still == heldToken) graft.util.HadoopIO.delete(lock, conf)
          case _ => ()
        }
        // the deadline bounds EVERY retry path — including a stale lock
        // whose delete keeps failing (permissions, transient store errors):
        // unbounded, that branch busy-spun forever and the lockTimeoutMs
        // contract was never enforced
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"could not acquire $lock within ${lockTimeoutMs}ms")
        Thread.sleep(100)
      }
    }
    val assertStillHeld: () => Unit = () => {
      val still = try graft.util.HadoopIO.readString(lock, conf)
        catch { case _: Exception => null }
      if (still != token)
        throw new IllegalStateException(
          s"$lock lost before commit (broken as stale by a waiter after " +
            s"${staleLockMs}ms) — aborting instead of double-committing")
    }
    try body(assertStillHeld)
    finally {
      // release ONLY our own lock instance: if this holder stalled past
      // staleLockMs and a waiter broke the lock, it now carries the
      // waiter's token — an unconditional delete would free the waiter's
      // live lock and let a third committer race its commit
      val still = try graft.util.HadoopIO.readString(lock, conf)
        catch { case _: Exception => null }
      if (still == token) graft.util.HadoopIO.delete(lock, conf)
    }
  }

  /** How often an in-flight append refreshes its pending marker, and how
    * stale a marker must be before vacuum treats its owner as crashed.
    * A live appender can never look crashed (refresh ≪ grace); a crashed
    * appender stops refreshing and its txn dir becomes reclaimable after
    * the grace, falling back to the normal age rule. */
  private[tiles] val PendingHeartbeatMs = 30000L
  private[tiles] val PendingGraceMs = 300000L

  /** Register `data/<childName>` as in-flight: creates
    * `metadata/pending/<childName>` and heartbeats its mtime from a daemon
    * thread until closed. Vacuum skips data children with a live marker. */
  private def registerPending(root: String, childName: String,
      conf: org.apache.hadoop.conf.Configuration): AutoCloseable = {
    val fs = graft.util.HadoopIO.fileSystem(root, conf)
    val dir = new org.apache.hadoop.fs.Path(s"$root/metadata/pending")
    fs.mkdirs(dir)
    val marker = new org.apache.hadoop.fs.Path(dir, childName)
    graft.util.HadoopIO.writeString(marker.toString, "in-flight", conf)
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, s"imagetable-pending-$childName")
      t.setDaemon(true)
      t
    })
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    exec.scheduleAtFixedRate(() => {
      // refresh by REWRITING the marker: Hadoop's base FileSystem.setTimes
      // is a silent no-op (and object stores like S3A don't override it),
      // which would freeze the mtime at creation and let vacuum classify a
      // live multi-hour append as crashed — exactly the 100-TB scenario
      // this marker exists for. Nobody reads the marker's CONTENT (vacuum
      // keys on mtime/existence), so a rewrite needs no atomicity.
      if (!closed.get) {
        try {
          graft.util.HadoopIO.writeString(marker.toString,
            s"in-flight ${System.currentTimeMillis()}", conf)
          // close() may have deleted the marker while this rewrite was in
          // flight (drain timeout / interrupt — it cannot wait forever on a
          // store retry storm); the re-check undoes our own re-creation so
          // an orphan "live" marker never shields a nonexistent child
          if (closed.get) fs.delete(marker, false)
        } catch { case _: Exception => () }
      }
    }, PendingHeartbeatMs, PendingHeartbeatMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => {
      closed.set(true)
      exec.shutdownNow()
      // wait for a mid-flight heartbeat rewrite to drain BEFORE deleting;
      // if the drain times out (or this thread is interrupted) the delete
      // still runs, and the stalled rewrite's own post-write `closed`
      // re-check above cleans up whichever write lands last
      try exec.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      try fs.delete(marker, false) catch { case _: Exception => () }
    }
  }

  /** Data-dir child names protected by a live pending marker; markers whose
    * heartbeat stopped longer than `graceMs` ago belong to crashed appends
    * and are garbage-collected here (their txn dirs then age out normally). */
  private def pendingChildren(root: String, graceMs: Long,
      conf: org.apache.hadoop.conf.Configuration): Set[String] = {
    val fs = graft.util.HadoopIO.fileSystem(root, conf)
    val dir = new org.apache.hadoop.fs.Path(s"$root/metadata/pending")
    if (!fs.exists(dir)) return Set.empty
    val now = System.currentTimeMillis()
    fs.listStatus(dir).toSeq.flatMap { m =>
      if (now - m.getModificationTime < graceMs) Some(m.getPath.getName)
      else { try fs.delete(m.getPath, false) catch { case _: Exception => () }; None }
    }.toSet
  }

  /** Expire all snapshots except the `keepLast` most recent (Iceberg
    * `expireSnapshots` analog): deletes their metadata files so time travel
    * to them fails fast, then returns the ids expired. Data files shared
    * with surviving snapshots are untouched — run [[vacuum]] afterwards to
    * reclaim files no surviving manifest references. */
  def expireSnapshots(spark: SparkSession, root: String, keepLast: Int = 1): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val conf = spark.sessionState.newHadoopConf()
    val current = currentSnapshot(spark, root)
    val all = listSnapshots(root, conf)
    val keep = all.sorted.takeRight(keepLast).toSet + current
    val expire = all.filterNot(keep)
    expire.foreach(id => graft.util.HadoopIO.delete(metadataPath(root, id), conf))
    expire
  }

  private def listSnapshots(root: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/metadata")
    val fs = graft.util.HadoopIO.fileSystem(root, conf)
    fs.listStatus(dir).toSeq.flatMap { s =>
      """^v(\d+)\.metadata\.json$""".r.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toLong)
    }
  }

  /** Garbage-collect the table's data directory: any file under
    * `<root>/data` that no SURVIVING snapshot's manifest references is
    * deleted — this reclaims (a) orphaned `txn-*` dirs from appends that
    * failed before their metadata commit and (b) data files stranded by
    * [[expireSnapshots]]. Reads go through manifests, never listings, so
    * vacuum can run concurrently with readers of surviving snapshots — and
    * concurrently with in-flight appends: an append registers a heartbeated
    * pending marker before its (unlocked, possibly hours-long at 100 TB)
    * data write, and vacuum skips any data child with a live marker, so
    * `minAgeMs` is a belt-and-braces age floor, not the only protection.
    * Markers whose heartbeat stopped > `pendingGraceMs` ago belong to
    * crashed appends and are reclaimed here. Returns the deleted paths. */
  def vacuum(spark: SparkSession, root: String, minAgeMs: Long = 3600000L,
      pendingGraceMs: Long = PendingGraceMs): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = graft.util.HadoopIO.fileSystem(root, conf)
    val dataDir = new org.apache.hadoop.fs.Path(s"$root/data")
    if (!fs.exists(dataDir)) return Seq.empty
    // Ordering is the whole safety argument, in two halves:
    //   DATA before MARKERS — an append registers its marker before writing
    //   any data file, so any txn dir in this listing has its marker
    //   visible in the later marker listing (reverse order: a
    //   just-registered append's files seen, marker not yet);
    //   MARKERS before REFERENCED — an append closes its marker only AFTER
    //   its metadata commit, so a child with no live marker either crashed
    //   (aged out) or its snapshot is already committed and the (later)
    //   manifest sweep sees its files as referenced. Computing `referenced`
    //   FIRST re-opened the hole for long appends: commit + marker close
    //   during the vacuum left files !referenced (stale set), !marked,
    //   !young (a 3 h append beats any minAge) → deleted although live.
    val dataChildren = fs.listStatus(dataDir)
    val inFlight = pendingChildren(root, pendingGraceMs, conf)
    val referenced: Set[String] = listSnapshots(root, conf)
      .flatMap { id =>
        // a concurrent expireSnapshots may delete a metadata file between
        // the listing and this read — a vanished snapshot contributes no
        // references (its exclusive files are then legitimately
        // reclaimable; shared files appear in surviving manifests)
        try manifest(spark, root, id)
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      }.toSet
    val now = System.currentTimeMillis()
    val deleted = Seq.newBuilder[String]
    // recursive file walk: a crashed mid-write txn dir holds its parts
    // under _temporary/<attempt>/... — a one-level listing never saw them,
    // so the bytes (and the blocking _temporary subdir) leaked forever
    def allFiles(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) out += it.next()
      out.result()
    }
    dataChildren.filterNot(s => inFlight.contains(s.getPath.getName)).foreach { sub =>
      // each child is a snapshot or txn dir of part-files
      val files = if (sub.isDirectory) allFiles(sub.getPath) else Seq(sub)
      files.foreach { f =>
        val live = referenced.contains(f.getPath.toString)
        val young = now - f.getModificationTime < minAgeMs
        val marker = f.getPath.getName.startsWith("_") // _SUCCESS etc.
        if (!live && !young && !marker) {
          fs.delete(f.getPath, false)
          deleted += f.getPath.toString
        }
      }
      // drop dirs emptied of data files (markers alone — or empty
      // _temporary attempt trees — don't keep a dir alive)
      if (sub.isDirectory &&
          allFiles(sub.getPath).forall(_.getPath.getName.startsWith("_")))
        fs.delete(sub.getPath, true)
    }
    deleted.result()
  }

  /** Incremental read: the rows ADDED between two snapshots — the files in
    * `toSnapshot`'s manifest that are not in `fromSnapshot`'s. Reads only
    * the delta (an empty diff is an empty DataFrame with the table schema),
    * which is what lets a downstream pipeline consume a growing table
    * without ever rescanning history. */
  def readIncremental(spark: SparkSession, root: String,
      fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val before = readMetadata(root, fromSnapshot, conf).manifest.map(_.path).toSet
    val to = readMetadata(root, toSnapshot, conf)
    readFiles(spark, to, to.manifest.map(_.path).filterNot(before))
  }

  /** Per-row image parity check vs the deterministic generator
    * (input_hint: "decoded-pixel allclose (PSNR≥40dB for lossy) + caption
    * equality"). Distributed: decodes on executors, returns per-row
    * verdicts; callers assert `min(psnr_db) ≥ 40 && all captions equal`.
    * PSNR=∞ (lossless exact match) is reported as 1e9 dB. */
  def parity(df: DataFrame, centers: Seq[(Double, Double)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centersB = spark.sparkContext.broadcast(centers)
    df.select("image_id", "bytes", "w", "h", "caption", "phash").map { r =>
      val imageId = r.getString(0)
      // a foreign/malformed id (not img_<digits>) is a FAILED VERDICT, not
      // a task crash — consistent with parityStats' own foreign-bytes
      // fallback; one bad row must not abort the whole parity job
      scala.util.Try(imageId.stripPrefix("img_").toLong).toOption match {
        case None => (imageId, 0.0, false, false)
        case Some(idx) =>
          // single fused pass over a per-thread reused decode buffer: PSNR vs
          // the generator formula + average-hash, with no Img / raster / native
          // Inflater allocated per row (GC was the serial term capping scaling)
          val st = Images.parityStats(r.getAs[Array[Byte]](1), idx)
          val p = if (st.w == r.getInt(2) && st.h == r.getInt(3)) st.psnrDb else 0.0
          val (lon, lat) = Images.position(idx, centersB.value)
          val expectedCaption = Images.captionFor(idx, lon, lat)
          (imageId,
            if (p.isInfinity) 1e9 else p,
            r.getString(4) == expectedCaption,
            r.getLong(5) == st.ahash)
      }
    }.toDF("image_id", "psnr_db", "caption_ok", "phash_ok")
  }
}
