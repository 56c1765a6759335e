package graft.sources

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Filesystem plumbing through the Hadoop FileSystem API: layouts,
  * compaction, and incremental state live where the data lives — HDFS,
  * S3, or the local FS — so every path resolves through the session's
  * hadoopConfiguration instead of java.io.File (which silently binds the
  * whole layout layer to the driver's local disk). Relative paths
  * (builder scratch under target/) qualify against the default FS
  * working directory, preserving the local behavior the specs exercise,
  * while `hdfs://`/`s3a://` URIs route to their own FileSystem.
  */
object GraftFs {

  def resolve(s: SparkSession, p: String): (FileSystem, Path) = {
    val path = new Path(p)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(path))
  }

  /** Fully-qualified URI string for a (possibly relative) path — replaces
    * java.io.File.getAbsolutePath for scratch locations.
    */
  def qualify(s: SparkSession, p: String): String = resolve(s, p)._2.toString

  def exists(s: SparkSession, p: String): Boolean = {
    val (fs, q) = resolve(s, p)
    fs.exists(q)
  }

  /** Committed-write marker: `_SUCCESS` under a datasource output dir. */
  def hasSuccess(s: SparkSession, p: String): Boolean = exists(s, s"$p/_SUCCESS")

  /** Modification time of `p` in epoch millis; None if absent. */
  def modificationTime(s: SparkSession, p: String): Option[Long] = {
    val (fs, q) = resolve(s, p)
    if (fs.exists(q)) Some(fs.getFileStatus(q).getModificationTime) else None
  }

  def deleteRecursively(s: SparkSession, p: String): Unit = {
    val (fs, q) = resolve(s, p)
    if (fs.exists(q)) fs.delete(q, true): Unit
  }

  /** Immediate child FILES of `p` (not directories); empty if absent. */
  def listFiles(s: SparkSession, p: String): Seq[FileStatus] = {
    val (fs, q) = resolve(s, p)
    if (fs.exists(q)) fs.listStatus(q).toSeq.filter(_.isFile) else Seq.empty
  }

  /** Control files (state pointers, CAS log records) bypass the checksum
    * layer: on the local FS, `LocalFileSystem` is a ChecksumFileSystem
    * whose writes produce `.crc` sidecars and whose renames move data and
    * sidecar in TWO steps — so a reader racing an atomic swap can observe
    * new data under the old checksum (ChecksumException), and a
    * FileContext OVERWRITE rename is delete-then-rename (the pointer
    * VANISHES mid-swap). Both were spec-caught r13 (GraftFsSpec) and the
    * first is the diagnosed mechanism behind the r12 two-writer race
    * flake: the CAS loser's `_CURRENT` re-read died on the crc window,
    * silently, and its batch "vanished". The raw FS has neither problem —
    * its local rename is one POSIX rename(2), atomic including overwrite
    * — and control files are tiny single-writer-committed blobs that gain
    * nothing from checksum sidecars. Non-checksummed filesystems (HDFS,
    * object stores) pass through unchanged.
    */
  private def controlFs(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** Read a small control file; None if absent. Reads through
    * [[controlFs]] (no checksum races); retains a bounded retry for any
    * residual transient I/O window, then rethrows typed — a persistent
    * failure must surface, not spin.
    */
  def readSmallFile(s: SparkSession, p: String): Option[String] = {
    val (fs, q) = resolve(s, p)
    val raw = controlFs(fs)
    var attempt = 0
    while (true) {
      if (!raw.exists(q)) return None
      try {
        val in = raw.open(q)
        try return Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt > 20) throw e
          Thread.sleep(2L * attempt)
      }
    }
    None // unreachable
  }

  /** Storage-clock "now" for the filesystem holding `dir`: the mtime of
    * a freshly-written probe file — the SAME clock domain as every other
    * mtime under that FS, so age comparisons against it are immune to
    * client/storage clock skew (a remote store stamps mtimes with its
    * own clock, not the caller's System.currentTimeMillis). The probe is
    * removed before returning; falls back to the client clock only if
    * the FS reports no mtime.
    */
  def storageNowMs(s: SparkSession, dir: String): Long = {
    val probe = s"$dir/.clock-probe-" + java.util.UUID.randomUUID.toString.take(8)
    writeSmallFileAtomic(s, probe, "")
    try modificationTime(s, probe).getOrElse(System.currentTimeMillis())
    finally deleteRecursively(s, probe)
  }

  /** Cache tag for artifacts derived from the tables under scale dir
    * `dir`: the sanitized path plus a fingerprint of the FULLY-QUALIFIED
    * path and every backing file's (name, length, mtime). Keying
    * builder-scratch artifacts by the sanitized path ALONE serves stale
    * results when the corpus under the dir is regenerated in place — the
    * DuckDB oracle recomputes from the fresh raw tables while the engine
    * reads the old derivation, a spurious hash mismatch with no error
    * anywhere — and the sanitization can collide distinct dirs like
    * /a/b vs /a_b. The mtime/length fold invalidates on source change;
    * folding the qualified path makes distinct dirs' tags distinct BY
    * CONSTRUCTION (not merely whenever their listings happen to differ).
    * The whole dir is folded so one tag covers every derivation
    * regardless of which tables it reads.
    *
    * The tag is re-derived from a ONE-RPC shallow listing on every
    * lookup — no memo, no staleness window. r14 revalidated a
    * per-session memo with a parent-dir-mtime probe, which was also one
    * RPC but could serve a stale tag when a regeneration landed within
    * the probe's mtime granularity tick (ms on ext4, 1 s on coarser
    * filesystems — the r14 ADVICE window); folding the listing outright
    * costs the same round trip and is exact. The only invisible change
    * remains an in-place rewrite of a file's CONTENT two levels down
    * with no create/delete/rename (the child table dir's own mtime and
    * the top-level entry set are then unchanged) — no parquet writer
    * does that.
    */
  def scaleTag(s: SparkSession, dir: String): String = {
    val (fs, q) = resolve(s, dir)
    val seed = q.toString.foldLeft(1469598103934665603L)((a, c) => (a * 1099511628211L) ^ c.toLong)
    // A missing dir reads as empty; any other listing failure propagates,
    // since an empty fold would rotate the tag and silently rebuild every
    // artifact keyed by it.
    val listing =
      try { if (fs.exists(q)) fs.listStatus(q) else Array.empty[FileStatus] }
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    val h = listing.sortBy(_.getPath.getName)
      .foldLeft(seed) { (acc, st) =>
        val n = st.getPath.getName.foldLeft(acc)((a, c) => (a * 1099511628211L) ^ c.toLong)
        ((n * 1099511628211L) ^ st.getLen) * 1099511628211L ^ st.getModificationTime
      }
    dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-fp" + java.lang.Long.toHexString(h)
  }

  /** Build-once artifact derived from the tables under scale dir `dir` —
    * the one implementation of the cache every derived layout (codebooks,
    * labels, pack stores, format round-trips) rides. The artifact lives
    * at `path(scaleTag(s, dir))`, so a changed fixture listing relocates
    * it and a stale copy is never read. Under a per-path JVM lock: with
    * no `_SUCCESS` marker, any partial output is wiped, `build(base)`
    * writes the artifact under `base`, and the marker lands last. A
    * `build` that throws leaves no marker, so the next call rebuilds.
    * Nested builds take their distinct path locks in dependency order.
    * Returns the qualified `base`.
    */
  def artifact(s: SparkSession, dir: String, path: String => String)
      (build: String => Unit): String = {
    val base = qualify(s, path(scaleTag(s, dir)))
    exclusiveLocks.computeIfAbsent("artifact:" + base, _ => new Object).synchronized {
      if (!hasSuccess(s, base)) {
        deleteRecursively(s, base)
        try build(base)
        catch { case e: Throwable => deleteRecursively(s, s"$base/_SUCCESS"); throw e }
        writeSmallFileAtomic(s, s"$base/_SUCCESS", "done")
      }
    }
    base
  }

  /** An [[artifact]] that is one parquet write of `df`, read back. */
  def persisted(s: SparkSession, dir: String, path: String => String)
      (df: => DataFrame): DataFrame =
    s.read.parquet(artifact(s, dir, path)(df.write.mode(SaveMode.Overwrite).parquet(_)))

  /** Rename `from` to `to` without overwrite; false if the source is
    * missing or the destination exists — the one-winner claim primitive
    * (exactly one of N concurrent renamers of the same source succeeds).
    */
  def renameNoOverwrite(s: SparkSession, from: String, to: String): Boolean = {
    val (fs, q) = resolve(s, from)
    val (_, qTo) = resolve(s, to)
    try fs.exists(q) && fs.rename(q, qTo)
    catch { case _: java.io.IOException => false }
  }

  /** Write `content` to `p` atomically: tmp file + rename-with-overwrite
    * (atomic on HDFS and the local FS — the swap readers may race on;
    * readers additionally retry the local-FS crc-sidecar window, see
    * [[readSmallFile]]).
    *
    * Serialized per path against other THREADS of this JVM: on a
    * checksummed FS the swap is data-rename + crc-rename, and two
    * interleaved swappers can otherwise land one writer's data under the
    * other's checksum PERSISTENTLY (data_B + crc_A survives until the
    * next swap — a wedge no read retry can ride out). Cross-process
    * swappers of one pointer remain the documented per-FS caveat, same
    * as the exclusive-create matrix below.
    */
  def writeSmallFileAtomic(s: SparkSession, p: String, content: String): Unit = {
    val (fs, q) = resolve(s, p)
    val lock = exclusiveLocks.computeIfAbsent("swap:" + q.toString, _ => new Object)
    lock.synchronized {
      val raw = controlFs(fs)
      // unique tmp per writer: concurrent swappers of one target must not
      // collide on (or rename away) each other's tmp file
      val tmp = new Path(q.getParent,
        "." + q.getName + ".tmp-" + java.util.UUID.randomUUID.toString.take(8))
      val out = raw.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      if (raw ne fs) {
        // checksummed local FS: the raw rename is ONE POSIX rename(2) —
        // atomic including overwrite, no vanish window, no crc sidecar.
        // Drop any stale sidecar an earlier checksummed writer left for
        // q so third-party checksummed readers can't trip on it.
        raw.delete(new Path(q.getParent, s".${q.getName}.crc"), false)
        require(raw.rename(tmp, q) || {
          // File.renameTo can fail spuriously only cross-device; surface
          raw.exists(q) && !raw.exists(tmp)
        }, s"atomic swap rename failed for $q")
      } else {
        val fc = FileContext.getFileContext(q.toUri, s.sparkContext.hadoopConfiguration)
        fc.rename(tmp, q, Options.Rename.OVERWRITE)
      }
    }
  }

  // In-process mutexes backing writeSmallFileExclusive on filesystems
  // whose create(overwrite=false) is check-then-act (the local FS): the
  // same TOCTOU closing Delta's LogStore does per-FS; also the per-path
  // locks of writeSmallFileAtomic ("swap:") and artifact ("artifact:").
  // Keyed by qualified path; bounded by the number of distinct CAS files
  // and artifact dirs a JVM touches.
  private val exclusiveLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Exclusive create — the compare-and-swap primitive optimistic
    * publishes race on: write `content` to `p` only if `p` does not
    * already exist; returns false when another writer got there first.
    *
    * COMMIT VIA RENAME, not direct create: the content lands complete in
    * a dot-prefixed tmp sibling first and the no-overwrite rename is the
    * CAS — so a writer that crashes (or hits an I/O error) mid-write
    * leaves either nothing or an ignorable tmp orphan, NEVER a torn
    * half-written target. A torn target would wedge every future CAS on
    * this path permanently (it exists, so exclusive create always fails,
    * while its missing terminator keeps it invisible to readers — the
    * livelock a direct `create(overwrite=false)` invites). The dot
    * prefix keeps tmp orphans out of directory listings that drive
    * snapshot discovery and out of Spark file sources (both skip
    * `.`/`_`-prefixed names).
    *
    * Guarantees: atomic vs other processes on filesystems with atomic
    * no-overwrite rename (HDFS, local FS); atomic vs other THREADS of
    * this JVM everywhere (per-path mutex closes FileContext's
    * check-then-act window on the local FS). On an object store without
    * a rename/if-none-match primitive, cross-process exclusion needs an
    * external coordinator — the standard table-format caveat (Delta
    * LogStore documents the same per-FS matrix).
    */
  def writeSmallFileExclusive(s: SparkSession, p: String, content: String): Boolean = {
    val (fs, q) = resolve(s, p)
    val lock = exclusiveLocks.computeIfAbsent(q.toString, _ => new Object)
    lock.synchronized {
      if (fs.exists(q)) false
      else {
        val tmp = new Path(q.getParent,
          "." + q.getName + ".tmp-" + java.util.UUID.randomUUID.toString.take(8))
        val out = fs.create(tmp, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        try {
          val fc = FileContext.getFileContext(q.toUri, s.sparkContext.hadoopConfiguration)
          fc.rename(tmp, q) // Options.Rename.NONE: fails when q exists
          true
        } catch {
          case e: java.io.IOException =>
            try fs.delete(tmp, false): Unit catch { case _: java.io.IOException => () }
            // lost the race only if the target actually landed; any other
            // I/O failure must surface typed, not read as CAS-lost (a
            // publish loop would otherwise spin on a dead filesystem)
            if (fs.exists(q)) false else throw e
        }
      }
    }
  }
}
