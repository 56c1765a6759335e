package graft.multimodal

import graft.QueryDef
import graft.streaming.StateLog
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Generational pack store — the WRITE lifecycle of the packed layout.
  *
  * [[ContainerOps.ensurePackedObjects]] compacts a static corpus once; a
  * real ingest keeps RECEIVING objects after that, and each ingest batch
  * is far too small to justify rewriting the corpus. The store answers
  * with the LSM/table-format idea (log-structured merge via immutable
  * generations + an atomically-swapped pointer, the scheme Iceberg/Delta
  * snapshots and git packfiles share — all public designs):
  *
  *   - **Components are immutable.** A component = one directory of
  *     range-partitioned packfiles + its (media_id, pack_path, offset,
  *     length) parquet manifest. The initial corpus is a `packs/v0-*`
  *     component; each ingest batch lands whole as a small delta
  *     component `deltas/d-*`. Dirs are WRITER-TOKEN named (a writer
  *     doesn't know its snapshot id until its commit wins, and two
  *     concurrent writers must never share a dir). Nothing is ever
  *     modified in place.
  *   - **Snapshots are immutable too.** Every publish writes the full
  *     component list to a new immutable `snapshots/snap-<k>` record
  *     (one `dir \t minId \t maxId` line per component), so a reader sees
  *     the old or the new snapshot, never a mix. The snapshot log runs
  *     on [[graft.streaming.StateLog.Log]], the commit protocol every
  *     maintainer's log shares: an exclusive-create CAS on the next
  *     record, the ambiguous-CAS readback, the `CURRENT` hint and its
  *     forward walk. WRITERS ARE OPTIMISTICALLY CONCURRENT: a lost race
  *     rebases and retries (appends rebase onto the winner's live set;
  *     compaction aborts and re-merges when its base moved — the Iceberg
  *     rewrite-conflict rule), so independent ingest jobs share a base
  *     with no external lock. Readers are never blocked; vacuum remains
  *     admin-serialized.
  *     Retained snapshots stay readable AS OF their publish point
  *     (`scanAt`) — the Iceberg/Delta time-travel contract: an audit or
  *     a reproducibility rerun reads the exact corpus a training job
  *     saw, not whatever compaction has since rewritten.
  *   - **Reads union the live manifests.** `scan` prunes components by
  *     the live snapshot's min/max before touching their manifests (a range
  *     lookup inside the base never even reads a delta's manifest
  *     footer), then prunes packs via the manifest exactly like
  *     [[ContainerOps.packedScan]].
  *   - **Compaction bounds read amplification.** Every delta adds pack
  *     opens to a full scan; `compact` streams all live components
  *     through one range-repartition into a fresh `packs/v<k>` and
  *     publishes a snapshot naming it alone. `vacuum(retainSnapshots)`
  *     expires all but the newest N snapshots, then deletes component
  *     dirs no RETAINED snapshot references — the delete is safe
  *     precisely because every pointer that could name them is gone.
  *     Reading an expired snapshot fails with a typed error, never a
  *     dangling read.
  *
  * Scale shape: ingest cost tracks the batch (one small component write,
  * one snapshot record); scan cost tracks live bytes + live pack count;
  * compaction is the only corpus-sized pass and runs on whatever cadence
  * keeps the delta count acceptable — the standard LSM trade, made
  * explicit and spec-proven here (PackStoreSpec counts real pack opens
  * before and after).
  */
object PackStore {

  /** One live component: its dir, the id range its manifest covers, and
    * (since r7b) an optional media_id bloom filter — the zone map that
    * lets point lookups skip a component whose [min,max] covers the id
    * but whose manifest provably doesn't contain it, WITHOUT reading the
    * manifest (components published before blooms read as None = never
    * skip). Stored as a Vector for structural equality (compaction
    * validates its merge base by comparing live sets).
    */
  final case class Component(dir: String, minId: Long, maxId: Long,
      bloom: Option[Vector[Long]] = None,
      metaStats: Option[Map[String, MetaZone.ColStat]] = None)

  /** Bloom geometry: 4096 bits (64 longs, ~684 base64 chars per snapshot
    * line), 3 probes per id — at a typical delta of a few thousand
    * objects the false-positive rate is well under 1%, and a false
    * positive only costs the manifest read the bloom would have saved.
    */
  private[graft] val IdBloom = Bloom(4096)

  /** One committed snapshot: the decoded `snapshots/snap-<k>` record,
    * the one parse point every read path shares. `kind` records why the
    * snapshot exists — `init`/`delta`/`upsert` carry new data, `delete`
    * retractions, `compact` only rewrites (the bit the changelog
    * subscriber keys on); `note` is the tag the publish attached
    * ([[graft.streaming.PackIngest]] stores `batch=<id>` there, so a
    * replay is detected through the commit itself).
    */
  private[graft] final case class Snapshot(version: Long, kind: String, note: Option[String],
      comps: Seq[Component]) extends StateLog.Committed {
    def batch: Option[Long] =
      note.filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
  }

  /** A component line: `dir \t minId \t maxId [\t bloom [\t metaStats]]`.
    * Meta stats need the bloom field present; writeComponent emits both.
    */
  private def encodeLine(c: Component): String =
    (Seq(c.dir, c.minId.toString, c.maxId.toString) ++
      c.bloom.map(Bloom.encode) ++ c.bloom.flatMap(_ => c.metaStats.map(MetaZone.encode)))
      .mkString("\t")

  private def decodeLine(line: String): Component = line.split("\t") match {
    case Array(d, lo, hi, rest @ _*) if rest.size <= 2 && lo.toLongOption.isDefined &&
        hi.toLongOption.isDefined =>
      Component(d, lo.toLong, hi.toLong, rest.headOption.map(Bloom.decode),
        rest.lift(1).map(MetaZone.decode))
    case other => throw new IllegalStateException(s"bad snapshot line: ${other.mkString("\t")}")
  }

  /** The snapshot log, on [[StateLog.Log]]: records `snapshots/snap-<k>`,
    * hint `CURRENT`=`<k>`. A record is `#kind=`, an optional `#note=`,
    * one line per component, and the `#eof` terminator. A body without
    * `#eof` is INCOMPLETE (a torn read or a crashed writer's garbage): a
    * read cut at a line boundary would otherwise parse as a valid but
    * shorter component list and silently drop that snapshot's adds.
    * Files from before kinds existed read as `delta`, the conservative
    * choice (a subscriber would rather re-emit than drop).
    */
  private val snapLog = new StateLog.Log[Snapshot](Snapshot(-1L, "init", None, Seq.empty),
    StateLog.Codec[Snapshot](
      st => (Seq(s"#kind=${st.kind}") ++ st.note.map(n => s"#note=$n") ++
        st.comps.map(encodeLine) :+ "#eof").mkString("\n"),
      (v, body) =>
        if (!body.trim.endsWith("#eof")) None
        else {
          val lines = body.split("\n").filter(_.nonEmpty).toSeq
          def field(k: String) = lines.find(_.startsWith(s"#$k=")).map(_.stripPrefix(s"#$k="))
          Some(Snapshot(v, field("kind").getOrElse("delta"), field("note"),
            lines.filterNot(_.startsWith("#")).map(decodeLine)))
        }),
    StateLog.Layout("snapshots", "snap-", "CURRENT", ""))

  /** The latest committed snapshot (version -1 on an empty store). */
  private[graft] def latest(s: SparkSession, base: String): Snapshot = snapLog.current(s, base)

  /** Latest published snapshot id (None on an empty store). */
  def latestSnapshotId(s: SparkSession, base: String): Option[Long] =
    Some(latest(s, base).version).filter(_ >= 0)

  /** Every listed snapshot id, ascending. */
  private[graft] def snapshotIds(s: SparkSession, base: String): Seq[Long] =
    snapLog.versions(s, base)

  /** Snapshot `id`. Typed failure, never a dangling or short read: the
    * snapshot was vacuumed away or never existed, or its content is
    * incomplete (the caller's retry or replay machinery does its job).
    */
  private[graft] def snapshotAt(s: SparkSession, base: String, id: Long): Snapshot =
    snapLog.record(s, base, id) match {
      case None => throw new IllegalArgumentException(
        s"snapshot $id of $base is expired or was never published")
      case Some(None) => throw new IllegalStateException(
        s"snapshot $id of $base is incomplete (missing #eof terminator): " +
          "torn read or abandoned write — retry, or reclaim via publish")
      case Some(Some(snap)) => snap
    }

  /** Components of snapshot `id`, typed as [[snapshotAt]]. */
  def readSnapshot(s: SparkSession, base: String, id: Long): Seq[Component] =
    snapshotAt(s, base, id).comps

  def readCurrent(s: SparkSession, base: String): Seq[Component] = latest(s, base).comps

  /** The latest snapshot, then each older one down to the first that is
    * expired — each snapshot file read once.
    */
  private[graft] def history(s: SparkSession, base: String): Iterator[Snapshot] =
    Iterator.iterate(Option(latest(s, base)).filter(_.version >= 0))(
      _.filter(_.version > 0).flatMap(p => snapLog.read(s, base, p.version - 1)))
      .takeWhile(_.isDefined).flatten

  /** Qualified component dirs snapshot `id` references, for a GC scan.
    * Only a snapshot that vanished since the listing (vacuumed) or is
    * torn (an in-flight write, whose staged dirs the grace age protects)
    * reads as referencing nothing. Any other failure — an I/O error past
    * [[graft.sources.GraftFs.readSmallFile]]'s retries, a bad line —
    * propagates: read as empty, it would let the caller delete dirs a
    * committed snapshot still names.
    */
  private def snapshotRefs(s: SparkSession, base: String, id: Long): Seq[String] =
    snapLog.read(s, base, id).fold(Seq.empty[String])(
      _.comps.map(c => graft.sources.GraftFs.qualify(s, c.dir)))

  /** CAS attempts before a publish fails typed. Every lost attempt means
    * SOME writer committed, so only pathological contention or a store
    * wedged by external garbage exhausts it.
    */
  private val MaxPublishAttempts = 1000

  /** OPTIMISTIC publish of a `kind` snapshot through the log's CAS loop
    * ([[StateLog.Log.append]]): `rebase` maps the freshly read live
    * component set to the set to publish, or None to abort (e.g. a
    * compaction whose base moved). The committed snapshot, or None on
    * abort.
    */
  private def publish(s: SparkSession, base: String, kind: String, note: Option[String])(
      rebase: Seq[Component] => Option[Seq[Component]]): Option[Snapshot] =
    snapLog.append(s, base, latest(s, base), None, maxAttempts = MaxPublishAttempts) { tip =>
      rebase(tip.comps).map(Snapshot(tip.version + 1, kind, note, _))
    }

  // --------------------------------------------------------------------
  // Named refs (tags) — immutable human-named pins on snapshot ids, the
  // Iceberg tag idea (TableMetadata refs / `ALTER TABLE ... CREATE TAG`):
  // a release, an audit point, or a training-run input is named once and
  // stays readable regardless of the count-based retention window,
  // because vacuum treats tagged snapshots as retained. Tag files live
  // under refs/ with the same #eof torn-read discipline as snapshots and
  // commit via exclusive create — immutable by construction (re-pointing
  // a name is dropTag + createTag, both explicit).
  // --------------------------------------------------------------------

  private def tagPath(base: String, name: String) = s"$base/refs/tag-$name"
  private val TagRefName = "tag-(.+)".r

  /** Pin snapshot `id` under `name`. Fails typed if the snapshot is not
    * complete-and-present (never tag what can't be read back) or the
    * name is taken (tags are immutable).
    */
  def createTag(s: SparkSession, base: String, name: String, id: Long): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"tag name must be [A-Za-z0-9._-]+: '$name'")
    if (snapLog.read(s, base, id).isEmpty)
      throw new IllegalArgumentException(
        s"cannot tag snapshot $id of $base: missing, torn, or expired")
    if (!graft.sources.GraftFs.writeSmallFileExclusive(s, tagPath(base, name), s"$id\n#eof"))
      throw new IllegalStateException(
        s"tag '$name' already exists on $base — tags are immutable (dropTag first)")
  }

  /** The snapshot id `name` pins; typed failure on unknown or torn tag. */
  def resolveTag(s: SparkSession, base: String, name: String): Long =
    graft.sources.GraftFs.readSmallFile(s, tagPath(base, name)) match {
      case Some(c) if c.trim.endsWith("#eof") => c.trim.linesIterator.next().trim.toLong
      case Some(_) => throw new IllegalStateException(
        s"tag '$name' of $base is torn (missing #eof terminator)")
      case None => throw new IllegalArgumentException(s"no tag '$name' on $base")
    }

  /** All readable tags, name-sorted. Torn, vanished and foreign-content
    * tag files are skipped (the listing must tolerate tmp droppings); an
    * I/O error propagates, since [[vacuum]] pins snapshots by this list.
    */
  def listTags(s: SparkSession, base: String): Seq[(String, Long)] =
    graft.sources.GraftFs.listFiles(s, s"$base/refs")
      .flatMap(_.getPath.getName match {
        case TagRefName(n) =>
          try Some(n -> resolveTag(s, base, n)) catch { case _: IllegalStateException |
              _: IllegalArgumentException => None }
        case _ => None
      }).sortBy(_._1)

  /** Remove the pin; the snapshot then expires under normal retention. */
  def dropTag(s: SparkSession, base: String, name: String): Unit =
    graft.sources.GraftFs.deleteRecursively(s, tagPath(base, name))

  /** Read the corpus exactly as the tagged snapshot published it. */
  def scanTag(s: SparkSession, base: String,
      name: String): Dataset[ContainerOps.ContainerRow] =
    scanAt(s, base, resolveTag(s, base, name))

  // --------------------------------------------------------------------
  // Branches — writable named forks (Iceberg branch semantics): a branch
  // is a FULL store rooted at $base/branches/<name> whose snapshot log
  // starts from a fork of a parent snapshot's component list. Component
  // dirs are recorded as absolute paths, so the fork shares the parent's
  // immutable components byte-for-byte with zero copying, and every
  // store operation (append/delete/upsert/compact/vacuum/scan/meta/tags,
  // even nested branches) works on the branch base unchanged. The
  // parent's vacuum treats branch-referenced dirs as live (whatever a
  // branch's own log has not pruned, it holds); a STRICT fast-forward
  // mergeBranch publishes the branch's live set back onto a parent whose
  // content has not moved since the fork; and dropBranch refuses while
  // any parent-side snapshot still references branch-owned dirs (a
  // parent compaction rehomes the bytes, after which the drop is clean).
  // --------------------------------------------------------------------

  private def branchRoot(base: String) = s"$base/branches"

  /** The branch's store base — pass it to ANY PackStore operation. */
  def branchBase(base: String, name: String): String = s"${branchRoot(base)}/$name"

  private def forkPath(base: String, name: String) = s"${branchBase(base, name)}/FORK"

  /** Fork parent snapshot `at` (default: the current tip) as writable
    * branch `name`. The FORK file commits via exclusive create (the tag
    * discipline) and doubles as the name lock; the branch's snapshot 0
    * republishes the forked component list verbatim — zero bytes copied.
    */
  /** A torn FORK younger than this is indistinguishable from a CONCURRENT
    * createBranch sitting between its exclusive FORK write and its
    * snapshot-0 publish — reclaiming it would delete the winner's lock
    * and type every later read of the branch as torn. Only a FORK older
    * than the grace window is treated as a crashed create.
    */
  private[graft] val TornReclaimGraceMs = 30000L

  def createBranch(s: SparkSession, base: String, name: String,
      at: Option[Long] = None): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"branch name must be [A-Za-z0-9._-]+: '$name'")
    val forkId = at.orElse(latestSnapshotId(s, base)).getOrElse(
      throw new IllegalArgumentException(s"cannot branch empty store $base"))
    val comps = readSnapshot(s, base, forkId) // typed if torn/expired
    if (!graft.sources.GraftFs.writeSmallFileExclusive(s, forkPath(base, name),
        s"$forkId\n#eof")) {
      // A FORK file with NO snapshot 0 is a torn create (crash between the
      // two steps) — reclaim it instead of wedging the name forever, but
      // ONLY once it has aged past the grace window: a young FORK may be
      // a concurrent create that has not published snapshot 0 yet. A
      // healthy branch still refuses typed.
      if (latestSnapshotId(s, branchBase(base, name)).isDefined)
        throw new IllegalStateException(
          s"branch '$name' already exists on $base (dropBranch first)")
      // Age from the STORAGE clock (a fresh probe file's mtime), not the
      // client clock: on a remote/NFS-style FS, client/storage skew would
      // otherwise misclassify a live concurrent createBranch as
      // reclaimable (or keep a genuinely torn FORK perpetually "young").
      val age = graft.sources.GraftFs.modificationTime(s, forkPath(base, name))
        .map(graft.sources.GraftFs.storageNowMs(s, branchRoot(base)) - _)
      if (age.exists(_ < TornReclaimGraceMs))
        throw new IllegalStateException(
          s"branch '$name' on $base has a FORK younger than the reclaim " +
            s"grace (${age.get} ms < $TornReclaimGraceMs ms): a concurrent " +
            "createBranch may be mid-publish — retry later or dropBranch")
      // Claim the torn FORK by renaming it aside: exactly ONE of N
      // past-grace reclaimers wins the rename, so a loser can never
      // delete the winner's freshly-recreated FORK out from under it.
      // The exclusive re-create below stays the final arbiter against
      // creators that slip in after the claim.
      if (!graft.sources.GraftFs.renameNoOverwrite(s, forkPath(base, name),
          s"${branchBase(base, name)}/.FORK-reclaimed-" +
            java.util.UUID.randomUUID.toString.take(8)))
        throw new IllegalStateException(
          s"branch '$name' already exists on $base (lost the reclaim race)")
      graft.sources.GraftFs.deleteRecursively(s, branchBase(base, name))
      if (!graft.sources.GraftFs.writeSmallFileExclusive(s, forkPath(base, name),
          s"$forkId\n#eof"))
        throw new IllegalStateException(
          s"branch '$name' already exists on $base (lost the reclaim race)")
    }
    publish(s, branchBase(base, name), "init", Some(s"fork:$forkId"))(_ => Some(comps)): Unit
    forkId
  }

  /** The branch's live component list, read via its committed tip — TYPED
    * failure on a torn branch (FORK file but no snapshot 0, the
    * crash-between-steps state of createBranch), where readCurrent's
    * empty-fold would silently present the branch as an empty store and
    * let a fast-forward merge wipe the parent's live set at tip.
    */
  private def branchLive(s: SparkSession, base: String, name: String): Seq[Component] = {
    branchForkId(s, base, name): Unit // typed on unknown/torn FORK
    latestSnapshotId(s, branchBase(base, name)) match {
      case Some(tip) => readSnapshot(s, branchBase(base, name), tip)
      case None => throw new IllegalStateException(
        s"branch '$name' of $base is torn (FORK without snapshot 0 — " +
          "interrupted createBranch): re-create or drop it")
    }
  }

  /** The parent snapshot id `name` forked from; typed on unknown/torn. */
  def branchForkId(s: SparkSession, base: String, name: String): Long =
    graft.sources.GraftFs.readSmallFile(s, forkPath(base, name)) match {
      case Some(c) if c.trim.endsWith("#eof") => c.trim.linesIterator.next().trim.toLong
      case Some(_) => throw new IllegalStateException(
        s"branch '$name' of $base has a torn FORK file")
      case None => throw new IllegalArgumentException(s"no branch '$name' on $base")
    }

  /** All readable branches, name-sorted, with their fork ids. Torn,
    * vanished and foreign-content FORK files are skipped; an I/O error
    * propagates.
    */
  def listBranches(s: SparkSession, base: String): Seq[(String, Long)] = {
    val (fs, q) = graft.sources.GraftFs.resolve(s, branchRoot(base))
    if (!fs.exists(q)) Seq.empty
    else fs.listStatus(q).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      try Some(n -> branchForkId(s, base, n)) catch { case _: IllegalStateException |
          _: IllegalArgumentException => None }
    }.sortBy(_._1)
  }

  /** The live parsed view of branch `name` — typed on a torn branch
    * (see [[branchLive]]) instead of silently reading it as empty.
    */
  def scanBranch(s: SparkSession, base: String,
      name: String): Dataset[ContainerOps.ContainerRow] = {
    branchLive(s, base, name): Unit // typed guard; scan re-resolves the tip
    scan(s, branchBase(base, name))
  }

  /** Every component dir any on-disk snapshot of any branch (recursively)
    * references — the parent vacuum's branch-liveness set. ALL snapshot
    * files on disk count, not a retention window: each branch prunes its
    * own log with its own vacuum, and whatever it has not pruned, it
    * holds. Vanished and torn/in-flight snapshot files are skipped (see
    * [[snapshotRefs]]); any other read failure propagates.
    */
  private def branchLiveRefs(s: SparkSession, base: String,
      exclude: Option[String] = None): Set[String] = {
    val (fs, q) = graft.sources.GraftFs.resolve(s, branchRoot(base))
    if (!fs.exists(q)) return Set.empty
    fs.listStatus(q).toSeq.filter(_.isDirectory).flatMap { st =>
      val bb = st.getPath.toString
      if (exclude.contains(bb)) Seq.empty
      else {
        val own = snapshotIds(s, bb).flatMap(snapshotRefs(s, bb, _))
        own ++ branchLiveRefs(s, bb, None)
      }
    }.toSet
  }

  /** STRICT fast-forward merge: publish branch `name`'s live component
    * list onto the parent, requiring the parent's live CONTENT to equal
    * what the branch forked — if the parent moved, the merge refuses
    * typed (the Iceberg fast-forward rule; rebase-by-hand is a re-fork).
    * The fork component list resolves from the parent's fork snapshot or,
    * when retention expired it there, from the branch's own snapshot 0 —
    * typed failure if both are gone. The new parent snapshot references
    * branch-owned dirs; branch liveness protects them until a parent
    * compaction rehomes the bytes, after which [[dropBranch]] is clean.
    */
  def mergeBranch(s: SparkSession, base: String, name: String): Long = {
    val forkId = branchForkId(s, base, name)
    val forkComps =
      try readSnapshot(s, base, forkId)
      catch {
        case _: IllegalArgumentException => // expired on the parent
          try readSnapshot(s, branchBase(base, name), 0L)
          catch {
            case _: IllegalArgumentException => throw new IllegalStateException(
              s"merge of branch '$name': fork snapshot $forkId expired on both " +
                "the parent and the branch log — re-fork to merge")
          }
      }
    val branchTip = branchLive(s, base, name) // typed on a torn branch
    publish(s, base, "delta", Some(s"merge:$name")) { mainLive =>
      if (mainLive == forkComps) Some(branchTip) else None
    }.map(_.version).getOrElse(throw new IllegalStateException(
      s"merge of branch '$name' into $base refused: parent content diverged " +
        s"from fork snapshot $forkId (non-fast-forward)"))
  }

  /** Delete branch `name` — refused typed while the parent store (its
    * snapshot log or any OTHER branch) still references dirs owned by
    * this branch, because dropping then would dangle a committed
    * snapshot (the just-merged state). A parent compact + vacuum
    * rehomes/releases the refs; then the drop removes the subtree.
    */
  def dropBranch(s: SparkSession, base: String, name: String): Unit = {
    val bb = graft.sources.GraftFs.qualify(s, branchBase(base, name))
    val parentRefs = snapshotIds(s, base).flatMap(snapshotRefs(s, base, _))
      .toSet ++ branchLiveRefs(s, base, exclude = Some(bb))
    val held = parentRefs.filter(_.startsWith(bb + "/"))
    if (held.nonEmpty)
      throw new IllegalStateException(
        s"dropBranch('$name') refused: ${held.size} component dir(s) under the " +
          "branch are still referenced by the parent store (merged but not yet " +
          "compacted away) — compact + vacuum the parent first")
    graft.sources.GraftFs.deleteRecursively(s, bb)
  }

  /** Unique writer token for component staging dirs: two concurrent
    * writers must never share a dir, and a writer doesn't know its
    * snapshot id until its CAS wins — so dirs are token-named, not
    * id-named. Randomness here never touches query OUTPUT (results flow
    * through manifests; dir names appear in no row), so the engine's
    * no-RNG-at-runtime determinism rule is about different bytes.
    */
  private def writerToken(): String = java.util.UUID.randomUUID.toString.take(8)


  /** Test seam (the RetryProbe test main under src/test): when true, the
    * FIRST attempt of pack-writing task 0 throws after its first object
    * lands — local mode shares the JVM, so the static is visible from
    * executor threads (the RetryProbe.fired idiom).
    */
  @volatile private[graft] var failFirstWriteAttempt: Boolean = false

  /** Set when the injected failure actually threw (proves the probe probed). */
  @volatile private[graft] var writeFailureFired: Boolean = false

  /** Write one immutable component: payloads range-partitioned into
    * `nPacks` packfiles under `dir`, manifest rows (media_id, pack_path,
    * offset, length) emitted from the same executor-side pass. Returns
    * the component with its measured id range.
    *
    * RETRY/SPECULATION SAFETY: the pack write is a side effect outside
    * Spark's output-commit protocol, so two attempts of one task (retry
    * after a mid-write crash, or a speculative duplicate) must never
    * race one file. Each attempt writes its OWN file —
    * `pack-<pid>-a<taskAttemptId>.bin` — and the manifest (a normal
    * Spark-committed parquet write) only ever contains the surviving
    * attempt's rows, which reference that attempt's complete file. A
    * dead attempt leaves an orphan pack file, nothing more; `vacuum`
    * sweeps orphans out of live component dirs by diffing the dir
    * listing against the manifest.
    */
  def writeComponent(s: SparkSession, objs: Dataset[(Long, Array[Byte])],
      dir: String, nPacks: Int): Component = {
    import s.implicits._
    val manifest = objs
      .repartitionByRange(nPacks, col("_1"))
      .sortWithinPartitions("_1")
      .mapPartitions { it: Iterator[(Long, Array[Byte])] =>
        val tc = org.apache.spark.TaskContext.get()
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val attempt = if (tc == null) 0L else tc.taskAttemptId()
        val conf = new org.apache.hadoop.conf.Configuration()
        val packPath = s"$dir/pack-$pid-a$attempt.bin"
        val p = new org.apache.hadoop.fs.Path(packPath)
        val fs = p.getFileSystem(conf)
        val out = fs.create(p, true)
        var off = 0L
        var n = 0
        val entries = Iterator.newBuilder[(Long, String, Long, Int)]
        try it.foreach { case (id, payload) =>
          out.write(payload)
          entries += ((id, packPath, off, payload.length))
          off += payload.length
          n += 1
          if (failFirstWriteAttempt && pid == 0 && tc != null && tc.attemptNumber() == 0 && n == 1) {
            writeFailureFired = true
            throw new RuntimeException("PackStore: injected first-attempt failure")
          }
        } finally out.close()
        entries.result()
      }
      .toDF("media_id", "pack_path", "offset", "length")
    manifest.write.mode("overwrite").parquet(s"$dir/manifest")
    val mm = s.read.parquet(s"$dir/manifest")
      .agg(min("media_id"), max("media_id")).head
    // empty input (e.g. compacting a fully-tombstoned store): an EMPTY
    // component — inverted range so every range prune skips it, all-zero
    // bloom — never a null-row NPE; callers may drop it from the publish
    if (mm.isNullAt(0)) Component(dir, 0L, -1L, Some(IdBloom.of(Nil)))
    else Component(dir, mm.getLong(0), mm.getLong(1), Some(bloomOf(s, s"$dir/manifest")))
  }

  /** An empty component (inverted id range) carries no objects. */
  private def isEmptyComponent(c: Component): Boolean = c.maxId < c.minId

  /** Bloom zone map over a parquet path's media_id column: distinct BIT
    * POSITIONS are collected, not ids, so the driver-side mass is
    * bounded by the bloom width however large the component is (one narrow
    * pass over the id column).
    */
  private def bloomOf(s: SparkSession, parquetPath: String): Vector[Long] = {
    import s.implicits._
    IdBloom.of(s.read.parquet(parquetPath)
      .select("media_id").as[Long]
      .mapPartitions(_.flatMap(IdBloom.positions))
      .distinct().collect())
  }

  private def isTombstone(c: Component): Boolean = c.dir.contains("/tombs/")

  /** DELETE by id — the tombstone publish completing the store's CRUD
    * story. The id set lands as its own immutable component (a plain
    * media_id parquet under `tombs/t-*`, min/max + bloom on its
    * snapshot line like any component); scans SUBTRACT live tombstones
    * with a distributed anti-join (never a collected id set — a 100 TB
    * store can carry billions of tombstones); time travel naturally
    * shows pre-delete snapshots intact; compaction materializes the
    * subtraction and publishes WITHOUT the tombstones — the physical
    * drop, after which vacuum reclaims both the tombstone dirs and the
    * dropped bytes. An empty id set publishes nothing.
    */
  def deleteIds(s: SparkSession, base: String, ids: Dataset[Long],
      note: Option[String] = None): Unit = {
    val dir = s"$base/tombs/t-${writerToken()}"
    ids.toDF("media_id").write.mode("overwrite").parquet(dir)
    val mm = s.read.parquet(dir).agg(min("media_id"), max("media_id")).head
    if (!mm.isNullAt(0)) {
      val comp = Component(dir, mm.getLong(0), mm.getLong(1), Some(bloomOf(s, dir)))
      publish(s, base, "delete", note)(live => Some(live :+ comp)): Unit
    }
  }

  /** Atomic UPSERT: replace-or-insert the batch's objects in ONE
    * publish. The snapshot appends a tombstone for the batch's ids
    * (subtracting every PRIOR version — position-aware scan semantics)
    * followed by the new delta, so readers see either the old versions
    * or the new ones, never a mix and never a gap — the non-atomic
    * delete-then-append pair cannot promise that. Changelog consumers
    * see the snapshot as retractions + adds in the same poll (apply
    * deletes before adds). Insert-only rows ride along: an id with no
    * prior version is simply added (its tombstone entry subtracts
    * nothing). The tombstone ids are read back from the delta's own
    * committed manifest, so a retried publish can never tombstone ids
    * the delta doesn't carry. Returns the committed snapshot, None for an
    * empty batch.
    */
  def upsert(s: SparkSession, base: String, objs: Dataset[(Long, Array[Byte])],
      nPacks: Int = 1, note: Option[String] = None,
      meta: Option[org.apache.spark.sql.DataFrame] = None): Option[Snapshot] = {
    if (objs.isEmpty) return None // an empty upsert publishes nothing
    val token = writerToken()
    val dDir = s"$base/deltas/d-$token"
    val dComp0 = writeComponent(s, objs, dDir, nPacks)
    val dComp = meta.fold(dComp0)(m => dComp0.copy(metaStats = Some(writeMeta(s, dDir, m))))
    val tDir = s"$base/tombs/t-$token"
    s.read.parquet(s"$dDir/manifest").select("media_id")
      .write.mode("overwrite").parquet(tDir)
    val tComp = Component(tDir, dComp.minId, dComp.maxId, Some(bloomOf(s, tDir)))
    publish(s, base, "upsert", note)(live => Some(live :+ tComp :+ dComp))
  }

  /** Initialize the store: the whole batch becomes component packs/v0,
    * published as snapshot 0. A second concurrent init is a caller bug
    * and fails typed (the store was no longer empty at publish time).
    */
  def initBase(s: SparkSession, base: String, objs: Dataset[(Long, Array[Byte])],
      nPacks: Int, meta: Option[org.apache.spark.sql.DataFrame] = None): Unit = {
    val dir = s"$base/packs/v0-${writerToken()}"
    val comp0 = writeComponent(s, objs, dir, nPacks)
    val comp = meta.fold(comp0)(m => comp0.copy(metaStats = Some(writeMeta(s, dir, m))))
    val ok = publish(s, base, "init", None) { live =>
      if (live.nonEmpty) None else Some(Seq(comp))
    }
    if (ok.isEmpty)
      throw new IllegalStateException(s"initBase on non-empty store $base")
  }

  /** Land one ingest batch as a small delta component and publish it.
    * Component dirs are writer-token named (unique per attempt), so
    * CONCURRENT appenders never share a dir and a delta written after a
    * compaction can never collide with one an older retained snapshot
    * references; the optimistic publish rebases onto whatever live set
    * wins the race — two concurrent appends both land, in some order.
    * Returns the committed snapshot, None for an empty batch.
    */
  def appendDelta(s: SparkSession, base: String, objs: Dataset[(Long, Array[Byte])],
      nPacks: Int = 1, note: Option[String] = None,
      meta: Option[org.apache.spark.sql.DataFrame] = None): Option[Snapshot] = {
    val dir = s"$base/deltas/d-${writerToken()}"
    val comp0 = writeComponent(s, objs, dir, nPacks)
    if (isEmptyComponent(comp0)) { // empty batch: publish nothing
      graft.sources.GraftFs.deleteRecursively(s, dir)
      return None
    }
    val comp = meta.fold(comp0)(m => comp0.copy(metaStats = Some(writeMeta(s, dir, m))))
    publish(s, base, "delta", note)(live => Some(live :+ comp))
  }

  /** Attach the batch's record-level metadata to a component dir: a
    * `meta/` parquet whose rows MUST cover exactly the batch's ids (the
    * caller's contract), restricted to them by a manifest semi-join so a
    * wider frame cannot leak rows for ids the component doesn't carry.
    * Written BEFORE the publish, like every other component file — a
    * crash leaves an unreferenced dir for vacuum, never a half-indexed
    * live component.
    */
  private def writeMeta(s: SparkSession, dir: String,
      meta: org.apache.spark.sql.DataFrame): Map[String, MetaZone.ColStat] = {
    val ids = s.read.parquet(s"$dir/manifest").select("media_id")
    meta.join(ids, Seq("media_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$dir/meta")
    // zone maps over what actually LANDED (post-restriction), read back
    // from the committed parquet so stats can never drift from content
    MetaZone.statsOf(s, s.read.parquet(s"$dir/meta"))
  }

  /** Raw bytes of every live object whose id falls in `idRange` (all when
    * None): component-pruned by the snapshot's min/max, pack-pruned by the
    * manifests, positioned range reads in (pack_path, offset) order.
    * Parallelism scales with bytes, not pack count: entries shuffle on
    * (pack_path, offset-chunk of `chunkBytes`), so a large pack is read
    * by many tasks over disjoint ranges (see [[ContainerOps.packedScan]]).
    */
  def scanBytes(s: SparkSession, base: String,
      idRange: Option[(Long, Long)] = None,
      chunkBytes: Long = 128L << 20,
      snapshot: Option[Long] = None): Dataset[(Long, Array[Byte])] = {
    val comps = snapshot.fold(readCurrent(s, base))(readSnapshot(s, base, _))
    scanComponents(s, comps, idRange, chunkBytes)
  }

  /** Raw bytes of every object in an EXPLICIT component list (the seam
    * snapshot scans and the changelog subscriber share): min/max-pruned
    * by idRange, pack-pruned by the manifests, offset-chunked positioned
    * reads exactly as [[scanBytes]] documents.
    */
  def scanComponents(s: SparkSession, comps: Seq[Component],
      idRange: Option[(Long, Long)] = None,
      chunkBytes: Long = 128L << 20,
      idFilter: Option[org.apache.spark.sql.DataFrame] = None): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    val pruned = idRange.fold(comps) { case (lo, hi) =>
      comps.filter(c => c.maxId >= lo && c.minId <= hi)
        // bloom zone map for NARROW lookups: when the range is small
        // enough to test id-by-id, a component whose [min,max] covers it
        // but whose bloom rejects every id is skipped before its
        // manifest is ever read (blooms absent = never skip)
        .filter(c => hi - lo >= 64 ||
          c.bloom.forall(b => (lo to hi).exists(IdBloom.mightContain(b, _))))
    }
    // POSITION-AWARE subtraction: a tombstone subtracts only from
    // components that precede it in the live list. deleteIds appends its
    // tombstone last (subtracts from everything live at delete time);
    // a LATER append/upsert of the same id is NOT subtracted — the
    // re-added version resurrects, exactly the ordered-log semantics a
    // table format needs for atomic upserts. Components with the same
    // number of tombstones after them share one subtractor set, so the
    // scan degenerates to (#tombstones-in-window + 1) anti-joins at
    // worst — and to the plain union when no tombstone is live.
    val tombsAfter = pruned.zipWithIndex.filter(p => isTombstone(p._1))
    if (tombsAfter.isEmpty) scanData(s, pruned, idRange, chunkBytes, idFilter)
    else {
      tombstoneSegments(pruned).map { case (comps, tombs) =>
        val raw = scanData(s, comps, idRange, chunkBytes, idFilter)
        if (tombs.isEmpty) raw
        else {
          // distributed subtraction: tombstone parquets anti-join the
          // scan — the id set never collects to the driver
          val tombIds = tombIdsOf(s, tombs).distinct()
          // rename back to tuple columns so downstream consumers
          // (compact → writeComponent repartitions on "_1") see the
          // same shape as the tombstone-free branch
          raw.toDF("media_id", "payload")
            .join(tombIds, Seq("media_id"), "left_anti")
            .select(col("media_id").as("_1"), col("payload").as("_2"))
            .as[(Long, Array[Byte])]
        }
      }.reduceOption(_.unionByName(_))
        .getOrElse(scanData(s, Seq.empty, idRange, chunkBytes, idFilter))
    }
  }

  /** Segment a live component list for position-aware subtraction: data
    * components with the same tombstones-after set share one segment;
    * segments in deterministic order. Shared by the byte scan and the
    * metadata scan so the two views can never disagree on versioning.
    */
  private def tombstoneSegments(comps: Seq[Component]): Seq[(Seq[Component], Seq[Component])] = {
    val tombsAfter = comps.zipWithIndex.filter(p => isTombstone(p._1))
    comps.zipWithIndex.filterNot(p => isTombstone(p._1))
      .groupBy { case (_, i) => tombsAfter.count(_._2 > i) }
      .toSeq.sortBy(_._1) // deterministic plan assembly
      .map { case (n, cs) => (cs.map(_._1), tombsAfter.takeRight(n).map(_._1)) }
  }

  /** The fixed manifest schema ([[writeComponent]]'s output) — passed
    * explicitly so manifest reads skip per-relation schema inference,
    * and so N components read as ONE multi-path relation (r17: each
    * `s.read.parquet(path)` call costs ~0.1 s of driver-side relation
    * resolution; a live set of k components paid it k times per scan).
    */
  private val ManifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pack_path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("offset", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.IntegerType)))

  /** Tombstone component schema ([[deleteIds]]'s output). */
  private val TombSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType)))

  /** One multi-path relation over every tombstone component's id parquet —
    * same rows as the per-component unionByName it replaces (order is
    * irrelevant: every consumer distincts or anti-joins), one relation
    * resolution instead of |tombs|.
    */
  private def tombIdsOf(s: SparkSession, tombs: Seq[Component]): org.apache.spark.sql.DataFrame =
    s.read.schema(TombSchema).parquet(tombs.map(_.dir): _*).select("media_id")

  private def scanData(s: SparkSession, live: Seq[Component],
      idRange: Option[(Long, Long)],
      chunkBytes: Long,
      idFilter: Option[org.apache.spark.sql.DataFrame]): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    // ONE multi-path relation over every live manifest (r17): same rows
    // as the unionByName-of-single-path-reads it replaces (downstream
    // repartitions by (pack, chunk), so inter-file row order is
    // irrelevant), but one driver-side relation resolution + listing
    // instead of |live|, and zero schema inference.
    val manifests =
      if (live.isEmpty)
        s.emptyDataset[(Long, String, Long, Int)]
          .toDF("media_id", "pack_path", "offset", "length")
      else s.read.schema(ManifestSchema).parquet(live.map(c => s"${c.dir}/manifest"): _*)
    val ranged = idRange.foldLeft(manifests) {
      case (m, (lo, hi)) => m.filter(col("media_id").between(lo, hi))
    }
    // metadata-predicate pruning happens HERE, at the manifest level —
    // entries that fail the semi-join never reach the repartition, so a
    // pack none of whose objects qualify gets zero read tasks and is
    // never opened (CountingFileSystem-proven)
    val manifest = idFilter.foldLeft(ranged) {
      (m, ids) => m.join(ids.select("media_id"), Seq("media_id"), "left_semi")
    }
    val fsImpls: Seq[(String, String)] = {
      import scala.jdk.CollectionConverters._
      s.sparkContext.hadoopConfiguration.asScala
        .filter(e => e.getKey.startsWith("fs.") && e.getKey.endsWith(".impl"))
        .map(e => e.getKey -> e.getValue).toVector
    }
    manifest
      .repartition(col("pack_path"), floor(col("offset") / chunkBytes))
      .sortWithinPartitions(col("pack_path"), col("offset"))
      .select(col("media_id").as[Long], col("pack_path").as[String],
        col("offset").as[Long], col("length").as[Int])
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        fsImpls.foreach { case (k, v) => conf.set(k, v) }
        var curPack: String = null
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        def close(): Unit = if (in != null) { in.close(); in = null }
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => close())
        it.map { case (id, pack, off, len) =>
          if (pack != curPack) {
            close()
            val p = new org.apache.hadoop.fs.Path(pack)
            in = p.getFileSystem(conf).open(p)
            curPack = pack
          }
          val buf = new Array[Byte](len)
          in.readFully(off, buf)
          (id, buf)
        }
      }
  }

  /** RECORD-LEVEL METADATA over the live store: the union of every live
    * data component's `meta/` parquet (publishes attach one via the
    * `meta` parameter), with the SAME position-aware tombstone
    * subtraction as the byte scan — so the metadata view and the byte
    * view can never disagree on which version of an id is live. A
    * queryable index: predicates on it prune byte reads (see
    * [[scanBytesWhere]]) without touching payload bytes. Components
    * published without metadata simply contribute no rows. Planning cost
    * is one existence probe per live component — the same O(components)
    * driver mass the manifest reads already pay.
    */
  def scanMeta(s: SparkSession, base: String): org.apache.spark.sql.DataFrame =
    metaOfComponents(s, readCurrent(s, base))

  /** The live-metadata view of an EXPLICIT component list (the seam
    * [[scanMeta]] and the compactions share — a fold must carry its
    * inputs' metadata forward or the index silently dies at the first
    * compaction).
    */
  private def metaOfComponents(s: SparkSession,
      comps: Seq[Component]): org.apache.spark.sql.DataFrame = {
    val withMeta = tombstoneSegments(comps).flatMap { case (data, tombs) =>
      val metas = data.map(c => s"${c.dir}/meta")
        .filter(graft.sources.GraftFs.exists(s, _))
        .map(s.read.parquet(_))
      // SCHEMA EVOLUTION: publishes may widen the metadata schema over
      // time; columns a component predates read as NULL for its rows
      // (the Iceberg/Delta add-column semantic). TYPE changes for an
      // existing column fail typed HERE, before any union — Spark's own
      // union would silently coerce (string kind + int kind → runtime
      // cast errors on data rows), and an index column must never be
      // coerced.
      val types = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.types.DataType]
      for (m <- metas; f <- m.schema.fields) types.get(f.name) match {
        case Some(t) if t != f.dataType => throw new IllegalArgumentException(
          s"meta column ${f.name} changed type across publishes: $t vs ${f.dataType}")
        case _ => types.update(f.name, f.dataType)
      }
      metas.reduceOption(_.unionByName(_, allowMissingColumns = true)).map { m =>
        if (tombs.isEmpty) m
        else m.join(tombIdsOf(s, tombs).distinct(), Seq("media_id"), "left_anti")
      }
    }
    withMeta.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(s.emptyDataFrame.withColumn("media_id", lit(0L)).limit(0))
  }

  /** Drop data components whose snapshot-line META zone maps prove the
    * predicate can match none of their rows — BEFORE any of their files
    * (meta parquet, manifest, packs) is opened. Tombstones always stay
    * (they subtract, they don't match), components without stats (no
    * meta attached, or published pre-stats) always stay — strictly
    * conservative, so the pruned scan is value-identical to the full
    * one. This converts the metadata read path from O(live components)
    * file opens to O(qualifying components).
    */
  private def pruneByMetaStats(s: SparkSession, comps: Seq[Component],
      pred: org.apache.spark.sql.Column): Seq[Component] = {
    val e = org.apache.spark.sql.GraftPlanBridge.columnExpr(pred)
    comps.filter(c => isTombstone(c) ||
      !c.metaStats.exists(MetaZone.excludes(_, e)))
  }

  /** The live-metadata view restricted by `pred`, with zone-map
    * component pruning applied first: only components whose stats admit
    * a match ever have their meta parquet opened.
    */
  def scanMetaWhere(s: SparkSession, base: String,
      pred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    metaOfComponents(s, pruneByMetaStats(s, readCurrent(s, base), pred)).filter(pred)

  /** Metadata-pruned byte scan: only objects whose LIVE metadata row
    * satisfies `pred` are fetched. Two pruning levels compound: the
    * snapshot-line zone maps skip whole components (meta parquet never
    * opened — see [[scanMetaWhere]]), and the surviving id set
    * semi-joins the manifests BEFORE the chunked fetch, so packs with
    * no qualifying object get zero read tasks and are never opened —
    * the point of a manifest-level index at 100 TB ("only the WAVs over
    * 8 kHz" reads the WAV bytes, not the corpus).
    */
  def scanBytesWhere(s: SparkSession, base: String, pred: org.apache.spark.sql.Column,
      chunkBytes: Long = 128L << 20): Dataset[(Long, Array[Byte])] = {
    val keep = pruneByMetaStats(s, readCurrent(s, base), pred)
    val ids = metaOfComponents(s, keep).filter(pred).select("media_id")
    scanComponents(s, keep, None, chunkBytes, Some(ids))
  }

  /** Parsed view of the live store (the ContainerParser over scanBytes). */
  def scan(s: SparkSession, base: String,
      idRange: Option[(Long, Long)] = None): Dataset[ContainerOps.ContainerRow] = {
    import s.implicits._
    scanBytes(s, base, idRange)
      .mapPartitions(_.map { case (id, bytes) => ContainerOps.ContainerParser.parse(id, bytes) })
  }

  /** TIME TRAVEL: the parsed corpus exactly as snapshot `id` published
    * it — components are immutable and snapshot files pin the set, so
    * compactions/ingests after `id` are invisible here. Fails typed if
    * the snapshot has been expired by a retention vacuum.
    */
  def scanAt(s: SparkSession, base: String, id: Long): Dataset[ContainerOps.ContainerRow] = {
    import s.implicits._
    scanBytes(s, base, snapshot = Some(id))
      .mapPartitions(_.map { case (id, bytes) => ContainerOps.ContainerParser.parse(id, bytes) })
  }

  /** Merge every live component into one fresh base generation and
    * publish a snapshot naming it alone — full scans drop back to
    * `nPacks` opens. VALIDATED optimistic commit: compaction merged a
    * specific live set, and publishing over a set that changed mid-merge
    * (a concurrent delta landed) would LOSE that delta — so the rebase
    * aborts when the base moved and the whole merge retries against the
    * fresh tip; the abandoned generation dir is an unreferenced orphan
    * vacuum sweeps. The Iceberg rewrite-conflict rule.
    */
  def compact(s: SparkSession, base: String, nPacks: Int,
      note: Option[String] = None): Unit = {
    var done = false
    while (!done) {
      val merged = readCurrent(s, base)
      val dir = s"$base/packs/v-${writerToken()}"
      val comp0 = writeComponent(s, scanComponents(s, merged), dir, nPacks)
      // fully-tombstoned store (every id deleted, then compacted): the
      // merge is EMPTY — publish the empty component list (the physical
      // drop of everything) and leave the empty generation dir as a
      // vacuum-able orphan, instead of a component built from no rows
      // carry the live metadata into the merged generation — a fold that
      // dropped it would silently kill the index at the first compaction
      val newGen =
        if (isEmptyComponent(comp0)) Seq.empty[Component]
        else {
          val meta = metaOfComponents(s, merged)
          Seq(if (meta.columns.length > 1)
            comp0.copy(metaStats = Some(writeMeta(s, dir, meta))) else comp0)
        }
      done = publish(s, base, "compact", note) { live =>
        if (live == merged) Some(newGen) else None
      }.isDefined
    }
  }

  /** TAIL compaction — the LSM L0 merge: fold the live list's trailing
    * run of delta/tombstone components into ONE fresh delta without
    * rewriting the base generation(s). Read amplification drops back to
    * (prefix + tombstones + 1) opens while the corpus-sized rewrite (and
    * the physical drop of tombstoned bytes) stays with full [[compact]] —
    * at 100 TB a nightly tail fold costs proportional to the day's
    * ingest, not the corpus. Semantics are preserved exactly: the tail's
    * tombstones are REPUBLISHED ahead of the merged component (they must
    * keep subtracting from the untouched prefix), and the merge itself
    * is the position-aware scan of the tail, so versions/deletes inside
    * the tail resolve before the fold. Validated optimistic commit, like
    * full compaction.
    */
  def compactTail(s: SparkSession, base: String, nPacks: Int = 1,
      note: Option[String] = None): Unit = {
    var done = false
    while (!done) {
      val live = readCurrent(s, base)
      val split = 1 + live.lastIndexWhere(c =>
        !c.dir.contains("/deltas/") && !isTombstone(c))
      val (prefix, tail) = live.splitAt(split)
      // nothing to fold: a tail of at most one data component and no
      // version/delete history to resolve
      if (tail.count(!isTombstone(_)) <= 1 && !tail.exists(isTombstone)) return
      val merged = scanComponents(s, tail)
      val newTail =
        if (merged.isEmpty) tail.filter(isTombstone) // tail data fully deleted
        else {
          val dir = s"$base/deltas/d-${writerToken()}"
          val comp0 = writeComponent(s, merged, dir, nPacks)
          val meta = metaOfComponents(s, tail)
          val comp = if (meta.columns.length > 1)
            comp0.copy(metaStats = Some(writeMeta(s, dir, meta))) else comp0
          tail.filter(isTombstone) :+ comp
        }
      done = publish(s, base, "compact", note) { cur =>
        if (cur == live) Some(prefix ++ newTail) else None
      }.isDefined
    }
  }

  /** Never-referenced dirs younger than this survive vacuum by default:
    * a CONCURRENT writer's staged-but-not-yet-published component is
    * indistinguishable from an abandoned orphan by listing alone, and
    * optimistic concurrency explicitly allows that window — so sweeping
    * it needs an age threshold (Iceberg remove_orphan_files' `olderThan`
    * pattern). One hour comfortably exceeds any component write+publish.
    */
  val DefaultOrphanGraceMs: Long = 60L * 60 * 1000

  /** Expire all but the newest `retainSnapshots` snapshots, then delete
    * component dirs no retained snapshot references (safe exactly
    * because every pointer that could name them is gone first). The
    * default keeps only the latest snapshot — the no-time-travel
    * behavior; a larger retention is the audit/reproducibility window,
    * priced in storage exactly like Iceberg's expire_snapshots.
    *
    * Unreferenced dirs come in two provably different kinds, swept under
    * different rules:
    *   - referenced by an EXPIRED snapshot: published and superseded —
    *     no writer can still be filling it; deleted immediately.
    *   - referenced by NO snapshot at all: either an abandoned orphan
    *     (crashed writer, aborted compaction) or a concurrent writer's
    *     IN-FLIGHT staging dir — deleted only when older than
    *     `orphanGraceMs`, so racing a vacuum against a live appender
    *     can never dangle the appender's winning publish.
    */
  def vacuum(s: SparkSession, base: String, retainSnapshots: Int = 1,
      orphanGraceMs: Long = DefaultOrphanGraceMs): Unit = {
    // expiring snapshots makes the only gaps in the log; a stale hint
    // below one would hide every snapshot above it
    snapLog.rehint(s, base)
    val snapIds = snapshotIds(s, base)
    // tagged snapshots are pinned OUTSIDE the count window (Iceberg tag
    // semantics): a tag holds both the snapshot file and every component
    // it references, however old — dropTag returns it to normal retention
    val tagged = listTags(s, base).map(_._2).toSet
    val (windowExpired, windowRetained) =
      snapIds.splitAt(math.max(0, snapIds.size - math.max(1, retainSnapshots)))
    val expired = windowExpired.filterNot(tagged)
    val retained = snapIds.filter(id => tagged(id) || windowRetained.contains(id))
    // read expired component lists BEFORE deleting their pointers: dirs
    // they reference are provably published, hence immediately sweepable
    val expiredRefs = expired.flatMap(readSnapshot(s, base, _))
      .map(c => graft.sources.GraftFs.qualify(s, c.dir)).toSet
    // pointers first: an expired snapshot must be unreadable before any
    // component it references can go
    expired.foreach(id => graft.sources.GraftFs.deleteRecursively(s, snapLog.path(base, id)))
    // qualify both sides of the liveness check: snapshot files carry dirs
    // as written (possibly scheme-less), listStatus returns them qualified.
    // Branch-referenced dirs are live too (a fork shares the parent's
    // components; whatever a branch's own log retains, the parent must
    // not sweep) — this covers both the immediate expired-ref sweep and
    // the grace-age orphan sweep.
    val allLive = retained.flatMap(readSnapshot(s, base, _))
    val live = allLive.map(c => graft.sources.GraftFs.qualify(s, c.dir)).toSet ++
      branchLiveRefs(s, base)
    val sweepBefore = System.currentTimeMillis() - math.max(0L, orphanGraceMs)
    for (family <- Seq("packs", "deltas", "tombs");
         st <- {
           val (fs, q) = graft.sources.GraftFs.resolve(s, s"$base/$family")
           if (fs.exists(q)) fs.listStatus(q).toSeq else Seq.empty
         } if st.isDirectory && !live.contains(st.getPath.toString)
           if expiredRefs.contains(st.getPath.toString) ||
              st.getModificationTime < sweepBefore)
      graft.sources.GraftFs.deleteRecursively(s, st.getPath.toString)
    // orphan sweep INSIDE live data components: pack files written by dead
    // task attempts (retry/speculation) are unreferenced by the committed
    // manifest — diff the dir listing against it and delete the rest
    // (tombstone components are plain parquet dirs, no packs to sweep)
    val liveComps = allLive.filterNot(isTombstone)
      .map(c => graft.sources.GraftFs.qualify(s, c.dir)).distinct
    for (dir <- liveComps) {
      val referenced = s.read.parquet(s"$dir/manifest")
        .select("pack_path").distinct.collect()
        .map(r => graft.sources.GraftFs.qualify(s, r.getString(0))).toSet
      for (f <- graft.sources.GraftFs.listFiles(s, dir)
           if f.getPath.getName.startsWith("pack-") && !referenced.contains(f.getPath.toString))
        graft.sources.GraftFs.deleteRecursively(s, f.getPath.toString)
    }
  }

  /** The snapshot the lifecycle store's FIRST compaction publishes —
    * the ≤-c2 (80%) corpus view [[mmPackTimetravel]] time-travels to.
    * Sequence below: init=0, delta=1, compact=2, delta=3, compact=4.
    */
  val TimeTravelSnapId = 2L

  /** Full store lifecycle, then the oracle check on what survived it:
    * the corpus lands 60% as base v0, takes a delta to 80%, compacts
    * (snapshot 2 — the retained time-travel point), takes the final
    * delta to 100%, compacts again, and is vacuumed with a 3-snapshot
    * retention — so v0 and the first delta are GONE (the vacuum really
    * deletes), while snapshot 2 stays readable as-of (the retention
    * really retains). The latest view must still parse to EXACTLY the
    * container oracle (compaction/vacuum lost and invented nothing);
    * the snapshot-2 view must equal the ≤80% cut. Built once per scale
    * dir behind the fingerprint guard; PackStoreSpec drives the interim
    * states (merged-view equality, open counts, pointer atomicity,
    * expired-snapshot typed failure) at spec scale.
    */
  def ensureLifecycleStore(s: SparkSession, dir: String): String =
    graft.sources.GraftFs.artifact(s, dir, tag =>
        s"target/graft-pack-store/${ContainerOps.payloadFingerprint}-p${ContainerOps.NumPacks}-snap2/$tag") { base =>
      import s.implicits._
      val objs = ContainerOps.containerTable(s, dir)
      val ids = objs.map(_._1)
      val (lo, hi) = (ids.agg(min("value")).head.getLong(0), ids.agg(max("value")).head.getLong(0))
      val c1 = lo + (hi - lo) * 6 / 10
      val c2 = lo + (hi - lo) * 8 / 10
      initBase(s, base, objs.filter(_._1 <= c1), ContainerOps.NumPacks)     // snapshot 0
      appendDelta(s, base, objs.filter(o => o._1 > c1 && o._1 <= c2))       // snapshot 1
      compact(s, base, ContainerOps.NumPacks)                               // snapshot 2 (≤ c2)
      appendDelta(s, base, objs.filter(_._1 > c2))                          // snapshot 3
      compact(s, base, ContainerOps.NumPacks)                               // snapshot 4 (all)
      vacuum(s, base, retainSnapshots = 3)                                  // expire 0, 1
    }

  val mmPackLifecycle = QueryDef(
    "q_mm_pack_lifecycle",
    (s, dir) => {
      val base = ensureLifecycleStore(s, dir)
      scan(s, base).toDF().orderBy("media_id")
    },
    Some(ContainerOps.containerOracleForStore),
  )

  /** TIME TRAVEL, oracle-checked: reading the lifecycle store AS OF its
    * first compaction (snapshot 2) must return exactly the ≤-80%-cut
    * corpus — two ingests and a rewriting compaction happened AFTER
    * that snapshot, and none of it may show. DuckDB reproduces the cut
    * with the same integer arithmetic over min/max doc_id that the
    * lifecycle build used, so the boundary is independently derived.
    */
  val mmPackTimetravel = QueryDef(
    "q_mm_pack_timetravel",
    (s, dir) => {
      val base = ensureLifecycleStore(s, dir)
      scanAt(s, base, TimeTravelSnapId).toDF().orderBy("media_id")
    },
    Some(s"""SELECT * FROM (
${ContainerOps.containerOracleBaseForStore}
) t WHERE media_id <= (SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) * 8 // 10 FROM documents)
ORDER BY media_id"""),
  )

  /** Named-ref read path: pin the lifecycle store's retained compaction
    * snapshot under a tag and read THROUGH the name — resolution + the
    * as-of scan under the same oracle as q_mm_pack_timetravel (a tag is
    * a name for a snapshot, nothing else, and this proves it). Tag
    * creation is first-rep-only (tags are immutable; later reps and
    * racing creators land on the already-exists arm and just read).
    * Vacuum protection of tagged snapshots outside the retention window
    * is PackTagSpec's job at spec scale.
    */
  val mmPackTags = QueryDef(
    "q_mm_pack_tags",
    (s, dir) => {
      val base = ensureLifecycleStore(s, dir)
      try createTag(s, base, "q80", TimeTravelSnapId)
      catch { case _: IllegalStateException => () } // already tagged: read it
      scanTag(s, base, "q80").toDF().orderBy("media_id")
    },
    mmPackTimetravel.oracle,
  )

  /** Delete-lifecycle store: the full corpus lands, every media_id ≡ 3
    * (mod 10) is tombstoned, and the store is compacted + vacuumed — so
    * the deleted objects are PHYSICALLY gone (no tombstone survives the
    * compaction, no dropped byte survives the vacuum), and the scan must
    * equal the oracle's `media_id % 10 <> 3` cut. Built once per scale
    * dir behind the fingerprint guard.
    */
  def ensureDeleteStore(s: SparkSession, dir: String): String =
    graft.sources.GraftFs.artifact(s, dir, tag =>
        s"target/graft-pack-deletes/${ContainerOps.payloadFingerprint}-p${ContainerOps.NumPacks}-s2/$tag") { base =>
      import s.implicits._
      val objs = ContainerOps.containerTable(s, dir)
      initBase(s, base, objs, ContainerOps.NumPacks)          // snapshot 0
      deleteIds(s, base, objs.map(_._1).filter(_ % 10 == 3L)) // snapshot 1
      compact(s, base, ContainerOps.NumPacks)                 // snapshot 2 (physical drop)
      vacuum(s, base)
    }

  /** DELETE path, oracle-checked end-to-end: ingest → tombstone →
    * compact → vacuum, then the surviving store must parse to exactly
    * the oracle's surviving-id cut — DuckDB derives the same `% 10 <> 3`
    * predicate independently, so the subtraction, the physical drop, and
    * the reclamation are all under the hash compare.
    */
  val mmPackDeletes = QueryDef(
    "q_mm_pack_deletes",
    (s, dir) => {
      val base = ensureDeleteStore(s, dir)
      scan(s, base).toDF().orderBy("media_id")
    },
    Some(s"""SELECT * FROM (
${ContainerOps.containerOracleBaseForStore}
) t WHERE media_id % 10 <> 3 ORDER BY media_id"""),
  )

  /** Upsert-lifecycle store: the full corpus lands, every media_id ≡ 3
    * (mod 10) is atomically REPLACED with its v2 payload (reversed body
    * text, identical headers) in one tombstone+delta publish, and the
    * store is deliberately NOT compacted — so the scan must exercise the
    * position-aware subtraction live (old versions subtracted, the new
    * delta NOT subtracted by its own tombstone). Built once per scale
    * dir behind the fingerprint guard.
    */
  def ensureUpsertStore(s: SparkSession, dir: String): String =
    graft.sources.GraftFs.artifact(s, dir, tag =>
        s"target/graft-pack-upserts/${ContainerOps.payloadFingerprint}-p${ContainerOps.NumPacks}-s1/$tag") { base =>
      val objs = ContainerOps.containerTable(s, dir)
      initBase(s, base, objs, ContainerOps.NumPacks)                    // snapshot 0
      upsert(s, base, ContainerOps.containerTableV2(s, dir).filter(_._1 % 10 == 3L)) // snapshot 1
    }

  /** Atomic UPSERT, oracle-checked end-to-end: ingest → one-publish
    * replace of the ≡3 (mod 10) ids with v2 payloads → live scan. DuckDB
    * independently derives BOTH versions' bytes (v2 = reversed body
    * text) and mixes them on the same predicate, so the oracle pins the
    * position-aware subtraction (old versions gone, new versions NOT
    * subtracted by their own tombstone) checksum-for-checksum.
    */
  val mmPackUpserts = QueryDef(
    "q_mm_pack_upserts",
    (s, dir) => {
      val base = ensureUpsertStore(s, dir)
      scan(s, base).toDF().orderBy("media_id")
    },
    Some(s"""SELECT * FROM (
${ContainerOps.containerOracleBaseForStore}
) t WHERE media_id % 10 <> 3
UNION ALL
SELECT * FROM (
${ContainerOps.containerOracleBaseV2ForStore}
) t WHERE media_id % 10 = 3
ORDER BY media_id"""),
  )

  /** Metadata-indexed store: the corpus lands with parse-derived
    * record-level metadata attached to each publish, and the ≡3 (mod 10)
    * ids are atomically upserted to v2 (reversed body text) WITH their
    * v2 metadata — so the meta view must track live versions through the
    * same position-aware subtraction as the bytes. Built once per scale
    * dir behind the fingerprint guard.
    */
  def ensureMetaStore(s: SparkSession, dir: String): String = {
    def metaOf(objs: Dataset[(Long, Array[Byte])]): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      objs.map { case (id, b) => ContainerOps.ContainerParser.parse(id, b) }
        .toDF().select("media_id", "format", "sample_rate", "n_bytes")
    }
    graft.sources.GraftFs.artifact(s, dir, tag =>
        s"target/graft-pack-meta/${ContainerOps.payloadFingerprint}-p${ContainerOps.NumPacks}-s2zm/$tag") { base =>
      val v1 = ContainerOps.containerTable(s, dir)
      initBase(s, base, v1, ContainerOps.NumPacks, meta = Some(metaOf(v1)))    // snapshot 0
      val v2 = ContainerOps.containerTableV2(s, dir).filter(_._1 % 10 == 3L)
      upsert(s, base, v2, meta = Some(metaOf(v2)))                             // snapshot 1
    }
  }

  /** Metadata-pruned scan, oracle-checked end-to-end: "the 16 kHz+ WAVs"
    * are selected on the META view (no payload bytes touched for the
    * rest of the corpus — CountingFileSystem-proven in PackStoreSpec),
    * fetched, and re-parsed; DuckDB derives the same cut — including the
    * upserted v2 checksums — purely from doc columns, so the metadata
    * index, the manifest semi-join, and the version tracking all sit
    * under the hash compare.
    */
  val mmPackMeta = QueryDef(
    "q_mm_pack_meta",
    (s, dir) => {
      import s.implicits._
      val base = ensureMetaStore(s, dir)
      scanBytesWhere(s, base, col("format") === "wav" && col("sample_rate") >= 16000)
        .mapPartitions(_.map { case (id, bytes) => ContainerOps.ContainerParser.parse(id, bytes) })
        .toDF().orderBy("media_id")
    },
    Some(s"""SELECT * FROM (
SELECT * FROM (
${ContainerOps.containerOracleBaseForStore}
) t WHERE media_id % 10 <> 3
UNION ALL
SELECT * FROM (
${ContainerOps.containerOracleBaseV2ForStore}
) t WHERE media_id % 10 = 3
) u WHERE format = 'wav' AND sample_rate >= 16000 ORDER BY media_id"""),
  )

  /** Branch-lifecycle store: main lands 60% of the corpus, an `ingest`
    * branch forks it, takes the 60–80% delta ON THE BRANCH (main never
    * sees in-progress work — the write-audit-publish staging pattern
    * branches exist for), fast-forward-merges back, and main then takes
    * the final 20%, compacts (rehoming the merged branch component into
    * main packs), vacuums, and drops the branch. The final scan must
    * equal the full-container oracle exactly: fork/merge/drop lost and
    * invented nothing. Built once per scale dir behind the fingerprint
    * guard; divergence refusal, drop refusal, and parent-vacuum
    * protection are PackBranchSpec's job at spec scale.
    */
  def ensureBranchStore(s: SparkSession, dir: String): String =
    graft.sources.GraftFs.artifact(s, dir, tag =>
        s"target/graft-pack-branch/${ContainerOps.payloadFingerprint}-p${ContainerOps.NumPacks}/$tag") { base =>
      import s.implicits._
      val objs = ContainerOps.containerTable(s, dir)
      val ids = objs.map(_._1)
      val (lo, hi) = (ids.agg(min("value")).head.getLong(0), ids.agg(max("value")).head.getLong(0))
      val c1 = lo + (hi - lo) * 6 / 10
      val c2 = lo + (hi - lo) * 8 / 10
      initBase(s, base, objs.filter(_._1 <= c1), ContainerOps.NumPacks)  // main snap 0
      createBranch(s, base, "ingest")                                    // branch @ fork 0
      appendDelta(s, branchBase(base, "ingest"),
        objs.filter(o => o._1 > c1 && o._1 <= c2))                       // branch-only delta
      mergeBranch(s, base, "ingest")                                     // main snap 1 (ff)
      appendDelta(s, base, objs.filter(_._1 > c2))                       // main snap 2
      compact(s, base, ContainerOps.NumPacks)                            // main snap 3
      vacuum(s, base, retainSnapshots = 1, orphanGraceMs = 0L)           // expire 0-2
      dropBranch(s, base, "ingest")                                      // refs rehomed: clean
      vacuum(s, base, retainSnapshots = 1, orphanGraceMs = 0L)           // sweep released dirs
    }

  /** Branch lifecycle end-to-end under the full-container oracle: data
    * staged on a branch, fast-forward-merged, compacted into main, the
    * branch dropped — and the surviving corpus byte-identical to the
    * oracle's independent reconstruction.
    */
  val mmPackBranch = QueryDef(
    "q_mm_pack_branch",
    (s, dir) => {
      val base = ensureBranchStore(s, dir)
      scan(s, base).toDF().orderBy("media_id")
    },
    Some(ContainerOps.containerOracleForStore),
  )

  def defs: Seq[QueryDef] = Seq(mmPackLifecycle, mmPackTimetravel, mmPackDeletes,
    mmPackUpserts, mmPackMeta, mmPackTags, mmPackBranch)
}
