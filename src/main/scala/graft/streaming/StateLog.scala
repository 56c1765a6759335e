package graft.streaming

import graft.sources.GraftFs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.annotation.tailrec
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The one implementation of graft's two state-publication protocols.
  * Every maintainer commits a new version of its state and readers pick
  * it up — the job of the reference's catalog-snapshot publication
  * (Impala's `REFRESH` fan-out).
  *
  * '''Log-record CAS''' ([[StateLog.Log]]: IncrementalIndex, Span,
  * Winnow, Dedup, CurationIngest, and PackStore's snapshot log).
  *  - Every committed state is ONE immutable record file, published by
  *    EXCLUSIVE CREATE (GraftFs.writeSmallFileExclusive — the CAS). The
  *    [[StateLog.Layout]] names the files: maintainers keep `log/v<N>`
  *    of `key=value;…` fields with the hint `_CURRENT`=`v<N>`; PackStore
  *    keeps `snapshots/snap-<k>` (an `#eof`-terminated component list)
  *    with the hint `CURRENT`=`<k>`. A record names the live dirs and
  *    the last committed batch. Liveness is defined by the record, never
  *    by directory listing, so a crash anywhere leaves only unreferenced
  *    orphan dirs no reader can count.
  *  - A lost race rebases ([[StateLog.Log.append]]): re-read the winner,
  *    rebuild the record on top of it, retry at the next version. A
  *    winner whose batch tag already covers ours means the batch landed
  *    elsewhere, and nothing more is published; `next` may also abort.
  *  - Ambiguous CAS: a rename that landed but reported failure is settled
  *    by reading the record back. Bodies embed writer-unique
  *    ([[StateLog.uniqueName]]) dir names, so a byte-identical body
  *    proves this writer won. A lost slot whose record reads INCOMPLETE
  *    ([[StateLog.Codec]]) is torn garbage and is reclaimed; a record
  *    that cannot be read is never reclaimed.
  *  - The hint is a fast path written after each commit. A failed hint
  *    write is reported, never thrown: the record is already committed.
  *    Readers start at the hint (or at the highest complete listed
  *    record when the hint is absent, unparseable or expired) and walk
  *    forward to the last complete record, so a stale, torn or junk hint
  *    costs O(lag) reads, never a wrong state. A caller that deletes old
  *    records (PackStore's vacuum) first re-points the hint at the tip
  *    ([[StateLog.Log.rehint]]), so no walk from it crosses a gap.
  *
  * '''Segment compaction''' ([[StateLog.Segments.compact]]) folds the
  * segments of an observed state into one writer-unique `c<N>-<uid>` dir
  * per family and CASes a record that swaps them for it.
  *  - All-live guard: the fold proceeds only while EVERY folded input is
  *    still live. An overlapping concurrent fold leaves our inputs
  *    readable as tombstones; publishing ours too would list the shared
  *    content twice. An append never removes a segment, so a stale
  *    observed state rebases fine.
  *  - Deferred GC: folded inputs become the new record's `tombs` and stay
  *    on disk for readers that resolved the pre-swap record. The NEXT
  *    compaction deletes them at entry, before its own publish, so a
  *    crash cannot orphan them. The guarantee is two records deep, not a
  *    wall-clock window: back-to-back compactions shorten it.
  *  - A fold that fails after a concurrent compactor swapped any of its
  *    inputs is superseded, not failed, and returns quietly; any other
  *    fold failure is rethrown.
  *  - Rebase: a lost race keeps every segment committed since the
  *    observed state (an interleaved append loses nothing) and retries;
  *    a winner that overlapped the folded set aborts ours. Every exit that
  *    did not publish deletes our output dirs.
  *  - [[StateLog.Segments.autoCompact]] folds after an ingest publish;
  *    its failures are reported, never thrown, because the batch is
  *    already committed and the fold re-triggers on the next publish.
  *
  * '''Version pointer''' ([[StateLog.commit]]: IncrementalAgg, Stats,
  * Cdc, Mine, Drift, Scd2, Components, Shards, Trend).
  *  - A batch reads `_CURRENT` once, builds a complete new generation
  *    `v<N>` from the generation it names, writes every frame of it, and
  *    only then atomically overwrites `_CURRENT` with `v<N>[:batch=<id>]`;
  *    readers see the old generation or the new one, never a mix. The
  *    tag is the replay guard.
  *  - A failed write is rethrown once every write of the batch has
  *    settled, and the pointer does not swap; the replay rewrites `v<N>`.
  *  - A reader of several tables resolves `_CURRENT` once and reads them
  *    all from that generation, so a swap between its reads cannot serve
  *    a mix of two generations.
  *
  * In both protocols a batch id at or below the committed tag is a crash
  * replay and lands nothing ([[StateLog.Committed.covers]]), and a call
  * without a batch id carries the committed tag forward, so mixing manual
  * calls into a stream's state cannot erase its replay protection.
  */
private[graft] object StateLog {

  /** What both protocols commit: a version and the last landed batch. */
  trait Committed {
    def version: Long
    def batch: Option[Long]

    /** True when `batchId` is at or below the committed tag: a replay. */
    def covers(batchId: Option[Long]): Boolean =
      batchId.exists(id => batch.exists(_ >= id))
  }

  /** A log state whose record lists segment dirs. `tombs` are the dirs
    * folded by the last compaction, awaiting deferred GC.
    */
  trait Segmented[S] extends Committed {
    def segs: Seq[String]
    def tombs: Seq[String]

    /** This state at `version` with a compaction's segment swap applied. */
    def swapped(version: Long, segs: Seq[String], tombs: Seq[String]): S
  }

  /** The fields of one parsed record. An absent key reads as empty. */
  final class Fields(kv: Map[String, String]) {
    def str(k: String): Option[String] = kv.get(k).filter(_.nonEmpty)
    def list(k: String): Seq[String] = str(k).fold(Seq.empty[String])(_.split(",").toSeq)
    def long(k: String): Option[Long] = str(k).filter(_ != "-").map(_.toLong)
  }

  /** Field encoders matching [[Fields]]. */
  def list(xs: Seq[String]): String = xs.mkString(",")
  def long(x: Option[Long]): String = x.fold("-")(_.toString)

  /** A writer-unique dir name `<prefix><v>-<uid>`. */
  def uniqueName(prefix: String, v: Long): String =
    s"$prefix$v-${java.util.UUID.randomUUID.toString.take(8)}"

  /** What a reader sees before the first commit. */
  def emptyFrame(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)

  private val MaxAttempts = 8

  /** `<pre><digits>` → the version; anything else → None. */
  private def versionOf(pre: String, name: String): Option[Long] =
    if (name.startsWith(pre) && name.drop(pre.length).forall(_.isDigit))
      name.drop(pre.length).toLongOption
    else None

  /** Where a log's files live under its base: record `v` is
    * `<dir>/<prefix><v>`, and the hint file `hint` holds `<hintPrefix><v>`.
    */
  final case class Layout(dir: String, prefix: String, hint: String, hintPrefix: String)

  /** The maintainers' layout: `log/v<N>`, hint `_CURRENT`=`v<N>`. */
  val MaintainerLayout: Layout = Layout("log", "v", "_CURRENT", "v")

  /** A record codec. `decode` returns None for an INCOMPLETE body (a
    * read cut short, or garbage a crashed writer left); readers treat
    * such a record as absent.
    */
  final case class Codec[S](encode: S => String, decode: (Long, String) => Option[S])

  /** The maintainers' `key=value;…` codec; its records are never
    * incomplete.
    */
  def fields[S](encode: S => Seq[(String, String)], decode: (Long, Fields) => S): Codec[S] =
    Codec(st => encode(st).map { case (k, v) => s"$k=$v" }.mkString(";"),
      (v, b) => Some(decode(v, new Fields(b.trim.split(";").map { f =>
        val i = f.indexOf('=')
        f.take(i) -> f.drop(i + 1)
      }.toMap))))

  /** One log under `base`: `empty` is the state before the first commit,
    * `codec` its record codec, `layout` where its files live.
    */
  class Log[S <: Committed](empty: S, codec: Codec[S], layout: Layout = MaintainerLayout) {

    /** The file of record `v`. */
    def path(base: String, v: Long): String = s"$base/${layout.dir}/${layout.prefix}$v"

    /** Record `v`: None when absent, Some(None) when incomplete. */
    def record(s: SparkSession, base: String, v: Long): Option[Option[S]] =
      GraftFs.readSmallFile(s, path(base, v)).map(codec.decode(v, _))

    /** The committed record `v`, if it exists and is complete. */
    def read(s: SparkSession, base: String, v: Long): Option[S] = record(s, base, v).flatten

    /** Every listed record version, ascending. */
    def versions(s: SparkSession, base: String): Seq[Long] =
      GraftFs.listFiles(s, s"$base/${layout.dir}")
        .flatMap(f => versionOf(layout.prefix, f.getPath.getName)).sorted

    /** The latest committed state: from the hint, else the highest
      * complete listed record, walking forward to the last complete one.
      */
    def current(s: SparkSession, base: String): S = {
      @tailrec def walk(st: S): S = read(s, base, st.version + 1) match {
        case Some(n) => walk(n)
        case None => st
      }
      def listed: Option[S] =
        versions(s, base).reverseIterator.flatMap(read(s, base, _)).nextOption()
      GraftFs.readSmallFile(s, s"$base/${layout.hint}")
        .flatMap(h => versionOf(layout.hintPrefix, h.trim))
        .flatMap(read(s, base, _))
        .orElse(listed)
        .fold(empty)(walk)
    }

    /** CAS-publish `st` as record `st.version`; true when it committed. */
    def publish(s: SparkSession, base: String, st: S): Boolean = {
      val p = path(base, st.version)
      val b = codec.encode(st)
      val ok = GraftFs.writeSmallFileExclusive(s, p, b) ||
        (GraftFs.readSmallFile(s, p) match {
          case Some(r) if r.trim == b => true // ambiguous CAS: our rename landed
          case Some(r) if codec.decode(st.version, r).isEmpty =>
            GraftFs.deleteRecursively(s, p) // torn slot: reclaim, the retry re-arbitrates
            false
          case _ => false
        })
      // The record is committed: a stale hint costs readers a forward walk, never a wrong state.
      if (ok)
        try writeHint(s, base, st.version)
        catch {
          case e: java.io.IOException =>
            System.err.println(s"[StateLog] hint at $base left behind committed " +
              s"version ${st.version}: ${e.getMessage}")
        }
      ok
    }

    private def writeHint(s: SparkSession, base: String, v: Long): Unit =
      GraftFs.writeSmallFileAtomic(s, s"$base/${layout.hint}", s"${layout.hintPrefix}$v")

    /** Re-point the hint at the latest committed state. A caller that
      * deletes old records calls this first: a walk from a stale hint
      * stops at the first missing record, short of the tip.
      */
    def rehint(s: SparkSession, base: String): Unit = {
      val v = current(s, base).version
      if (v >= 0) writeHint(s, base, v)
    }

    /** The ingest CAS loop: publish `next(observed)`, rebasing onto the
      * winner after each lost race, at most `maxAttempts` times. Returns
      * the committed state, or None when `next` aborts (returns None) or
      * a winner's tag covers `batchId`. `abandon` runs with the last
      * observed state on every exit that published nothing.
      */
    def append(s: SparkSession, base: String, observed: S, batchId: Option[Long],
        maxAttempts: Int = MaxAttempts, abandon: S => Unit = (_: S) => ())(
        next: S => Option[S]): Option[S] = {
      var st = observed
      var attempts = 0
      while (attempts < maxAttempts) {
        attempts += 1
        next(st) match {
          case None => abandon(st); return None
          case Some(n) => if (publish(s, base, n)) return Some(n)
        }
        st = current(s, base)
        if (st.covers(batchId)) { abandon(st); return None }
      }
      abandon(st)
      throw new IllegalStateException(s"lost the publish race $attempts times at $base")
    }
  }

  /** A log of segment states; every segment name `n` owns the dirs
    * `<family>/n` of each of `families`.
    */
  class Segments[S <: Segmented[S]](empty: S, encode: S => Seq[(String, String)],
      decode: (Long, Fields) => S, families: Seq[String])
      extends Log[S](empty, fields(encode, decode)) {

    /** Delete every family dir of each of `names`. */
    def drop(s: SparkSession, base: String, names: Iterable[String]): Unit =
      for (n <- names; f <- families) GraftFs.deleteRecursively(s, s"$base/$f/$n")

    /** An [[Log.append]] `abandon`: an ingest that never published must
      * not orphan its segment `name`, and a segment the observed record
      * lists is never dropped.
      */
    def dropUnlisted(s: SparkSession, base: String, name: String)(st: S): Unit =
      if (!st.segs.contains(name)) drop(s, base, Seq(name))

    /** Fold `observed`'s segments into one dir per family and CAS the
      * swap; `fold(family)` is the compacted content of that family.
      */
    def compact(s: SparkSession, base: String, observed: S)(fold: String => DataFrame): Unit = {
      if (observed.segs.size <= 1) return
      val folded = observed.segs.toSet
      def allLive(st: S): Boolean = folded.forall(st.segs.contains)
      val cName = uniqueName("c", observed.version + 1)
      val live = current(s, base)
      if (!allLive(live)) return
      drop(s, base, live.tombs.filterNot(folded.contains))
      try families.foreach(f => fold(f).write.mode("overwrite").parquet(s"$base/$f/$cName"))
      catch {
        case e: Exception =>
          drop(s, base, Seq(cName))
          if (!allLive(current(s, base))) return
          throw e
      }
      var st = observed
      var attempts = 0
      while (true) {
        attempts += 1
        if (attempts > MaxAttempts) {
          drop(s, base, Seq(cName))
          throw new IllegalStateException(
            s"compactSegments: lost the publish race $MaxAttempts times at $base")
        }
        if (!allLive(st)) { drop(s, base, Seq(cName)); return }
        val next = st.swapped(st.version + 1,
          (cName +: st.segs.filterNot(folded.contains)).distinct, folded.toSeq.sorted)
        if (publish(s, base, next)) return
        st = current(s, base)
      }
    }

    /** After an ingest publish: fold once `committed` holds
      * [[AutoCompactSegs]] live segments, reporting a failed fold.
      */
    def autoCompact(s: SparkSession, base: String, committed: S)(compactFrom: S => Unit): Unit =
      if (committed.segs.size >= AutoCompactSegs)
        try compactFrom(committed)
        catch {
          case e: Exception =>
            System.err.println(s"[StateLog] auto-compaction at $base " +
              s"deferred to the next trigger: ${e.getMessage}")
        }
  }

  /** Auto-compaction threshold: steady-state serves and per-batch state
    * scans read a handful of dirs, not one per batch ever ingested.
    */
  val AutoCompactSegs = 16

  /** The `_CURRENT` version pointer `v<N>[:batch=<id>]`; `dir` is the
    * generation dir name.
    */
  final case class Pointer(version: Long, batch: Option[Long]) extends Committed {
    def dir: String = s"v$version"
  }

  /** The committed pointer at `base`; None before the first swap. */
  def pointer(s: SparkSession, base: String): Option[Pointer] =
    GraftFs.readSmallFile(s, s"$base/_CURRENT").map { c =>
      c.trim.split(":batch=") match {
        case Array(v, b) => Pointer(v.drop(1).toLong, Some(b.toLong))
        case Array(v) => Pointer(v.drop(1).toLong, None)
      }
    }

  /** Commit one generation behind the version pointer at `base`, the
    * only writer of `_CURRENT`. Reads the pointer once; a replay of
    * `batchId` writes nothing and returns Left(that pointer). Otherwise
    * `write(pointer, next)` builds generation `next` from the generation
    * that pointer names, as (path, frame) pairs; once they are written,
    * `_CURRENT` swaps to `next` and Right(the frames) is returned.
    */
  def commit(s: SparkSession, base: String, batchId: Option[Long])(
      write: (Option[Pointer], Long) => Seq[(String, DataFrame)])
      : Either[Option[Pointer], Seq[DataFrame]] = {
    val ptr = pointer(s, base)
    if (ptr.exists(_.covers(batchId))) return Left(ptr)
    val next = nextVersion(ptr)
    val frames = write(ptr, next)
    // the writes are INDEPENDENT jobs — overlap them from a small thread
    // pool instead of paying one sequential write barrier each; the
    // pointer swaps only after every write has committed, so readers still
    // see old-or-new, never a mix. A failed write is rethrown only after
    // ALL writes have settled and the pointer never swaps: no writer is
    // still running into `v<next>` when a replay of this batch rewrites
    // it. The pool's threads start from this one, so the writes carry its
    // Spark job group and tags.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(frames.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try frames.map { case (p, f) => Future(f.write.mode("overwrite").parquet(p)) }
      .map(Await.ready(_, Duration.Inf).value.get)
      .collectFirst { case scala.util.Failure(e) => throw e }
    finally pool.shutdown()
    swap(s, base, ptr, next, batchId)
    Right(frames.map(_._2))
  }

  /** [[commit]] of a one-frame state whose generation `v<N>` is at
    * `path("v<N>")`: `merge` maps the guarded generation's frame (empty
    * before the first commit) to the next one. Returns the next frame, or
    * on a replay the guarded one.
    */
  def commitFrame(s: SparkSession, base: String, batchId: Option[Long], schema: StructType)(
      path: String => String)(merge: DataFrame => DataFrame): DataFrame = {
    def at(p: Option[Pointer]) = readGeneration(s, p, schema)(path)
    commit(s, base, batchId)((p, v) => Seq(path(s"v$v") -> merge(at(p)))).fold(at, _.head)
  }

  /** The generation the next swap publishes: one past `p`, else 0. */
  private def nextVersion(p: Option[Pointer]): Long = p.fold(0L)(_.version + 1)

  /** Point `_CURRENT` at generation `version`, tagged with `batchId` or
    * else with `prev`'s tag carried forward.
    */
  private def swap(s: SparkSession, base: String, prev: Option[Pointer], version: Long,
      batchId: Option[Long]): Unit = {
    val tag = batchId.orElse(prev.flatMap(_.batch)).fold("")(id => s":batch=$id")
    GraftFs.writeSmallFileAtomic(s, s"$base/_CURRENT", s"v$version$tag")
  }

  /** The frame at `path(p.dir)` of generation `p`, or an empty frame of
    * `schema` before the first swap.
    */
  def readGeneration(s: SparkSession, p: Option[Pointer], schema: StructType)(
      path: String => String): DataFrame =
    p.fold(emptyFrame(s, schema))(q => s.read.schema(schema).parquet(path(q.dir)))
}
