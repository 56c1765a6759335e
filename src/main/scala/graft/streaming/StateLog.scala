package graft.streaming

import graft.sources.GraftFs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.annotation.tailrec

/** The one implementation of graft's two state-publication protocols.
  * Every maintainer commits a new version of its state and readers pick
  * it up — the job of the reference's catalog-snapshot publication
  * (Impala's `REFRESH` fan-out).
  *
  * '''Log-record CAS''' ([[StateLog.Log]]: IncrementalIndex, Span,
  * Winnow, Dedup, CurationIngest).
  *  - Every committed state is ONE record file `log/v<N>` of
  *    `key=value;…` fields, published by EXCLUSIVE CREATE
  *    (GraftFs.writeSmallFileExclusive — the CAS). The record names the
  *    live segment dirs and the last committed batch id. Liveness is
  *    defined by the record, never by directory listing, so a crash
  *    anywhere leaves only unreferenced orphan dirs no reader can count.
  *  - A lost race rebases ([[StateLog.Log.append]]): re-read the winner,
  *    rebuild the record on top of it, retry at the next version. A
  *    winner whose batch tag already covers ours means the batch landed
  *    elsewhere, and nothing more is published.
  *  - Ambiguous CAS: a rename that landed but reported failure is settled
  *    by reading the record back. Bodies embed writer-unique
  *    ([[StateLog.uniqueName]]) dir names, so a byte-identical body
  *    proves this writer won.
  *  - `_CURRENT` holds `v<N>`, a fast-path HINT written after each
  *    commit. Readers start there (or at the highest listed record when
  *    the hint is absent or unparseable) and walk forward to the last
  *    existing record, so a stale, torn or junk hint costs O(lag) reads,
  *    never a wrong state.
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
  * '''Version pointer''' ([[StateLog.pointer]]: IncrementalAgg, Stats,
  * Cdc, Mine, Drift, Scd2, Components, Shards, Trend). Each batch writes a
  * complete new generation under `v<N>`, then atomically overwrites
  * `_CURRENT` with `v<N>[:batch=<id>]`; readers see the old generation
  * or the new one, never a mix. The tag is the replay guard.
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

  /** `v<N>` → N; anything else → None. */
  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.drop(1).forall(_.isDigit)) name.drop(1).toLongOption
    else None

  private val MaxAttempts = 8

  /** One maintainer's log under `base`: `empty` is the state before the
    * first commit, `encode`/`decode` its record codec.
    */
  class Log[S <: Committed](empty: S, encode: S => Seq[(String, String)],
      decode: (Long, Fields) => S) {

    private def body(st: S): String =
      encode(st).map { case (k, v) => s"$k=$v" }.mkString(";")

    /** The committed record `log/v<v>`, if any. */
    def read(s: SparkSession, base: String, v: Long): Option[S] =
      GraftFs.readSmallFile(s, s"$base/log/v$v").map { b =>
        decode(v, new Fields(b.trim.split(";").map { f =>
          val i = f.indexOf('=')
          f.take(i) -> f.drop(i + 1)
        }.toMap))
      }

    /** The latest committed state: from the hint, else the highest
      * listed record, walking forward to the last record that exists.
      */
    def current(s: SparkSession, base: String): S = {
      @tailrec def walk(st: S): S = read(s, base, st.version + 1) match {
        case Some(n) => walk(n)
        case None => st
      }
      def listed: Option[Long] = {
        val (fs, q) = GraftFs.resolve(s, s"$base/log")
        if (!fs.exists(q)) None
        else fs.listStatus(q).toSeq.flatMap(f => versionOf(f.getPath.getName)).maxOption
      }
      GraftFs.readSmallFile(s, s"$base/_CURRENT").flatMap(h => versionOf(h.trim))
        .flatMap(read(s, base, _))
        .orElse(listed.map(v => read(s, base, v).getOrElse(empty)))
        .fold(empty)(walk)
    }

    /** CAS-publish `st` as `log/v<st.version>`; true when it committed. */
    def publish(s: SparkSession, base: String, st: S): Boolean = {
      val path = s"$base/log/v${st.version}"
      val b = body(st)
      val ok = GraftFs.writeSmallFileExclusive(s, path, b) ||
        GraftFs.readSmallFile(s, path).exists(_.trim == b)
      if (ok) GraftFs.writeSmallFileAtomic(s, s"$base/_CURRENT", s"v${st.version}")
      ok
    }

    /** The ingest CAS loop: publish `next(observed)`, rebasing onto the
      * winner after each lost race, at most `maxAttempts` times. Returns
      * the committed state, or None when a winner's tag covers `batchId`.
      * `abandon` runs with the last observed state on every exit that
      * published nothing.
      */
    def append(s: SparkSession, base: String, observed: S, batchId: Option[Long],
        maxAttempts: Int = MaxAttempts, abandon: S => Unit = (_: S) => ())(
        next: S => S): Option[S] = {
      var st = observed
      var attempts = 0
      while (attempts < maxAttempts) {
        attempts += 1
        val n = next(st)
        if (publish(s, base, n)) return Some(n)
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
      extends Log[S](empty, encode, decode) {

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

  /** The generation the next swap publishes: one past `p`, else 0. */
  def nextVersion(p: Option[Pointer]): Long = p.fold(0L)(_.version + 1)

  /** Point `_CURRENT` at generation `version`, tagged with `batchId` or
    * else with `prev`'s tag carried forward.
    */
  def swap(s: SparkSession, base: String, prev: Option[Pointer], version: Long,
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
