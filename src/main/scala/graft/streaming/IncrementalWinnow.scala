package graft.streaming

import graft.operators.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Incremental maintenance of the winnowing fingerprint index
  * (q_text_winnow's selection, serving q_text_winnow_pairs' match step):
  * the copy-detection index a deployment keeps under continuous ingest.
  * Fingerprints are CONTENT-ONLY (the rightmost-min selection depends on
  * nothing outside the document), so the state is a pure append of
  * per-batch distinct (doc_id, fp_hash) segments — the expensive per-doc
  * linear work (tokenize → gram hash → window-min) runs ONCE per
  * document ever; the match step at serve runs over the maintained
  * skinny relation (≈ 2/(w+1) of gram volume). The df census and df-cap
  * are GLOBAL properties and therefore evaluate at serve time over the
  * whole maintained relation — a fingerprint that becomes boilerplate in
  * batch 40 correctly drops out of matches retroactively, which is
  * exactly the one-shot semantics ([[serveWinnowPairs]] ≡
  * `winnowPairsOn` by construction: same distinct fp relation, same
  * tail).
  *
  * State protocol: the [[StateLog]] log-record CAS and segment
  * compaction (family `fps/`). Batch derivations are batch-pure, so a
  * lost publish race re-CASes the SAME segment with no recompute.
  * Segments auto-compact at [[StateLog.AutoCompactSegs]] so the record
  * body and the serve read stay O(1) in batch count.
  */
object IncrementalWinnow {

  private val fpSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("fp_hash", LongType)))

  /** One committed winnow state; `tombs` await deferred GC ([[StateLog]]). */
  private[graft] case class WinnowState(version: Long, segs: Seq[String],
      batch: Option[Long], tombs: Seq[String] = Seq.empty)
      extends StateLog.Segmented[WinnowState] {
    def swapped(version: Long, segs: Seq[String], tombs: Seq[String]): WinnowState =
      copy(version = version, segs = segs, tombs = tombs)
  }

  private val stateLog = new StateLog.Segments[WinnowState](
    WinnowState(-1L, Seq.empty, None),
    st => Seq("segs" -> StateLog.list(st.segs), "batch" -> StateLog.long(st.batch),
      "tombs" -> StateLog.list(st.tombs)),
    (v, f) => WinnowState(v, f.list("segs"), f.long("batch"), f.list("tombs")),
    families = Seq("fps"))

  /** Latest committed state ([[StateLog.Log.current]]). */
  private[graft] def currentState(s: SparkSession, base: String): WinnowState =
    stateLog.current(s, base)

  /** The committed micro-batch id. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    currentState(s, base).batch

  /** The maintained fingerprint relation (doc_id, fp_hash) from ONE
    * committed record, GLOBALLY distinct: each segment is distinct
    * within its batch, but an at-least-once source may legitimately
    * re-emit the same document under a NEW batch id (the replay guard
    * only catches same-id redelivery) — without the cross-segment
    * distinct those duplicate rows would double the df census and
    * n_shared, silently diverging from the one-shot's global
    * `.distinct()` (r13 review finding). The relation is skinny
    * (2/(w+1) density), so the dedup costs one hash aggregate.
    */
  def readFingerprints(s: SparkSession, base: String): DataFrame = {
    val st = currentState(s, base)
    if (st.segs.isEmpty) StateLog.emptyFrame(s, fpSchema)
    else s.read.schema(fpSchema).parquet(st.segs.map(n => s"$base/fps/$n"): _*)
      .distinct()
  }

  /** Ingest one batch of (doc_id, text) documents: extract winnow
    * fingerprints once, land them as a writer-unique segment, CAS the
    * record. A replayed batch id lands nothing.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None, k: Int = 3, w: Int = 4): Unit = {
    val st0 = currentState(s, base)
    if (st0.covers(batchId)) return
    val fps = TextQueries.winnowOn(batch.select("doc_id", "text"), k, w)
      .select("doc_id", "fp_hash").distinct()
    val segName = StateLog.uniqueName("b", st0.version + 1)
    fps.write.mode("overwrite").parquet(s"$base/fps/$segName")
    stateLog.append(s, base, st0, batchId, maxAttempts = 16,
        abandon = stateLog.dropUnlisted(s, base, segName)) { st =>
      Some(WinnowState(st.version + 1, st.segs :+ segName, batchId.orElse(st.batch), st.tombs))
    }.foreach(stateLog.autoCompact(s, base, _)(compactFrom(s, base, _)))
  }

  /** Fold every live fingerprint segment into ONE globally-distinct
    * segment and CAS-publish the swap ([[StateLog.Segments.compact]]).
    * Content is unchanged by construction: readFingerprints applies a
    * global distinct anyway, so pre-folding it into the compacted segment
    * is the same relation (and makes the at-least-once cross-segment
    * duplicates disappear from disk, not just from the serve view).
    */
  def compactSegments(s: SparkSession, base: String): Unit =
    compactFrom(s, base, currentState(s, base))

  /** The compaction body against an explicitly observed state — split
    * out so the spec can drive the lost-CAS rebase path
    * deterministically.
    */
  private[graft] def compactFrom(s: SparkSession, base: String, observed: WinnowState): Unit =
    stateLog.compact(s, base, observed)(_ =>
      s.read.schema(fpSchema).parquet(observed.segs.map(n => s"$base/fps/$n"): _*).distinct())

  /** The MOSS match step served from the maintained fingerprint relation
    * — ≡ q_text_winnow_pairs one-shot by construction (the fp relation
    * is content-only and distinct per doc, and the df census / df-cap /
    * pair join run the registered tail verbatim over it).
    */
  def serveWinnowPairs(s: SparkSession, base: String,
      dfCap: Int = 16, minShared: Int = 2): DataFrame =
    TextQueries.winnowPairsFromFps(readFingerprints(s, base), dfCap, minShared)

  /** Attach to a documents stream via foreachBatch (replay-protected). */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
