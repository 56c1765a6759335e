package graft.streaming

import graft.multimodal.PackStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming ingestion INTO the generational pack store (Group L infra —
  * the s_pack_ingest component).
  *
  * [[PackStore]] gives the batch lifecycle (delta ingest, compaction,
  * retention vacuum, snapshots); a real media pipeline lands objects from
  * a STREAM — a perpetual trickle of small batches, each far too small to
  * justify touching the corpus. This component attaches that stream:
  *
  *   - **One micro-batch = one delta component.** Each foreachBatch
  *     invocation publishes the batch as a small delta (one component
  *     write + one atomic pointer swap — cost tracks the batch, never
  *     the corpus).
  *   - **Exactly-once per batch, through the pointer itself.** Structured
  *     Streaming re-runs a failed batch under the SAME batchId, and
  *     `appendDelta` is not idempotent — so the batchId is committed IN
  *     the snapshot file (`#note=batch=<id>`), atomically with the
  *     publish. A replayed batch reads the tip's note, sees its own id
  *     (or a later one) already committed, and skips. A crash BETWEEN
  *     component write and publish leaves only an unreferenced dir for
  *     vacuum — never a double publish, never a torn pointer.
  *   - **Compaction on a delta-count cadence.** When live delta
  *     components exceed `maxDeltas`, the handler compacts (one corpus
  *     pass bounding read amplification back to `nPacks` opens) and
  *     vacuums with `retainSnapshots` — keeping the audit window while
  *     actually deleting expired generations. The cadence is the
  *     standard LSM trade surfaced as a knob.
  *
  * Scale shape: steady-state per-batch cost is the batch write + two
  * small-file reads/writes; the only corpus-sized pass is the compaction,
  * whose frequency the knob bounds (amortized: every object is rewritten
  * once per compaction cycle, exactly like any LSM L0→L1).
  */
object PackIngest {

  private def batchNote(id: Long) = s"batch=$id" // read back as PackStore.Snapshot.batch

  /** Highest committed batch id visible in the snapshot log. Scans notes
    * back through the whole RETAINED window — not just the tip — because
    * any interleaved publish that carries no batch note (a manual
    * compact/vacuum, a deleteIds, another writer landing between a
    * batch's commit and its replay) would otherwise hide the committed
    * id from a tip-only read and the replayed micro-batch would
    * double-append. Cost: O(retained snapshots) small-file reads, the
    * same window every poll already walks. The remaining contract is
    * only that retention outlasts the replay horizon (the last batch),
    * which `retainSnapshots >= 2` gives by construction.
    */
  private def committedBatch(s: SparkSession, base: String): Option[Long] =
    PackStore.history(s, base).flatMap(_.batch).maxOption

  /** Land one micro-batch (media_id, payload) into the store; replayed
    * batchIds are detected via the tip snapshot's note and skipped.
    * Returns true when the batch was published (false = replay skip).
    * `upsertMode = true` publishes each batch as an atomic UPSERT
    * (tombstone + new versions in one snapshot) instead of a blind
    * append — the CDC-style ingest where a re-emitted id REPLACES its
    * old version rather than duplicating it.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String, batchId: Long,
      nPacks: Int = 1, maxDeltas: Int = 4, retainSnapshots: Int = 2,
      upsertMode: Boolean = false): Boolean = {
    import s.implicits._
    if (committedBatch(s, base).exists(_ >= batchId)) false
    else {
      // tuple column names: PackStore.writeComponent partitions on _1
      val objs = batch.selectExpr("media_id AS _1", "payload AS _2").as[(Long, Array[Byte])]
      val committed =
        if (upsertMode) PackStore.upsert(s, base, objs, note = Some(batchNote(batchId)))
        else PackStore.appendDelta(s, base, objs, note = Some(batchNote(batchId)))
      // an empty batch publishes nothing: count the tip it left in place
      val deltas = committed.getOrElse(PackStore.latest(s, base)).comps
        .count(_.dir.contains("/deltas/d"))
      if (deltas > maxDeltas) {
        PackStore.compact(s, base, nPacks, note = Some(batchNote(batchId)))
        PackStore.vacuum(s, base, retainSnapshots)
      }
      true
    }
  }

  /** Attach a (media_id, payload) stream to a pack store via foreachBatch.
    * Single writer per base (the PackStore contract): one query owns the
    * store; readers are never blocked by any of this. `upsertMode`
    * re-emits replace, append duplicates (see [[processBatch]]).
    */
  def attach(stream: DataFrame, base: String, nPacks: Int = 1, maxDeltas: Int = 4,
      retainSnapshots: Int = 2, upsertMode: Boolean = false): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processBatch(batch.sparkSession, batch, base, batchId, nPacks, maxDeltas,
        retainSnapshots, upsertMode): Unit
    }
}
