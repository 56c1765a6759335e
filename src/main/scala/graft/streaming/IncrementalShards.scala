package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming shard export — q_pipeline_shards' byte-targeted manifest
  * maintained exactly-once over a document stream: each micro-batch of
  * docs (arriving in doc_id order — the ingest contract every offset
  * scheme needs) extends the global byte sequence from the state's
  * running total, assigns shards by starting offset, and MERGES its
  * per-shard partials into the versioned manifest (sum/min/max are
  * associative, so a shard spanning a batch boundary merges exactly).
  * The manifest is versioned behind the [[StateLog]] version pointer;
  * IncrementalShardsSpec pins final manifest ≡ the one-shot operator.
  *
  * Scale: per batch the merge touches |shards| + |batch| rows; the
  * manifest is bytes/16 KiB rows — tiny relative to the data forever.
  */
object IncrementalShards {

  val ShardBytes = 16384L

  private val stateSchema = StructType(Seq(
    StructField("shard_id", LongType), StructField("n_docs", LongType),
    StructField("n_bytes", LongType), StructField("n_tokens", LongType),
    StructField("first_doc", LongType), StructField("last_doc", LongType)))

  /** The committed micro-batch id, if the writer threads one. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    StateLog.pointer(s, base).flatMap(_.batch)

  def readState(s: SparkSession, base: String): DataFrame =
    StateLog.readGeneration(s, StateLog.pointer(s, base), stateSchema)(v => s"$base/$v")

  /** Absorb one doc batch (doc_id, n_chars, text) into the manifest. A
    * batch id at or below the committed tag is a crash replay and is
    * skipped: re-landing it would double-count its bytes/tokens AND shift
    * every later offset.
    */
  def processBatch(s: SparkSession, docs: DataFrame, base: String,
      batchId: Option[Long] = None): DataFrame =
    StateLog.commitFrame(s, base, batchId, stateSchema)(v => s"$base/$v") { state =>
      val baseOffset = state.agg(coalesce(sum("n_bytes"), lit(0L))).collect()(0).getLong(0)
      val partials = shardsFrom(docs, baseOffset)
      state.select(col("shard_id"), col("n_docs").as("d1"), col("n_bytes").as("b1"),
          col("n_tokens").as("t1"), col("first_doc").as("f1"), col("last_doc").as("l1"))
        .join(partials.select(col("shard_id").as("sid2"), col("n_docs").as("d2"),
          col("n_bytes").as("b2"), col("n_tokens").as("t2"),
          col("first_doc").as("f2"), col("last_doc").as("l2")),
          col("shard_id") === col("sid2"), "full_outer")
        .select(
          coalesce(col("shard_id"), col("sid2")).as("shard_id"),
          (coalesce(col("d1"), lit(0L)) + coalesce(col("d2"), lit(0L))).as("n_docs"),
          (coalesce(col("b1"), lit(0L)) + coalesce(col("b2"), lit(0L))).as("n_bytes"),
          (coalesce(col("t1"), lit(0L)) + coalesce(col("t2"), lit(0L))).as("n_tokens"),
          least(coalesce(col("f1"), col("f2")), coalesce(col("f2"), col("f1"))).as("first_doc"),
          greatest(coalesce(col("l1"), col("l2")), coalesce(col("l2"), col("l1"))).as("last_doc"))
        // materialize BEFORE touching the directory tree the plan reads from
        .localCheckpoint()
    }

  /** Per-shard partials of `docs` (doc_id order) laid out from byte
    * offset `baseOffset`: each doc's shard is its starting offset over
    * [[ShardBytes]].
    */
  private def shardsFrom(docs: DataFrame, baseOffset: Long): DataFrame = {
    val w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    docs
      .select(col("doc_id"), col("n_chars"),
        graft.functions.Tokenize.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("offset", lit(baseOffset) + sum("n_chars").over(w) - col("n_chars"))
      .withColumn("shard_id", floor(col("offset") / ShardBytes))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_bytes"),
        sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** Attach the manifest maintenance to a document stream via foreachBatch;
    * the batch id rides the committed pointer for crash-replay idempotence.
    */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid)): Unit
    }

  /** Manifest REPAIR after late corrections — offset sharding means a
    * changed document size shifts every later offset, so a correction
    * invalidates its shard and everything after it, but NOTHING before:
    * keep the manifest prefix strictly below the first corrected doc's
    * shard, re-shard the document suffix (doc_id ≥ that shard's
    * first_doc) from the kept prefix's byte total, and swap a new state
    * version. The kept prefix is untouched by construction (offsets
    * before the cut are unchanged), so repaired state ≡ the one-shot
    * manifest over the corrected corpus — IncrementalShardsSpec pins it.
    * At 100 TB this turns "a correction re-shards the corpus" into "a
    * correction re-shards its suffix", and corrections late in the
    * sequence cost almost nothing.
    */
  def repair(s: SparkSession, docsCorrected: DataFrame, minCorrectedId: Long,
      base: String): DataFrame =
    // a repair is not a stream batch: no id, so the committed batch tag
    // carries forward unchanged and replay protection survives the repair
    StateLog.commitFrame(s, base, None, stateSchema)(v => s"$base/$v") { state =>
      val cutRow = state.filter(col("first_doc") <= minCorrectedId)
        .agg(max("shard_id")).collect()(0)
      val cutShard = if (cutRow.isNullAt(0)) 0L else cutRow.getLong(0)
      val kept = state.filter(col("shard_id") < cutShard)
      val keptInfo = kept.agg(
        coalesce(sum("n_bytes"), lit(0L)), coalesce(max("last_doc"), lit(Long.MinValue)))
        .collect()(0)
      val (baseOffset, lastKeptDoc) = (keptInfo.getLong(0), keptInfo.getLong(1))
      val rebuilt = shardsFrom(docsCorrected.filter(col("doc_id") > lastKeptDoc), baseOffset)
      kept.union(rebuilt).localCheckpoint()
    }
}
