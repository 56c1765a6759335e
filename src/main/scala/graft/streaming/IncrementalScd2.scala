package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental SCD Type-2 maintenance — the streaming upkeep of
  * q_cdc_scd2's versioned dimension, shaped for the dimension's own
  * physics: a CLOSED version never changes again, so closed versions
  * land APPEND-ONLY (one parquet segment per batch — the
  * IncrementalIndex posting discipline), while the bounded one-row-per-
  * user CURRENT table is rewritten behind the [[StateLog]] version
  * pointer (the IncrementalAgg matview discipline). Per batch: seed each affected
  * user's open version in front of its batch events, run the SCD2
  * suppression window across the seam (a batch whose first change
  * equals the open version's value is suppressed — the cross-batch rule
  * a naive per-batch fold gets wrong), close everything but the last
  * kept version, and carry unaffected users' open rows through
  * untouched. Batch cost is O(batch + affected users + #users); history
  * is never re-read.
  *
  * Contract: events arrive time-ordered across batches per user (the
  * same in-order feed q_cdc_scd2 assumes of its source).
  */
object IncrementalScd2 {

  private val curSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("valid_from_us", LongType)))

  /** The committed micro-batch id, if the writer threads one. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    StateLog.pointer(s, base).flatMap(_.batch)

  private val closedSchema = StructType(curSchema.fields :+ StructField("valid_to_us", LongType))

  /** Open (current) versions, one row per user seen so far. */
  def readCurrentTable(s: SparkSession, base: String): DataFrame =
    currentAt(s, base, StateLog.pointer(s, base))

  private def currentAt(s: SparkSession, base: String, p: Option[StateLog.Pointer]): DataFrame =
    StateLog.readGeneration(s, p, curSchema)(v => s"$base/current/$v")

  /** All committed closed versions (append-only segments). */
  def readClosed(s: SparkSession, base: String): DataFrame =
    closedAt(s, base, StateLog.pointer(s, base))

  /** The closed segments `closed/b<i>` of generations 0 to `p`'s: a
    * segment written by a batch that failed before its swap is not read.
    */
  private def closedAt(s: SparkSession, base: String, p: Option[StateLog.Pointer]): DataFrame =
    p.fold(StateLog.emptyFrame(s, closedSchema))(q => s.read.schema(closedSchema)
      .parquet((0L to q.version).map(i => s"$base/closed/b$i"): _*))

  /** The full dimension in q_cdc_scd2's output shape, from one pointer read. */
  def readDimension(s: SparkSession, base: String): DataFrame = {
    val p = StateLog.pointer(s, base)
    closedAt(s, base, p)
      .select(col("user_id"), col("event_type"), col("valid_from_us"),
        col("valid_to_us"), lit(false).as("is_current"))
      .unionByName(currentAt(s, base, p)
        .select(col("user_id"), col("event_type"), col("valid_from_us"),
          lit(null).cast(LongType).as("valid_to_us"), lit(true).as("is_current")))
      .orderBy("user_id", "valid_from_us", "event_type")
  }

  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): Unit = StateLog.commit(s, base, batchId) { (ptr, next) =>
    val cur = currentAt(s, base, ptr).localCheckpoint()
    val ev = batch.select(col("user_id"), col("event_id"), col("event_type"),
      expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        .as("ts_us"))
    val affected = ev.select("user_id").distinct()
    // open versions of affected users seed the suppression window; their
    // pseudo event_id -1 sorts ahead of any real event at equal ts
    val seed = cur.join(affected, "user_id")
      .select(col("user_id"), lit(-1L).as("event_id"), col("event_type"),
        col("valid_from_us").as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy(asc("ts_us"), asc("event_id"))
    val kept = seed.unionByName(ev)
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to_us", lead("ts_us", 1).over(
        Window.partitionBy("user_id").orderBy(asc("ts_us"), asc("event_id"))))
      .localCheckpoint()
    val closed = kept.filter(col("valid_to_us").isNotNull)
      .select(col("user_id"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"))
    val newCur = kept.filter(col("valid_to_us").isNull)
      .select(col("user_id"), col("event_type"), col("ts_us").as("valid_from_us"))
    val untouched = cur.join(affected, Seq("user_id"), "left_anti")
    Seq(s"$base/closed/b$next" -> closed,
      s"$base/current/v$next" -> newCur.unionByName(untouched).localCheckpoint())
  }

  /** Attach to an events stream via foreachBatch (replay-protected). */
  def attach(events: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
