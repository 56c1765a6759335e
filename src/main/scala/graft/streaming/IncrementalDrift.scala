package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental corpus-drift state — the streaming upkeep of
  * q_text_drift's comparison surface: each arriving micro-batch of
  * documents MERGES its per-(source, token) count partials into a
  * bounded vocabulary×sources table (counts are associative, so
  * state ∘ batch ≡ one-shot over everything seen — the IncrementalAgg
  * invariant), and [[driftFromState]] serves the Dunning-G² top-k
  * between any source split STRAIGHT from the maintained counts — no
  * document text is ever re-read. This is how a pipeline watches a
  * crawl stream drift against its standing corpus without re-scanning
  * either side per check.
  *
  * State protocol: versioned count tables behind the [[StateLog]]
  * version pointer (per-batch writes are idempotent by path, replays
  * detected via the batch tag).
  *
  * Scale shape: the state is vocabulary × #sources rows (bounded; the
  * corpus pays one tokenize + one (source, token) aggregate per batch,
  * partials combine map-side), the merge is a full-outer sum — the
  * same bounded-state shape as IncrementalIndex's stats table.
  */
object IncrementalDrift {

  private val stateSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("token", StringType),
    StructField("n", LongType)))

  /** The committed micro-batch id, if the writer threads one. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    StateLog.pointer(s, base).flatMap(_.batch)

  /** Current (source, token, n) counts; empty before the first batch. */
  def readCounts(s: SparkSession, base: String): DataFrame =
    StateLog.readGeneration(s, StateLog.pointer(s, base), stateSchema)(v => s"$base/counts/$v")

  /** Land one micro-batch of documents (source, text): merge its count
    * partials, swap the version. Batch cost is O(batch tokens).
    *
    * INGEST CONTRACT: each document must arrive at most once across
    * batch IDS (exactly-once per doc — what a checkpointed foreachBatch
    * topology provides). A doc re-emitted under a NEW id would inflate
    * the additive token counts; guarding would cost a seen-doc relation
    * scan per batch — documented rather than silently paid (same stance
    * as IncrementalIndex.processBatch).
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): Unit =
    StateLog.commitFrame(s, base, batchId, stateSchema)(v => s"$base/counts/$v") { counts =>
      val partial = batch.select(col("source"),
          explode(graft.functions.Tokenize.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("n2"))
      counts
        .join(partial.withColumnRenamed("source", "s2").withColumnRenamed("token", "t2"),
          col("source") === col("s2") && col("token") === col("t2"), "full_outer")
        .select(
          coalesce(col("source"), col("s2")).as("source"),
          coalesce(col("token"), col("t2")).as("token"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n"))
        .localCheckpoint()
    }

  /** q_text_drift's output served ENTIRELY from the maintained counts:
    * top-`k` Dunning-G² tokens between `sourceA` and everything else —
    * identical arithmetic to the one-shot operator (8dp-decimal
    * contributions, the bm25 ln recipe), so IncrementalDriftSpec pins
    * row equality after any batch split.
    */
  def driftFromState(s: SparkSession, base: String, sourceA: String = "src0",
      k: Int = 30, minTotal: Long = 10L): DataFrame = {
    val counts = readCounts(s, base)
      .groupBy("token")
      .agg(sum(when(col("source") === sourceA, col("n")).otherwise(0L)).as("ka"),
        sum(when(col("source") =!= sourceA, col("n")).otherwise(0L)).as("kb"))
      .filter(col("ka") + col("kb") >= minTotal)
    val tot = counts.agg(sum("ka").as("na"), sum("kb").as("nb"))
    def term(kc: Column, nc: Column): Column = {
      val e = nc.cast(DoubleType) * (col("ka") + col("kb")) / (col("na") + col("nb"))
      when(kc > 0, round(kc.cast(DoubleType) * log(kc.cast(DoubleType) / e), 8)
        .cast(DecimalType(18, 8))).otherwise(lit(0.0).cast(DecimalType(18, 8)))
    }
    val w = Window.orderBy(desc("g2"), asc("token"))
    counts.crossJoin(broadcast(tot))
      .withColumn("g2", round((term(col("ka"), col("na"))
        + term(col("kb"), col("nb"))).cast(DoubleType) * 2.0, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("rank", "token", "ka", "kb", "g2")
      .orderBy("rank")
  }

  /** Attach to a documents stream via foreachBatch (replay-protected). */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
