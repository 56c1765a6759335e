package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental maintenance for the statistical-test family: ONE piece of
  * accreting state — the value-distinct histogram (grp, v, t) — serves
  * every test in graft.operators.StatQueries exactly:
  *
  *   - Mann-Whitney / KS need the two-sample value-distinct grain
  *     (v, t, t1), a projection of the histogram;
  *   - Kruskal-Wallis consumes the histogram itself;
  *   - Welch t / ANOVA need per-group exact moments (n, Σv, Σv²) =
  *     (Σt, Σt·v, Σt·v²) over the histogram.
  *
  * Because every statistic downstream of the histogram is exact integer/
  * decimal arithmetic (see the StatQueries header), serve-from-state
  * equals the one-shot query BIT-FOR-BIT — IncrementalStatsSpec asserts
  * exact row equality after replaying the fixture in micro-batches, not
  * a tolerance.
  *
  * State discipline is the [[StateLog]] version pointer: each batch
  * merges count partials (associative+commutative) into a fresh version
  * directory and swaps the pointer atomically; readers never observe a
  * half-written state. At 100 TB the histogram is bounded by distinct
  * (group, value) pairs — sub-linear in rows for any quantized measure —
  * and bucketed on v the merge join is co-located; only the micro-batch
  * shuffles.
  */
object IncrementalStats {

  private val stateSchema = StructType(Seq(
    StructField("grp", StringType),
    StructField("v", LongType),
    StructField("t", LongType)))

  /** The committed micro-batch id, if the writer threads one. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    StateLog.pointer(s, base).flatMap(_.batch)

  /** Read the current histogram state (empty frame before batch 0). */
  def readState(s: SparkSession, base: String): DataFrame =
    StateLog.readGeneration(s, StateLog.pointer(s, base), stateSchema)(v => s"$base/$v")

  /** Merge one micro-batch of (grp, v) observations into the histogram
    * and swap versions. The full-outer merge touches only |distinct
    * (grp, v)| rows; raw rows are aggregated once on the batch side.
    * A batch whose id is <= the committed `:batch=` tag is a crash
    * replay and is skipped — re-merging the same partials would silently
    * corrupt every state-served statistic (exactly-once, not at-least-
    * once, is what makes serve-from-state bit-equal to one-shot).
    *
    * INGEST CONTRACT: each observation must arrive at most once across
    * batch IDS (exactly-once per row — what a checkpointed foreachBatch
    * topology provides). A row re-emitted under a NEW id would inflate
    * the histogram counts; observations carry no per-row identity in
    * the state, so guarding would cost a seen-row relation scan per
    * batch — documented rather than silently paid (same stance as
    * IncrementalIndex.processBatch).
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): DataFrame =
    StateLog.commitFrame(s, base, batchId, stateSchema)(v => s"$base/$v") { state =>
      val partial = batch.groupBy(col("grp").as("g2"), col("v").as("v2"))
        .agg(count(lit(1)).as("t2"))
      state
        .join(partial, col("grp") === col("g2") && col("v") === col("v2"), "full_outer")
        .select(
          coalesce(col("grp"), col("g2")).as("grp"),
          coalesce(col("v"), col("v2")).as("v"),
          (coalesce(col("t"), lit(0L)) + coalesce(col("t2"), lit(0L))).as("t"))
        // materialize BEFORE touching the directory tree the plan reads from
        .localCheckpoint()
    }

  /** Attach to a stream of (grp, v) rows via foreachBatch; the batch id
    * is threaded into the committed pointer for crash-replay idempotence.
    */
  def attach(rows: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid)): Unit
    }

  /** The two-sample value-distinct grain (v, t, t1) from state. */
  private def vals(s: SparkSession, base: String, sample1: String): DataFrame =
    readState(s, base).groupBy("v").agg(
      sum("t").cast(LongType).as("t"),
      sum(when(col("grp") === sample1, col("t")).otherwise(0L)).cast(LongType).as("t1"))

  /** Mann-Whitney U from state — ≡ q_stat_mannwhitney one-shot. */
  def serveMannWhitney(s: SparkSession, base: String, sample1: String): DataFrame =
    graft.operators.StatQueries.mannWhitneyOnVals(vals(s, base, sample1))

  /** Two-sample KS from state — ≡ q_stat_ks one-shot. */
  def serveKs(s: SparkSession, base: String, sample1: String): DataFrame =
    graft.operators.StatQueries.ksOnVals(vals(s, base, sample1))

  /** Kruskal-Wallis from state — ≡ q_stat_kruskal one-shot. */
  def serveKruskal(s: SparkSession, base: String): DataFrame =
    graft.operators.StatQueries.kruskalOnHist(
      readState(s, base).select(col("grp"), col("v"), col("t").as("tg")))

  /** Welch t-test from state — ≡ q_stat_ttest one-shot. */
  def serveTtest(s: SparkSession, base: String, sample1: String): DataFrame =
    graft.operators.StatQueries.ttestOnHist(readState(s, base), sample1)

  /** One-way ANOVA from state — ≡ q_stat_anova one-shot. */
  def serveAnova(s: SparkSession, base: String): DataFrame =
    graft.operators.StatQueries.anovaOnHist(readState(s, base))

  /** Median absolute deviation + 3-MAD outlier counts from state —
    * ≡ q_stat_mad one-shot (all-integer medians over the histogram).
    */
  def serveMad(s: SparkSession, base: String): DataFrame =
    graft.operators.StatQueries.madOnHist(readState(s, base))
}
