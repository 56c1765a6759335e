package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental maintenance of the basket-mining state — the streaming
  * upkeep of q_mine_rules / q_mine_recs' comparison surface: each
  * arriving micro-batch of WHOLE baskets (a basket is atomic — its
  * items land in one batch, the CDC complete-order contract) merges
  * three associative partials into versioned state:
  *
  *   - `sup`   (pk, s): per-item basket counts over ALL items —
  *     deliberately UNfiltered, because the MinItemSup threshold is not
  *     merge-stable (an item can cross it in a later batch, and its
  *     earlier pairs must already be counted);
  *   - `pairs` (p1 < p2, c): within-basket co-occurrence counts, again
  *     unfiltered — the sparse co-occurrence matrix IS the sufficient
  *     statistic; thresholds apply at SERVE time;
  *   - `nb`    (one row): total basket count.
  *
  * Serve-side, [[serveRules]] / [[serveRecs]] filter the state to the
  * frequent-item + MinPairSup subset and run the EXACT SAME expression
  * tails as the registered queries (MiningQueries.rulesFromTables /
  * recsFromTables) — state-served ≡ one-shot bit-for-bit, which
  * IncrementalMineSpec pins after replaying the fixture in batches.
  *
  * State protocol: versioned tables behind the [[StateLog]] version
  * pointer (replays skipped via its batch tag).
  * Scale shape: per batch one distinct + one C(len,2) within-basket
  * fan-out (bounded by basket size) + three full-outer merges on the
  * state grains; the corpus is never re-scanned.
  */
object IncrementalMine {

  private val supSchema = StructType(Seq(
    StructField("pk", LongType), StructField("s", LongType)))
  private val pairSchema = StructType(Seq(
    StructField("p1", LongType), StructField("p2", LongType), StructField("c", LongType)))
  private val nbSchema = StructType(Seq(StructField("nb", LongType)))

  /** The committed micro-batch id, if the writer threads one. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    StateLog.pointer(s, base).flatMap(_.batch)

  /** Current (sup, pairs, nb) state, all from one pointer read; all
    * empty before batch 0.
    */
  def readState(s: SparkSession, base: String): (DataFrame, DataFrame, DataFrame) =
    stateAt(s, base, StateLog.pointer(s, base))

  private def stateAt(s: SparkSession, base: String,
      p: Option[StateLog.Pointer]): (DataFrame, DataFrame, DataFrame) =
    (StateLog.readGeneration(s, p, supSchema)(v => s"$base/$v/sup"),
      StateLog.readGeneration(s, p, pairSchema)(v => s"$base/$v/pairs"),
      StateLog.readGeneration(s, p, nbSchema)(v => s"$base/$v/nb"))

  /** Merge one micro-batch of (ok, pk) basket items (whole baskets) into
    * the mining state and swap versions. Replays (batch id <= committed
    * tag) are skipped — re-merging would double every count.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): Unit = StateLog.commit(s, base, batchId) { (ptr, next) =>
    val bi = batch.select(col("ok"), col("pk")).distinct().localCheckpoint()
    val supP = bi.groupBy(col("pk").as("pk2")).agg(count(lit(1)).as("s2"))
    val pairP = bi.as("a").join(bi.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("q1"), col("b.pk").as("q2"))
      .agg(count(lit(1)).as("c2"))
    val nbP = bi.select(countDistinct(col("ok")).as("nb2"))
    val (sup, pairs, nb) = stateAt(s, base, ptr)
    val supM = sup.join(supP, col("pk") === col("pk2"), "full_outer")
      .select(coalesce(col("pk"), col("pk2")).as("pk"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("s2"), lit(0L))).as("s"))
      .localCheckpoint()
    val pairM = pairs.join(pairP,
        col("p1") === col("q1") && col("p2") === col("q2"), "full_outer")
      .select(coalesce(col("p1"), col("q1")).as("p1"),
        coalesce(col("p2"), col("q2")).as("p2"),
        (coalesce(col("c"), lit(0L)) + coalesce(col("c2"), lit(0L))).as("c"))
      .localCheckpoint()
    val nbM = nb.unionByName(nbP.select(col("nb2").as("nb")))
      .agg(sum("nb").cast(LongType).as("nb")) // empty state: just the partial
      .localCheckpoint()
    Seq(s"$base/v$next/sup" -> supM, s"$base/v$next/pairs" -> pairM, s"$base/v$next/nb" -> nbM)
  }

  /** The serve-time filtered tables: frequent items (s >= MinItemSup),
    * pairs with BOTH endpoints frequent and c >= MinPairSup. Counting
    * unfiltered and filtering at serve is what makes the maintainer
    * exact — and the filtered pair set equals the batch build's, because
    * item filtering never changes a surviving pair's count.
    */
  private def filtered(s: SparkSession, base: String): (DataFrame, DataFrame, DataFrame) = {
    val (sup, pairs, nb) = readState(s, base)
    val fsup = sup.filter(col("s") >= graft.operators.MiningQueries.MinItemSup)
    val fp = pairs
      .join(broadcast(fsup.select(col("pk").as("p1"))), "p1")
      .join(broadcast(fsup.select(col("pk").as("p2"))), "p2")
      .filter(col("c") >= graft.operators.MiningQueries.MinPairSup)
      .select("p1", "p2", "c")
    (fp, fsup, nb)
  }

  /** Association rules from state — ≡ q_mine_rules one-shot. */
  def serveRules(s: SparkSession, base: String): DataFrame = {
    val (fp, fsup, nb) = filtered(s, base)
    graft.operators.MiningQueries.rulesFromTables(fp, fsup, nb)
  }

  /** Item-item top-3 recommendations from state — ≡ q_mine_recs one-shot. */
  def serveRecs(s: SparkSession, base: String): DataFrame = {
    val (fp, fsup, _) = filtered(s, base)
    graft.operators.MiningQueries.recsFromTables(fp, fsup)
  }

  /** Attach to a stream of (ok, pk) basket-item rows via foreachBatch
    * (replay-protected via the batch-id tag).
    */
  def attach(rows: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
