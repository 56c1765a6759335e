package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Group F — window functions (SURVEY.md §2.B Group F).
  *
  * Scale design: each query is exactly one shuffle on the partition key +
  * an in-partition sort (WindowExec). Partition keys (custkey, user_id) are
  * high-cardinality so partitions stay small at 100 TB; no window here is
  * unpartitioned (a global ORDER BY window would serialize on one task).
  */
object WindowQueries {

  /** Ranking trio. Window order includes the unique orderkey so ranks are
    * total and engine-independent.
    */
  val winRank = QueryDef(
    "q_win_rank",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER w AS rn,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
      ORDER BY o_custkey, o_orderkey
    """.trim),
  )

  /** Analytic offsets lag/lead over per-user event time. */
  val winLagLead = QueryDef(
    "q_win_laglead",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          lag("value", 1).over(w).as("prev_value"),
          lead("value", 1).over(w).as("next_value"))
        .orderBy("user_id", "event_id")
    },
    Some("""
      SELECT user_id, event_id, value,
             LAG(value, 1) OVER w AS prev_value,
             LEAD(value, 1) OVER w AS next_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      ORDER BY user_id, event_id
    """.trim),
  )

  /** Frame aggregates: running (rows) sum of exact-decimal order totals per
    * customer, plus a range frame over the last hour of per-user event time
    * (frame bound on exact epoch micros — both engines see identical longs).
    */
  val winFrame = QueryDef(
    "q_win_frame",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          col("value").cast(DecimalType(9, 2)).as("v"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      val running = Window.partitionBy("user_id").orderBy(asc("ts_us"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lastHour = Window.partitionBy("user_id").orderBy(asc("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      e.select(col("user_id"), col("event_id"), col("ts_us"),
          sum("v").over(running).cast(DecimalType(38, 2)).cast(DoubleType).as("running_sum"),
          sum("v").over(lastHour).cast(DecimalType(38, 2)).cast(DoubleType).as("hour_sum"))
        .orderBy("user_id", "event_id")
    },
    Some("""
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,2))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS running_sum,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,2))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS hour_sum
      FROM events
      ORDER BY user_id, event_id
    """.trim),
  )

  /** Top-k per group via row_number ≤ 3 — the distributed top-k idiom (no
    * global sort; per-partition heap-ish WindowGroupLimit in Spark 4).
    */
  val winTopk = QueryDef(
    "q_win_topk",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    },
    Some("""
      SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) t
      WHERE rn <= 3
      ORDER BY o_custkey, rn
    """.trim),
  )

  /** 2-D skyline core over (grp, id, cost, gain) — the Pareto-dominance
    * filter (p survives iff no q in its group has cost ≤ AND gain ≥ with
    * one strict). The textbook formulation is a quadratic NOT EXISTS
    * self-join; in 2-D it collapses to a SWEEP: group to one row per
    * (grp, cost) with the group's max gain, one running max over
    * strictly-cheaper cost rows (rows-frame over the DISTINCT-cost
    * relation, so "1 preceding" IS strict-cost), and p is dominated iff
    * maxBelow ≥ gain OR its own cost group's max > gain. One hash
    * aggregate + one per-group window over distinct costs + one
    * equi-join back — linear in rows, never a pair join; partitioned by
    * `grp`, so it scales on the group key like every window here.
    * Shared by q_win_skyline and the `skyline` facade verb.
    */
  private[graft] def skylineOn(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val perCost = df.groupBy("grp", "cost").agg(max(col("gain")).as("mx"))
    val below = Window.partitionBy("grp").orderBy("cost")
      .rowsBetween(Window.unboundedPreceding, -1)
    val dom = perCost.withColumn("max_below", max(col("mx")).over(below))
    df.join(dom, Seq("grp", "cost"))
      .filter(coalesce(col("max_below") < col("gain"), lit(true)) &&
        !(col("mx") > col("gain")))
      .drop("mx", "max_below")
  }

  /** Insert-only incremental skyline maintenance: because dominance is
    * MONOTONE under inserts (a dominated point stays dominated; new
    * points only add dominators), skyline(S ∪ B) = skyline(skyline(S) ∪
    * B) — so the maintained state is just the current skyline (tiny) and
    * each arriving batch costs one sweep over state ∪ batch, never a
    * rescan of history. MiningSpec proves 3-batch incremental ≡ full
    * recompute. (Deletes break monotonicity — a delete-capable variant
    * must keep the full set or a layered skyline; out of scope.)
    */
  private[graft] def skylineMerge(state: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    skylineOn(state.unionByName(batch))

  /** Per-brand price/size skyline of the part catalog: the parts no
    * same-brand part beats on BOTH price (lower-or-equal) and size
    * (higher-or-equal, one strict) — the multi-criteria shortlist
    * operator (cheapest-per-capability frontier). Oracle: the INDEPENDENT
    * quadratic NOT-EXISTS form, so the hash-compare proves the sweep
    * reformulation, not just reproduces it.
    */
  val winSkyline = QueryDef(
    "q_win_skyline",
    (s, dir) => skylineOn(
        Tables.part(s, dir).select(col("p_brand").as("grp"),
          col("p_partkey"), col("p_retailprice").as("cost"), col("p_size").as("gain")))
      .select(col("grp").as("p_brand"), col("p_partkey"),
        col("cost").as("p_retailprice"), col("gain").as("p_size"))
      .orderBy("p_brand", "p_partkey"),
    Some("""
      SELECT a.p_brand, a.p_partkey, a.p_retailprice, a.p_size
      FROM part a
      WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_brand = a.p_brand
          AND b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
      ORDER BY p_brand, p_partkey
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(winRank, winLagLead, winFrame, winTopk, winSkyline)
}
