package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Subqueries (Catalyst decorrelation), pivot/unpivot reshaping, and
  * time-series gap-filling — relational surface beyond SURVEY §2.B's
  * original list. Subquery queries run through the SQL path so the
  * analyzer's RewriteCorrelatedScalarSubquery / RewritePredicateSubquery
  * rules are the machinery under test.
  */
object SubqueryQueries {

  private def viewed(s: org.apache.spark.sql.SparkSession, dir: String, names: String*): Unit =
    names.foreach {
      case n @ "orders" => Tables.orders(s, dir).createOrReplaceTempView(s"graft_$n")
      case n @ "customer" => Tables.customer(s, dir).createOrReplaceTempView(s"graft_$n")
      case n @ "lineitem" => Tables.lineitem(s, dir).createOrReplaceTempView(s"graft_$n")
      case n @ "events" => Tables.events(s, dir).createOrReplaceTempView(s"graft_$n")
      case other => throw new IllegalArgumentException(other)
    }

  /** Uncorrelated scalar subquery: orders above the global average price. */
  val subqScalar = QueryDef(
    "q_subq_scalar",
    (s, dir) => {
      viewed(s, dir, "orders")
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM graft_orders
        WHERE o_totalprice > (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DOUBLE)
                                     / COUNT(*) FROM graft_orders)
        ORDER BY o_orderkey
      """)
    },
    Some("""
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_totalprice > (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DOUBLE)
                                   / COUNT(*) FROM orders)
      ORDER BY o_orderkey
    """.trim),
  )

  /** IN subquery (rewritten to a semi join). */
  val subqIn = QueryDef(
    "q_subq_in",
    (s, dir) => {
      viewed(s, dir, "orders", "customer")
      s.sql("""
        SELECT o_orderkey, o_custkey
        FROM graft_orders
        WHERE o_custkey IN (SELECT c_custkey FROM graft_customer WHERE c_mktsegment = 'BUILDING')
        ORDER BY o_orderkey
      """)
    },
    Some("""
      SELECT o_orderkey, o_custkey
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      ORDER BY o_orderkey
    """.trim),
  )

  /** Correlated scalar subquery: each order compared to its customer's
    * average (decorrelated into an aggregate + join by Catalyst).
    */
  val subqCorrelated = QueryDef(
    "q_subq_corr",
    (s, dir) => {
      viewed(s, dir, "orders")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM graft_orders o
        WHERE o_totalprice > 1.5 * (
          SELECT CAST(CAST(SUM(CAST(i.o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DOUBLE) / COUNT(*)
          FROM graft_orders i WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey
      """)
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      WHERE o_totalprice > 1.5 * (
        SELECT CAST(CAST(SUM(CAST(i.o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DOUBLE) / COUNT(*)
        FROM orders i WHERE i.o_custkey = o.o_custkey)
      ORDER BY o_orderkey
    """.trim),
  )

  /** Pivot: per-user event counts spread over explicit event-type columns
    * (explicit value list → deterministic schema; oracle is the equivalent
    * conditional aggregation).
    */
  val aggPivot = QueryDef(
    "q_agg_pivot",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "signup", "purchase", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id"),
    Some("""
      SELECT user_id,
             COUNT(*) FILTER (event_type = 'click') AS click,
             COUNT(*) FILTER (event_type = 'view') AS view,
             COUNT(*) FILTER (event_type = 'signup') AS signup,
             COUNT(*) FILTER (event_type = 'purchase') AS purchase,
             COUNT(*) FILTER (event_type = 'error') AS error
      FROM events GROUP BY user_id ORDER BY user_id
    """.trim),
  )

  /** Unpivot/melt: lineitem measures to long form. */
  val aggUnpivot = QueryDef(
    "q_agg_unpivot",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "value")
        // duplicate (l_orderkey, l_linenumber) keys exist — value breaks ties
        .orderBy("l_orderkey", "l_linenumber", "measure", "value"),
    Some("""
      SELECT l_orderkey, l_linenumber, measure, value
      FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount FROM lineitem)
      UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount))
      ORDER BY l_orderkey, l_linenumber, measure, value
    """.trim),
  )

  /** Time-series resample with gap filling: hourly event counts per type
    * over the full [min, max] hour spine (sequence + explode + left join),
    * zero-filled. The spine is generated distributively — no driver-side
    * range materialization.
    */
  val tsResample = QueryDef(
    "q_ts_resample",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"), expr("unix_micros(cast(ts as timestamp))").as("us"))
        .withColumn("hour_us", expr("us div 3600000000 * 3600000000"))
      val spine = e.groupBy("event_type")
        .agg(min("hour_us").as("lo"), max("hour_us").as("hi"))
        .select(col("event_type").as("spine_type"),
          explode(expr("sequence(lo, hi, 3600000000)")).as("spine_hour"))
      val counts = e.groupBy("event_type", "hour_us").agg(count(lit(1)).as("n"))
      spine.join(counts,
          col("spine_type") === col("event_type") && col("spine_hour") === col("hour_us"), "left")
        .select(col("spine_type").as("event_type"), col("spine_hour").as("hour_us"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("event_type", "hour_us")
    },
    Some("""
      WITH e AS (
        SELECT event_type, (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000 AS hour_us
        FROM events),
      bounds AS (SELECT event_type, MIN(hour_us) AS lo, MAX(hour_us) AS hi FROM e GROUP BY event_type),
      spine AS (
        SELECT event_type, unnest(range(lo, hi + 1, 3600000000)) AS hour_us FROM bounds),
      counts AS (SELECT event_type, hour_us, COUNT(*) AS n FROM e GROUP BY event_type, hour_us)
      SELECT s.event_type AS event_type, s.hour_us AS hour_us, COALESCE(c.n, 0) AS n
      FROM spine s LEFT JOIN counts c ON s.event_type = c.event_type AND s.hour_us = c.hour_us
      ORDER BY event_type, hour_us
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(subqScalar, subqIn, subqCorrelated, aggPivot, aggUnpivot, tsResample)
}
