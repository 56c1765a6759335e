package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession

/** Pure-SQL-path analytics in the classic TPC-H query shapes (Q3 shipping
  * priority, Q5 local supplier volume), adapted to the fixture's 1995-2001
  * date span. These run through `spark.sql` over temp views end-to-end —
  * the ANTLR → Catalyst → Tungsten path a SQL-first user of the engine
  * takes — and follow the §7.5 determinism recipe (decimal math internal,
  * exact-DOUBLE outputs).
  *
  * Scale notes: the multi-way joins keep dimensions broadcastable (region/
  * nation always; customer/supplier at dim scale), lineitem↔orders is the
  * one big shuffle pair, and both aggregates reduce to few groups so the
  * final shuffles move partial states only. Catalyst's join reorder +
  * pushdown handle the rest — nothing is hand-scheduled.
  */
object TpchQueries {

  private def views(s: SparkSession, dir: String): Unit = {
    Tables.customer(s, dir).createOrReplaceTempView("graft_tpch_customer")
    Tables.orders(s, dir).createOrReplaceTempView("graft_tpch_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_tpch_lineitem")
    Tables.supplier(s, dir).createOrReplaceTempView("graft_tpch_supplier")
    Tables.part(s, dir).createOrReplaceTempView("graft_tpch_part")
    Tables.nation(s, dir).createOrReplaceTempView("graft_tpch_nation")
    Tables.region(s, dir).createOrReplaceTempView("graft_tpch_region")
  }

  /** TPC-H Q3 shape: top-10 open BUILDING orders by pending revenue. */
  val sqlQ3 = QueryDef(
    "q_sql_q3",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT l_orderkey,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                              * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                    AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM graft_tpch_customer
        JOIN graft_tpch_orders ON c_custkey = o_custkey
        JOIN graft_tpch_lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP_NTZ '1997-06-15'
          AND l_shipdate > TIMESTAMP_NTZ '1997-06-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        LIMIT 10
      """)
    },
    Some("""
      SELECT l_orderkey,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                            * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                  AS DOUBLE) AS revenue,
             o_orderdate, o_orderpriority
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1997-06-15'
        AND l_shipdate > TIMESTAMP '1997-06-15'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
      LIMIT 10
    """.trim),
  )

  /** TPC-H Q5 shape: 1996 revenue by ASIA nation where customer and
    * supplier share the nation.
    */
  val sqlQ5 = QueryDef(
    "q_sql_q5",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                              * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                    AS DOUBLE) AS revenue
        FROM graft_tpch_customer
        JOIN graft_tpch_orders ON c_custkey = o_custkey
        JOIN graft_tpch_lineitem ON l_orderkey = o_orderkey
        JOIN graft_tpch_supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN graft_tpch_nation ON s_nationkey = n_nationkey
        JOIN graft_tpch_region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
          AND o_orderdate < TIMESTAMP_NTZ '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name ASC
      """)
    },
    Some("""
      SELECT n_name,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                            * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                  AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name ASC
    """.trim),
  )

  /** TPC-H Q18 shape (large-volume customers): orders whose total line
    * quantity exceeds 250, joined back to their customer, top-100 by order
    * value. Exercises aggregate-then-semi-join (the HAVING subquery
    * reduces lineitem to one row per qualifying order BEFORE any join —
    * at 100 TB the IN-subquery side is the only full lineitem pass, and
    * the outer join fans in only qualifying orderkeys) plus a global
    * top-k. Quantity sums stay exact decimals until the final DOUBLE.
    */
  val sqlQ18 = QueryDef(
    "q_sql_q18",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT c_custkey, o_orderkey, o_totalprice,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        FROM graft_tpch_customer
        JOIN graft_tpch_orders ON c_custkey = o_custkey
        JOIN graft_tpch_lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM graft_tpch_lineitem
          GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
        GROUP BY c_custkey, o_orderkey, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
      """)
    },
    Some("""
      SELECT c_custkey, o_orderkey, o_totalprice,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
      GROUP BY c_custkey, o_orderkey, o_totalprice
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 100
    """.trim),
  )

  /** TPC-H Q7 shape (volume shipping): revenue shipped between two fixed
    * nations, either direction, by supplier nation / customer nation /
    * ship year — the classic join-order stress: two independent uses of
    * the nation dim (both broadcastable), the lineitem↔orders shuffle
    * pair, and a disjunctive cross-nation predicate Catalyst must keep
    * above the dim joins. Decimal-exact volume, year from l_shipdate.
    */
  val sqlQ7 = QueryDef(
    "q_sql_q7",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT supp_nation, cust_nation, l_year,
               CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS BIGINT) AS l_year,
                 CAST(l_extendedprice AS DECIMAL(12,4))
                   * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS volume
          FROM graft_tpch_supplier
          JOIN graft_tpch_lineitem ON s_suppkey = l_suppkey
          JOIN graft_tpch_orders ON o_orderkey = l_orderkey
          JOIN graft_tpch_customer ON c_custkey = o_custkey
          JOIN graft_tpch_nation n1 ON s_nationkey = n1.n_nationkey
          JOIN graft_tpch_nation n2 ON c_nationkey = n2.n_nationkey
          WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
      """)
    },
    Some("""
      SELECT supp_nation, cust_nation, l_year,
             CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
      FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               CAST(l_extendedprice AS DECIMAL(12,4))
                 * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      ) shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year
    """.trim),
  )

  /** TPC-H Q10 shape (returned-item reporting): top-20 customers by
    * revenue lost to returns in a one-quarter order window — the
    * selective-fact + wide-dim report: the returnflag/date filters land
    * in PushedFilters on the two fact scans, nation broadcasts, and the
    * top-20 rides TakeOrderedAndProject (no global sort).
    */
  val sqlQ10 = QueryDef(
    "q_sql_q10",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT c_custkey, c_name,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                              * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                    AS DOUBLE) AS revenue,
               CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
        FROM graft_tpch_customer
        JOIN graft_tpch_orders ON c_custkey = o_custkey
        JOIN graft_tpch_lineitem ON l_orderkey = o_orderkey
        JOIN graft_tpch_nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP_NTZ '1997-01-01'
          AND o_orderdate < TIMESTAMP_NTZ '1997-04-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
      """)
    },
    Some("""
      SELECT c_custkey, c_name,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                            * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                  AS DOUBLE) AS revenue,
             CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-04-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey ASC
      LIMIT 20
    """.trim),
  )

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated scalar MIN
    * over a 4-way dim join. The fixture has no partsupp table, so the
    * part↔supplier cost relation is derived from lineitem (min
    * l_extendedprice per part/supplier pair — exact DOUBLE min, identical
    * bits in both engines, so the correlated equality is deterministic).
    * Catalyst decorrelates the scalar subquery into an aggregate +
    * rejoin on p_partkey; dims broadcast; the two ps derivations reuse
    * one lineitem aggregation shape. Plan-asserted cartesian-free
    * (PlanShapeSpec).
    */
  val sqlQ2 = QueryDef(
    "q_sql_q2",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 MIN(l_extendedprice) AS ps_supplycost
          FROM graft_tpch_lineitem GROUP BY 1, 2)
        SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
               p_partkey, p_name, CAST(ps_supplycost AS DOUBLE) AS supplycost
        FROM graft_tpch_part
        JOIN ps ON p_partkey = ps_partkey
        JOIN graft_tpch_supplier ON s_suppkey = ps_suppkey
        JOIN graft_tpch_nation ON s_nationkey = n_nationkey
        JOIN graft_tpch_region ON n_regionkey = r_regionkey
        WHERE p_size <= 15 AND p_type = 'PROMO'
          AND r_name = 'EUROPE'
          AND ps_supplycost = (
            SELECT MIN(ps2.ps_supplycost)
            FROM ps ps2
            JOIN graft_tpch_supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN graft_tpch_nation n2 ON s2.s_nationkey = n2.n_nationkey
            JOIN graft_tpch_region r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
      """)
    },
    Some("""
      WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(l_extendedprice) AS ps_supplycost
        FROM lineitem GROUP BY 1, 2)
      SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
             p_partkey, p_name, CAST(ps_supplycost AS DOUBLE) AS supplycost
      FROM part
      JOIN ps ON p_partkey = ps_partkey
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE p_size <= 15 AND p_type = 'PROMO'
        AND r_name = 'EUROPE'
        AND ps_supplycost = (
          SELECT MIN(ps2.ps_supplycost)
          FROM ps ps2
          JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
          JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
          WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100
    """.trim),
  )

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the
    * multi-correlated EXISTS / NOT-EXISTS decorrelation stress. The
    * fixture lineitem has no receipt/commit dates, so the original's
    * per-line "late" predicate maps to the lineitem-local
    * l_returnflag = 'R': count, per EUROPE supplier, finished orders
    * where THIS supplier's line was returned, another supplier was
    * also on the order, and no other supplier's line was returned —
    * sole-blame attribution. Catalyst must plan EXISTS as a left-semi
    * and NOT EXISTS as a left-anti on l_orderkey (plan-asserted, no
    * cartesian): at 100 TB both are shuffle joins on the fact key,
    * never a per-row re-scan.
    */
  val sqlQ21 = QueryDef(
    "q_sql_q21",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT s_name, count(*) AS numwait
        FROM graft_tpch_supplier
        JOIN graft_tpch_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN graft_tpch_orders ON o_orderkey = l1.l_orderkey
        JOIN graft_tpch_nation ON s_nationkey = n_nationkey
        JOIN graft_tpch_region ON n_regionkey = r_regionkey
        WHERE o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND r_name = 'EUROPE'
          AND EXISTS (
            SELECT 1 FROM graft_tpch_lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM graft_tpch_lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
      """)
    },
    Some("""
      SELECT s_name, count(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND r_name = 'EUROPE'
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100
    """.trim),
  )

  /** TPC-H Q1 shape (pricing summary): the canonical full-scan aggregate —
    * one pass over lineitem, 8 aggregates into a handful of groups, the
    * map-side-partial poster child (at 100 TB every executor folds its
    * partitions to |groups| rows before the one tiny shuffle). Sums stay
    * exact decimals; averages divide the exact sum by the count in DOUBLE
    * (identical IEEE operands both engines); products round at 2dp before
    * the DOUBLE cast (§7.5 recipe).
    */
  val sqlQ1 = QueryDef(
    "q_sql_q1",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                              * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                    AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                              * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))
                              * (CAST(1 AS DECIMAL(12,4)) + CAST(l_tax AS DECIMAL(12,4)))), 2)
                    AS DOUBLE) AS sum_charge,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
               ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM graft_tpch_lineitem
        WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
      """)
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                            * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                  AS DOUBLE) AS sum_disc_price,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                            * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))
                            * (CAST(1 AS DECIMAL(12,4)) + CAST(l_tax AS DECIMAL(12,4)))), 2)
                  AS DOUBLE) AS sum_charge,
             ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
             ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
             ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """.trim),
  )

  /** TPC-H Q4 shape (order priority checking): EXISTS against the fact
    * table planned as one left-semi shuffle join on o_orderkey. The
    * fixture has no commit/receipt dates, so the original's "late line"
    * predicate maps to the lineitem-local l_returnflag = 'R' (same
    * adaptation as q_sql_q21).
    */
  val sqlQ4 = QueryDef(
    "q_sql_q4",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM graft_tpch_orders
        WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
          AND o_orderdate < TIMESTAMP_NTZ '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM graft_tpch_lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-04-01'
        AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """.trim),
  )

  /** TPC-H Q6 shape (forecasting revenue change): pure scan-side
    * filter + one global aggregate — every predicate must reach the
    * parquet scan as a pushed filter (plan-asserted), the degenerate
    * no-shuffle case worth having on the SQL path.
    */
  val sqlQ6 = QueryDef(
    "q_sql_q6",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                              * CAST(l_discount AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue
        FROM graft_tpch_lineitem
        WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01'
          AND l_shipdate < TIMESTAMP_NTZ '1997-01-01'
          AND l_discount BETWEEN 0.02 AND 0.09
          AND l_quantity < 24
      """)
    },
    Some("""
      SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                            * CAST(l_discount AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.02 AND 0.09
        AND l_quantity < 24
    """.trim),
  )

  /** TPC-H Q12 shape (shipping priority classification): fact-fact join +
    * conditional two-way counts. The fixture has no l_shipmode, so the
    * grouping column maps to l_linestatus — the join + CASE-conditional
    * aggregate shape is what's under test, one lineitem↔orders shuffle
    * with the year filter pushed to the lineitem scan.
    */
  val sqlQ12 = QueryDef(
    "q_sql_q12",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT l_linestatus,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
               SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count
        FROM graft_tpch_orders
        JOIN graft_tpch_lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01'
          AND l_shipdate < TIMESTAMP_NTZ '1997-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
      """)
    },
    Some("""
      SELECT l_linestatus,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_linestatus
      ORDER BY l_linestatus
    """.trim),
  )

  /** TPC-H Q14 shape (promotion effect): conditional revenue share over a
    * one-month part↔lineitem join. Both conditional sums round to exact
    * 2dp decimals first, the percentage divides the two exact DOUBLEs
    * (identical operand bits both engines), and the part dim broadcasts.
    */
  val sqlQ14 = QueryDef(
    "q_sql_q14",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT ROUND(100.0 * CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(12,4))
                            * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))
                       ELSE CAST(0 AS DECIMAL(12,4)) END), 2) AS DOUBLE)
                     / CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                            * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE), 6)
               AS promo_revenue
        FROM graft_tpch_lineitem
        JOIN graft_tpch_part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01'
          AND l_shipdate < TIMESTAMP_NTZ '1996-02-01'
      """)
    },
    Some("""
      SELECT ROUND(100.0 * CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(12,4))
                          * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))
                     ELSE CAST(0 AS DECIMAL(12,4)) END), 2) AS DOUBLE)
                   / CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                          * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE), 6)
             AS promo_revenue
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-02-01'
    """.trim),
  )

  /** TPC-H Q19 shape (discounted revenue, disjunctive brackets): three
    * OR-ed brand/size/quantity brackets spanning BOTH join sides. The
    * planner must keep the p_partkey equi-join (the disjunction is a
    * residual filter, never a reason to fall back to a nested loop —
    * plan-asserted) and push the common-bracket bounds to the scans.
    * The fixture has no p_container, so brackets use p_size bands.
    */
  val sqlQ19 = QueryDef(
    "q_sql_q19",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                              * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                    AS DOUBLE) AS revenue
        FROM graft_tpch_lineitem
        JOIN graft_tpch_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
      """)
    },
    Some("""
      SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                            * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2)
                  AS DOUBLE) AS revenue
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """.trim),
  )

  /** TPC-H Q16 shape (supplier-part relationship count): grouped COUNT
    * DISTINCT over the derived part↔supplier relation with a NOT IN
    * dim subquery (the "complaint suppliers" exclusion — here: negative
    * account balance). The NOT IN side is a tiny dim aggregate that must
    * plan as a broadcast null-aware anti join, never a per-row probe;
    * partsupp derives from lineitem as in q_sql_q2.
    */
  val sqlQ16 = QueryDef(
    "q_sql_q16",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        WITH ps AS (
          SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          FROM graft_tpch_lineitem)
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        FROM ps
        JOIN graft_tpch_part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
          AND ps_suppkey NOT IN (
            SELECT s_suppkey FROM graft_tpch_supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        LIMIT 100
      """)
    },
    Some("""
      WITH ps AS (
        SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem)
      SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
      FROM ps
      JOIN part ON p_partkey = ps_partkey
      WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      LIMIT 100
    """.trim),
  )

  /** TPC-H Q20 shape (excess-stock suppliers): nested IN subqueries with
    * a CORRELATED scalar inside the inner one — supplier qualifies if
    * some red part's 1996 pair quantity exceeds half that part's 1996
    * total. Catalyst must decorrelate the scalar into a per-part
    * aggregate joined back inside the semi-join chain (three stacked
    * semi-joins, no per-row re-scan); quantity sums stay exact decimals,
    * the 0.5× compare runs on their exact DOUBLE images.
    */
  val sqlQ20 = QueryDef(
    "q_sql_q20",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        WITH li AS (
          SELECT l_partkey, l_suppkey, l_quantity FROM graft_tpch_lineitem
          WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01'
            AND l_shipdate < TIMESTAMP_NTZ '1997-01-01'),
        ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 SUM(CAST(l_quantity AS DECIMAL(12,2))) AS ps_qty
          FROM li GROUP BY 1, 2)
        SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
        FROM graft_tpch_supplier
        WHERE s_suppkey IN (
          SELECT ps_suppkey FROM ps
          WHERE ps_partkey IN (
              SELECT p_partkey FROM graft_tpch_part WHERE p_name LIKE 'red%')
            AND CAST(ps_qty AS DOUBLE) > 0.5 * (
              SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
              FROM li li2 WHERE li2.l_partkey = ps_partkey))
        ORDER BY s_name
      """)
    },
    Some("""
      WITH li AS (
        SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(12,2))) AS ps_qty
        FROM li GROUP BY 1, 2)
      SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
      FROM supplier
      WHERE s_suppkey IN (
        SELECT ps_suppkey FROM ps
        WHERE ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND CAST(ps_qty AS DOUBLE) > 0.5 * (
            SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
            FROM li li2 WHERE li2.l_partkey = ps_partkey))
      ORDER BY s_name
    """.trim),
  )

  /** TPC-H Q8 shape (national market share): NATION_0 suppliers' share of
    * EUROPE-customer PROMO-part revenue by order year — the 8-way join
    * with a conditional-share aggregate; nation joins twice (customer
    * side gates the market, supplier side feeds the share CASE), both
    * broadcast. Share divides two exact-2dp sums in DOUBLE.
    */
  val sqlQ8 = QueryDef(
    "q_sql_q8",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        WITH base AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 CAST(l_extendedprice AS DECIMAL(12,4))
                   * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS volume,
                 n2.n_name AS supp_nation
          FROM graft_tpch_lineitem
          JOIN graft_tpch_orders ON o_orderkey = l_orderkey
          JOIN graft_tpch_part ON p_partkey = l_partkey
          JOIN graft_tpch_customer ON c_custkey = o_custkey
          JOIN graft_tpch_nation n1 ON c_nationkey = n1.n_nationkey
          JOIN graft_tpch_region ON n1.n_regionkey = r_regionkey
          JOIN graft_tpch_supplier ON l_suppkey = s_suppkey
          JOIN graft_tpch_nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'EUROPE' AND p_type = 'PROMO')
        SELECT o_year,
               ROUND(CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_0' THEN volume
                                         ELSE CAST(0 AS DECIMAL(12,4)) END), 2) AS DOUBLE)
                     / CAST(ROUND(SUM(volume), 2) AS DOUBLE), 6) AS mkt_share
        FROM base GROUP BY o_year ORDER BY o_year
      """)
    },
    Some("""
      WITH base AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(l_extendedprice AS DECIMAL(12,4))
                 * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN part ON p_partkey = l_partkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE' AND p_type = 'PROMO')
      SELECT o_year,
             ROUND(CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_0' THEN volume
                                       ELSE CAST(0 AS DECIMAL(12,4)) END), 2) AS DOUBLE)
                   / CAST(ROUND(SUM(volume), 2) AS DOUBLE), 6) AS mkt_share
      FROM base GROUP BY o_year ORDER BY o_year
    """.trim),
  )

  /** TPC-H Q9 shape (product-type profit): per supplier-nation and order
    * year, revenue minus a retail-derived cost (the fixture has no
    * ps_supplycost, so cost = 0.8 × p_retailprice × quantity). Both sums
    * round to exact 2dp before the DOUBLE subtraction — identical bits
    * both engines.
    */
  val sqlQ9 = QueryDef(
    "q_sql_q9",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                       * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE)
                     - CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(12,2))
                       * CAST(l_quantity AS DECIMAL(12,2))
                       * CAST(0.8 AS DECIMAL(2,1))), 2) AS DOUBLE), 2) AS sum_profit
        FROM graft_tpch_lineitem
        JOIN graft_tpch_orders ON o_orderkey = l_orderkey
        JOIN graft_tpch_part ON p_partkey = l_partkey
        JOIN graft_tpch_supplier ON l_suppkey = s_suppkey
        JOIN graft_tpch_nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%gear%'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation, o_year DESC
      """)
    },
    Some("""
      SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                     * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE)
                   - CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(12,2))
                     * CAST(l_quantity AS DECIMAL(12,2))
                     * CAST(0.8 AS DECIMAL(2,1))), 2) AS DOUBLE), 2) AS sum_profit
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
      GROUP BY n_name, year(o_orderdate)
      ORDER BY nation, o_year DESC
    """.trim),
  )

  /** TPC-H Q11 shape (important stock): per-part EUROPE-supplied value
    * with a HAVING against a fraction of the GLOBAL total — the
    * grouped-aggregate-vs-global-scalar shape; the scalar is one extra
    * single-row aggregate over the same derived relation, broadcast
    * into the filter.
    *
    * Threshold is SCALE-FREE: TPC-H itself scales the fraction with SF
    * (0.0001/SF) so the result set doesn't empty as the part space
    * grows; the fixture-adapted equivalent is 2× the average per-part
    * share (2.0/COUNT(*) of the grouped relation). A fixed fraction
    * emptied the result at sf0.1 — exactly the 10×-scale-up artifact
    * this engine is graded against.
    */
  val sqlQ11 = QueryDef(
    "q_sql_q11",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                     * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS value
          FROM graft_tpch_lineitem
          JOIN graft_tpch_supplier ON l_suppkey = s_suppkey
          JOIN graft_tpch_nation ON s_nationkey = n_nationkey
          JOIN graft_tpch_region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
          GROUP BY l_partkey)
        SELECT ps_partkey, CAST(ROUND(value, 2) AS DOUBLE) AS value
        FROM ps
        WHERE CAST(value AS DOUBLE) >
          (SELECT CAST(SUM(value) AS DOUBLE) * 2.0 / COUNT(*) FROM ps)
        ORDER BY value DESC, ps_partkey
      """)
    },
    Some("""
      WITH ps AS (
        SELECT l_partkey AS ps_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                   * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY l_partkey)
      SELECT ps_partkey, CAST(ROUND(value, 2) AS DOUBLE) AS value
      FROM ps
      WHERE CAST(value AS DOUBLE) >
        (SELECT CAST(SUM(value) AS DOUBLE) * 2.0 / COUNT(*) FROM ps)
      ORDER BY value DESC, ps_partkey
    """.trim),
  )

  /** TPC-H Q13 shape (customer order-count distribution): LEFT JOIN with
    * an ON-clause filter (customers with zero qualifying orders must
    * survive with count 0), aggregated twice — per customer, then into
    * the distribution. Pure counts, no float caveats.
    */
  val sqlQ13 = QueryDef(
    "q_sql_q13",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM graft_tpch_customer
          LEFT JOIN graft_tpch_orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
      """)
    },
    Some("""
      SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC
    """.trim),
  )

  /** TPC-H Q15 shape (top supplier): quarterly per-supplier revenue CTE
    * consumed twice — once for the rows, once for the scalar MAX the
    * equality filters on. Exact decimal revenue makes the cross-engine
    * equality sound (a double formulation could lose the tie).
    */
  val sqlQ15 = QueryDef(
    "q_sql_q15",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                     * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS total_revenue
          FROM graft_tpch_lineitem
          WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01'
            AND l_shipdate < TIMESTAMP_NTZ '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name,
               CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
        FROM graft_tpch_supplier
        JOIN rev ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        ORDER BY s_suppkey
      """)
    },
    Some("""
      WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                   * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name,
             CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
      FROM supplier
      JOIN rev ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      ORDER BY s_suppkey
    """.trim),
  )

  /** TPC-H Q17 shape (small-quantity revenue): correlated scalar AVG per
    * part gating the fact rows (quantity below half the part's average)
    * — decorrelates into a per-part aggregate rejoin; the /7 yearly
    * normalization stays on the exact-2dp DOUBLE image.
    */
  val sqlQ17 = QueryDef(
    "q_sql_q17",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) / 7.0, 6)
                 AS avg_yearly
        FROM graft_tpch_lineitem
        JOIN graft_tpch_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#3'
          AND l_quantity < (
            SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
            FROM graft_tpch_lineitem l2 WHERE l2.l_partkey = graft_tpch_lineitem.l_partkey)
      """)
    },
    Some("""
      SELECT ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) / 7.0, 6)
               AS avg_yearly
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#3'
        AND l_quantity < (
          SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
          FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
    """.trim),
  )

  /** TPC-H Q22 shape (global sales opportunity): above-average-balance
    * customers with no recent orders, grouped by a key-derived country
    * code (the fixture has no phone column). Scalar AVG subquery +
    * NOT EXISTS anti-join + two-level aggregate.
    */
  val sqlQ22 = QueryDef(
    "q_sql_q22",
    (s, dir) => {
      views(s, dir)
      s.sql("""
        SELECT c_custkey % 7 AS cntrycode, COUNT(*) AS numcust,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
        FROM graft_tpch_customer
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
            FROM graft_tpch_customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM graft_tpch_orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP_NTZ '1999-01-01')
        GROUP BY c_custkey % 7
        ORDER BY cntrycode
      """)
    },
    Some("""
      SELECT c_custkey % 7 AS cntrycode, COUNT(*) AS numcust,
             CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
      FROM customer
      WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
          FROM customer WHERE c_acctbal > 0)
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '1999-01-01')
      GROUP BY c_custkey % 7
      ORDER BY cntrycode
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(sqlQ3, sqlQ5, sqlQ18, sqlQ7, sqlQ10, sqlQ2, sqlQ21,
    sqlQ1, sqlQ4, sqlQ6, sqlQ12, sqlQ14, sqlQ19, sqlQ16, sqlQ20,
    sqlQ8, sqlQ9, sqlQ11, sqlQ13, sqlQ15, sqlQ17, sqlQ22)
}
