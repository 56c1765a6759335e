package graft.streaming

import graft.{QueryDef, Tables}

/** Batch twins of the Group J streaming transforms, registered in
  * SparkEntry so the driver oracle-checks the *semantics*; StreamingSpec
  * separately asserts stream-final-state == these batch results.
  */
object StreamQueries {

  /** Tumbling-window twin (oracle: date_trunc hour). */
  val tumbling = QueryDef(
    "q_stream_tumbling",
    (s, dir) => StreamOps.tumbling(Tables.events(s, dir))
      .orderBy("win_start_us", "event_type"),
    Some("""
      SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS win_start_us,
             event_type, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY win_start_us, event_type
    """.trim),
  )

  /** Sliding-window twin (oracle: the two 30-minute-aligned covering
    * windows per event, replicating Spark's epoch-aligned window() exactly).
    */
  val sliding = QueryDef(
    "q_stream_sliding",
    (s, dir) => StreamOps.sliding(Tables.events(s, dir))
      .orderBy("win_start_us", "event_type"),
    Some("""
      WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type FROM events),
      w AS (
        SELECT ((ts_us // 1800000000) - o) * 1800000000 AS win_start_us, event_type, ts_us
        FROM e CROSS JOIN (SELECT unnest([0, 1]) AS o)
        WHERE ts_us >= ((ts_us // 1800000000) - o) * 1800000000
          AND ts_us <  ((ts_us // 1800000000) - o) * 1800000000 + 3600000000)
      SELECT win_start_us, event_type, COUNT(*) AS n
      FROM w GROUP BY win_start_us, event_type
      ORDER BY win_start_us, event_type
    """.trim),
  )

  /** Session-window twin (oracle: gaps-and-islands — new session when the
    * gap is ≥ 30 min, matching Spark's half-open [start, last+gap) merge
    * rule; session end = last event + gap).
    */
  val session = QueryDef(
    "q_stream_session",
    (s, dir) => StreamOps.session(Tables.events(s, dir))
      .orderBy("user_id", "session_start_us"),
    Some("""
      WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      marked AS (
        SELECT user_id, ts_us,
               CASE WHEN lag(ts_us) OVER w IS NULL
                      OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sessions AS (
        SELECT user_id, ts_us,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id, MIN(ts_us) AS session_start_us,
             MAX(ts_us) + 1800000000 AS session_end_us,
             COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, sid
      ORDER BY user_id, session_start_us
    """.trim),
  )

  /** Dedup twin: the deterministic projection of streaming dropDuplicates
    * (key set only — which physical row survives is order-dependent).
    */
  val dedup = QueryDef(
    "q_stream_dedup",
    (s, dir) => StreamOps.dedupKeys(Tables.events(s, dir))
      .orderBy("user_id", "event_type"),
    Some("""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type
    """.trim),
  )

  /** Stateful-op twin: mapGroupsWithState in batch mode = final per-user
    * totals (oracle: plain GROUP BY).
    */
  val stateful = QueryDef(
    "q_stream_stateful",
    (s, dir) => StreamOps.statefulCounts(Tables.events(s, dir))
      .orderBy("user_id"),
    Some("""
      SELECT user_id, COUNT(*) AS n_events FROM events
      GROUP BY user_id ORDER BY user_id
    """.trim),
  )

  /** transformWithState twin (Spark 4's successor API to
    * mapGroupsWithState) in BATCH mode — same per-user totals, same
    * oracle. Batch TWS still resolves the driver's StateStoreCoordinator
    * RPC endpoint, which Spark only registers when the first STREAMING
    * query starts (round-4 finding: a cold session throws
    * CANNOT_LOAD_STATE_STORE / RpcEndpointNotFoundException), so the
    * query warms the coordinator with a zero-row rate-source no-op once
    * per JVM; TWS also requires the RocksDB provider, set sticky here
    * (harness sessions run no other streaming afterwards).
    */
  val statefulTws = QueryDef(
    "q_stream_stateful_tws",
    (s, dir) => {
      StreamOps.ensureStateStoreCoordinator(s)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      StreamOps.statefulCountsTws(Tables.events(s, dir)).orderBy("user_id")
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events FROM events
      GROUP BY user_id ORDER BY user_id
    """.trim),
  )

  /** Streaming EWMA twin (TimeSeriesState.ewmaTws) in batch mode: the
    * per-user FINAL adjusted EWMA over the full history — the infinite-
    * horizon companion to q_ts_ewma's trailing-20 window, with the same
    * decay-0.5 / most-recent-first fold parity contract. */
  val ewmaTws = QueryDef(
    "q_stream_ewma_tws",
    (s, dir) => {
      StreamOps.ensureStateStoreCoordinator(s)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      TimeSeriesState.ewmaTws(Tables.events(s, dir))
        .select("user_id", "ewma").orderBy("user_id")
    },
    Some("""
      WITH t AS (
        SELECT user_id, array_agg(value ORDER BY ts, event_id) AS l
        FROM events GROUP BY user_id)
      SELECT user_id,
             ROUND(list_sum(list_transform(range(len(l)), i -> l[len(l)-i] * power(0.5, i))) /
                   list_sum(list_transform(range(len(l)), i -> power(0.5, i))), 6) AS ewma
      FROM t
      ORDER BY user_id
    """.trim),
  )

  /** Streaming anomaly twin (TimeSeriesState.anomalyTws) in batch mode:
    * same rows as q_ts_anomaly (same oracle) from the bounded-ListState
    * processor instead of a window frame. */
  val anomalyTws = QueryDef(
    "q_stream_anomaly_tws",
    (s, dir) => {
      StreamOps.ensureStateStoreCoordinator(s)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      TimeSeriesState.anomalyTws(Tables.events(s, dir)).orderBy("event_id")
    },
    graft.operators.TimeSeriesQueries.tsAnomaly.oracle,
  )

  /** Streaming last-touch-attribution twin (EventState.attributionTws) in
    * batch mode: same purchase→click credits as q_events_attribution, from
    * a per-user ValueState carry instead of a window frame — same oracle. */
  val attributionTws = QueryDef(
    "q_stream_attribution_tws",
    (s, dir) => {
      StreamOps.ensureStateStoreCoordinator(s)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      EventState.attributionTws(Tables.events(s, dir)).orderBy("event_id")
    },
    graft.operators.EventQueries.attribution.oracle,
  )

  /** Streaming fixed-reference CUSUM (TimeSeriesState.cusumTws) in batch
    * mode: Page's known-in-control-mean form (μ0=50, κ=25, H=250) — the
    * ONE-PASS companion to q_ts_changepoint's self-referenced batch
    * variant. Per-user state is two integer cent counters; the recursion
    * commutes with batch boundaries, so stream ≡ batch by construction.
    * Oracle: the exact prefix closed form over integer cents, alarm rows
    * from both arms.
    */
  val cusumTws = QueryDef(
    "q_stream_cusum_tws",
    (s, dir) => {
      StreamOps.ensureStateStoreCoordinator(s)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      TimeSeriesState.cusumTws(Tables.events(s, dir))
        .orderBy("user_id", "event_id", "drift")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(CAST(value AS DECIMAL(9,2)) * 100 AS BIGINT) AS vc,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
      p AS (
        SELECT user_id, event_id, rn,
               SUM(vc - 7500) OVER w AS ppos,
               SUM(2500 - vc) OVER w AS pneg
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
      c AS (
        SELECT user_id, event_id,
               ppos - LEAST(0, COALESCE(MIN(ppos) OVER wp, 0)) AS cpos,
               pneg - LEAST(0, COALESCE(MIN(pneg) OVER wp, 0)) AS cneg
        FROM p
        WINDOW wp AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT user_id, event_id, cusum, drift FROM (
        SELECT user_id, event_id, CAST(cpos AS DOUBLE) / 100 AS cusum, 'up' AS drift
        FROM c WHERE cpos > 25000
        UNION ALL
        SELECT user_id, event_id, CAST(cneg AS DOUBLE) / 100, 'down'
        FROM c WHERE cneg > 25000)
      ORDER BY user_id, event_id, drift
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(tumbling, sliding, session, dedup, stateful, statefulTws,
    ewmaTws, anomalyTws, attributionTws, cusumTws)
}
