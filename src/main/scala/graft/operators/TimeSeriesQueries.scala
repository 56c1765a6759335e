package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-5 time-series additions: exponentially-weighted moving average
  * and rolling z-score anomaly detection — the smoothing/outlier pair
  * every metrics pipeline runs per entity over an event stream.
  *
  * Scale design: both are single-window queries — one shuffle on
  * user_id, one frame pass per partition, no self-join, no collect. The
  * EWMA horizon is a fixed 20 rows, so frame state is O(1) per row at
  * any corpus size. Cross-engine float determinism follows the
  * AggQueries playbook: the z-score derives mean/stddev from EXACT
  * decimal frame sums (never a streaming variance), and the EWMA decay
  * is 0.5 — a power of two, so every weight and weighted term is an
  * exact binary scaling — with both engines folding terms in the same
  * most-recent-first order before the 6dp round.
  */
object TimeSeriesQueries {

  /** Per-user EWMA (decay 0.5, pandas adjust=true normalization) over a
    * trailing 20-event horizon, ordered by event time. The finite
    * horizon is what makes the operator scale-exact: weights below
    * 0.5^19 are beneath double noise anyway, and the frame never grows
    * with history length.
    */
  val tsEwma = QueryDef(
    "q_ts_ewma",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(-19, 0)
      Tables.events(s, dir)
        .withColumn("l", collect_list(col("value")).over(w))
        .select(col("event_id"), col("user_id"),
          round(
            expr("aggregate(transform(reverse(l), (x, i) -> x * power(0.5D, i)), 0D, (a, x) -> a + x)") /
              expr("aggregate(transform(reverse(l), (x, i) -> power(0.5D, i)), 0D, (a, x) -> a + x)"),
            6).as("ewma"))
        .orderBy("event_id")
    },
    Some("""
      WITH t AS (
        SELECT event_id, user_id,
               array_agg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
        FROM events)
      SELECT event_id, user_id,
             ROUND(list_sum(list_transform(range(len(l)), i -> l[len(l)-i] * power(0.5, i))) /
                   list_sum(list_transform(range(len(l)), i -> power(0.5, i))), 6) AS ewma
      FROM t
      ORDER BY event_id
    """.trim),
  )

  /** Rolling z-score anomaly detection: each event scored against the
    * mean/stddev of its user's PRECEDING 19..1 events (current row
    * excluded so an outlier can't mask itself), emitting only |z| > 2
    * with at least 5 history rows. Mean and stddev come from exact
    * decimal frame sums, so the filter boundary is bit-identical in
    * both engines.
    */
  val tsAnomaly = QueryDef(
    "q_ts_anomaly",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(-19, -1)
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"),
          col("value").cast(DecimalType(9, 2)).as("v"))
        .withColumn("n", count(col("v")).over(w))
        .withColumn("sum_v", sum(col("v")).over(w).cast(DecimalType(38, 2)).cast(DoubleType))
        .withColumn("sum_v2", sum(col("v") * col("v")).over(w).cast(DecimalType(38, 4)).cast(DoubleType))
        .filter(col("n") >= 5)
        .withColumn("mu", col("sum_v") / col("n"))
        .withColumn("sd", sqrt((col("sum_v2") - col("sum_v") * col("sum_v") / col("n")) / (col("n") - 1)))
        .filter(col("sd") > 0)
        .withColumn("z", round((col("value") - col("mu")) / col("sd"), 6))
        .filter(abs(col("z")) > 2)
        .select("event_id", "user_id", "value", "z")
        .orderBy("event_id")
    },
    Some("""
      WITH t AS (
        SELECT event_id, user_id, value,
               COUNT(v) OVER w AS n,
               CAST(CAST(SUM(v) OVER w AS DECIMAL(38,2)) AS DOUBLE) AS sum_v,
               CAST(CAST(SUM(v * v) OVER w AS DECIMAL(38,4)) AS DOUBLE) AS sum_v2
        FROM (SELECT *, CAST(value AS DECIMAL(9,2)) AS v FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND 1 PRECEDING)),
      scored AS (
        SELECT event_id, user_id, value,
               sqrt((sum_v2 - sum_v * sum_v / n) / (n - 1)) AS sd,
               sum_v / n AS mu
        FROM t WHERE n >= 5)
      SELECT event_id, user_id, value, ROUND((value - mu) / sd, 6) AS z
      FROM scored
      WHERE sd > 0 AND ABS(ROUND((value - mu) / sd, 6)) > 2
      ORDER BY event_id
    """.trim),
  )

  /** STL-style seasonal decomposition of the global hourly value series:
    * trend = centered 25-point rows-frame moving average, seasonal =
    * hour-of-day mean of the detrended series, residual = the rest. The
    * classic additive decomposition (Cleveland's STL with the loess
    * smoothers replaced by the moving-average/seasonal-means form that
    * both engines can compute exactly).
    *
    * Scale shape: the raw corpus reduces to ≤ (hours in range) rows in
    * ONE hash aggregate (exact decimal sums — order-free), and
    * everything after operates on that bounded series: the unpartitioned
    * rows-frame window is sound because a time-bucketed series is
    * corpus-size-independent (720 rows/month regardless of event count
    * — same argument as q_ts_gapfill's grid). Float parity: hourly sums
    * are exact DECIMAL(18,2); the trend is an exact-decimal frame sum
    * divided by the frame count; detrended values are 8dp-decimal
    * rounded before the order-free seasonal mean; displayed components
    * round at 6dp and the residual is recomputed from the ROUNDED
    * components so every engine derives it from identical operands.
    */
  val tsStl = QueryDef(
    "q_ts_stl",
    (s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("h"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("ydec"))
      val w = Window.orderBy("h").rowsBetween(-12, 12)
      val trended = hourly
        .withColumn("y", col("ydec").cast(DoubleType))
        .withColumn("trend",
          round(sum("ydec").over(w).cast(DoubleType) / count(lit(1)).over(w), 6))
        .withColumn("sdec",
          round(col("y") - col("trend"), 8).cast(DecimalType(18, 8)))
      val seasonal = trended
        .withColumn("hod", substring(col("h"), 12, 2))
        .groupBy("hod")
        .agg(round(sum("sdec").cast(DoubleType) / count(lit(1)), 6).as("seasonal"))
      trended.withColumn("hod", substring(col("h"), 12, 2))
        .join(seasonal, "hod")
        .select(col("h"), col("y"),
          col("trend"), col("seasonal"),
          round(col("y") - col("trend") - col("seasonal"), 6).as("resid"))
        .orderBy("h")
    },
    Some("""
      WITH hourly AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS h,
               SUM(CAST(value AS DECIMAL(18,2))) AS ydec
        FROM events GROUP BY 1),
      trended AS (
        SELECT h, CAST(ydec AS DOUBLE) AS y,
               ROUND(CAST(SUM(ydec) OVER fr AS DOUBLE) / COUNT(*) OVER fr, 6) AS trend
        FROM hourly
        WINDOW fr AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      t2 AS (
        SELECT h, y, trend,
               CAST(ROUND(y - trend, 8) AS DECIMAL(18,8)) AS sdec,
               substr(h, 12, 2) AS hod
        FROM trended),
      seas AS (
        SELECT hod, ROUND(CAST(SUM(sdec) AS DOUBLE) / COUNT(*), 6) AS seasonal
        FROM t2 GROUP BY hod)
      SELECT h, y, trend, seasonal, ROUND(y - trend - seasonal, 6) AS resid
      FROM t2 JOIN seas ON t2.hod = seas.hod
      ORDER BY h
    """.trim),
  )

  /** Lagged cross-correlation between the hourly 'click' and 'view'
    * series (lags 0–6 hours): Pearson over aligned (t, t+lag) bucket
    * pairs, computed entirely from exact decimal sums (n, Σx, Σy, Σx²,
    * Σy², Σxy — every product of 2dp decimals is exact, every sum
    * order-free) with ONE double expression at the end, so both engines
    * produce identical bits before the 6dp round. The series join keys
    * on integer hour indexes (epoch-hour), so each lag is an equi-join
    * on a bounded, corpus-size-independent relation.
    */
  val tsXcorr = QueryDef(
    "q_ts_xcorr",
    (s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', date_trunc('hour', ts))")
            .as("hidx"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val x = hourly.filter(col("event_type") === "click")
        .select(col("hidx"), col("v").as("x"))
      val y = hourly.filter(col("event_type") === "view")
        .select(col("hidx").as("hy"), col("v").as("y"))
      val lags = s.range(0, 7).select(col("id").as("lag"))
      val pairs = x.crossJoin(broadcast(lags))
        .join(y, col("hy") === col("hidx") + col("lag"))
      val sums = pairs.groupBy("lag").agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      sums.select(col("lag"), col("n"),
          round(
            (col("n") * col("sxy").cast(DoubleType) - col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
              sqrt((col("n") * col("sxx").cast(DoubleType) - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
                (col("n") * col("syy").cast(DoubleType) - col("sy").cast(DoubleType) * col("sy").cast(DoubleType))),
            6).as("xcorr"))
        .orderBy("lag")
    },
    Some("""
      WITH hourly AS (
        SELECT event_type,
               datediff('hour', TIMESTAMP '1970-01-01 00:00:00', date_trunc('hour', ts)) AS hidx,
               SUM(CAST(value AS DECIMAL(18,2))) AS v
        FROM events GROUP BY 1, 2),
      x AS (SELECT hidx, v AS x FROM hourly WHERE event_type = 'click'),
      y AS (SELECT hidx AS hy, v AS y FROM hourly WHERE event_type = 'view'),
      lags AS (SELECT unnest(range(7)) AS lag),
      pairs AS (
        SELECT lag, x.x, y.y FROM x CROSS JOIN lags JOIN y ON y.hy = x.hidx + lag),
      sums AS (
        SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM pairs GROUP BY lag)
      SELECT lag, n,
             ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                   sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                        (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS xcorr
      FROM sums
      ORDER BY lag
    """.trim),
  )

  /** CUSUM slack below/above the series mean (value units). */
  private val CusumSlack = 25
  /** CUSUM alarm threshold (value units of normalized cumulative drift). */
  private val CusumH = 250

  /** Two-sided CUSUM changepoint detection per user series (Page 1954):
    * the sustained-drift complement to q_ts_anomaly's point outliers — a
    * level shift of many small steps never trips a z-score but integrates
    * into a CUSUM alarm. The textbook recursion s_t = max(0, s_{t-1} +
    * (x_t − μ) − κ) looks inherently sequential, but it has the exact
    * prefix closed form s_t = P_t − min(0, min_{j<t} P_j) with
    * P_t = Σ_{i≤t}((x_i − μ) − κ), so the whole operator is ONE shuffle on
    * the series key and two window passes (cumulative sum, running min) —
    * no recursion, no per-row state, frame O(1).
    *
    * Exactness: μ = S/n is rational, so everything is scaled by n —
    * P'_t = n·cumsum(v) − t·(S ± n·κ) — and stays an exact decimal in
    * both engines; the alarm compare (s' > n·H) is decimal-exact, and
    * only the final normalized output value touches floats — computed as
    * unscaled-integer / (100·n), ONE IEEE division of exact integer
    * operands, bit-identical cross-engine. Neither a decimal→double cast
    * (engines differ by an ulp: two-step hugeint·0.01 vs correctly-rounded
    * BigDecimal) nor a 6dp round (ties at rational digit boundaries split
    * the engines' ROUND implementations) survives the hash compare; the
    * integer route sidesteps both. Both drift directions
    * are tracked; the fixture's right-skewed values fire only the upward
    * side (the oracle checks both arms either way).
    */
  /** CUSUM core over an arbitrary keyed series frame — columns (key `k`,
    * row id `rid`, exact DECIMAL(9,2) value `v`, plus ordering columns) —
    * shared by q_ts_changepoint and the `cusum` facade verb. Emits
    * (k, rid, cusum, drift) alarm rows.
    */
  private[graft] def cusumOn(series: org.apache.spark.sql.DataFrame,
      order: Seq[org.apache.spark.sql.Column],
      slack: Int, h: Int): org.apache.spark.sql.DataFrame = {
    val byTime = Window.partitionBy("k").orderBy(order: _*)
    val e = series.withColumn("rn", row_number().over(byTime))
    val st = e.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).cast(DecimalType(38, 2)).as("sv"))
    val byRn = Window.partitionBy("k").orderBy("rn")
    val prior = byRn.rowsBetween(Window.unboundedPreceding, -1)
    val zero = lit(0).cast(DecimalType(38, 2))
    val p = e.join(st, "k")
      .withColumn("cum", sum(col("v")).over(byRn).cast(DecimalType(38, 2)))
      .withColumn("ppos", col("n") * col("cum") - col("rn") * (col("sv") + col("n") * lit(slack)))
      .withColumn("pneg", col("n") * col("cum") - col("rn") * (col("sv") - col("n") * lit(slack)))
    val c = p
      .withColumn("cpos", col("ppos") - least(zero, coalesce(min(col("ppos")).over(prior), zero)))
      .withColumn("cneg", greatest(zero, coalesce(max(col("pneg")).over(prior), zero)) - col("pneg"))
    val up = c.filter(col("cpos") > col("n") * lit(h))
      .select(col("k"), col("rid"),
        ((col("cpos") * 100).cast(LongType).cast(DoubleType) / (col("n") * 100)).as("cusum"), lit("up").as("drift"))
    val down = c.filter(col("cneg") > col("n") * lit(h))
      .select(col("k"), col("rid"),
        ((col("cneg") * 100).cast(LongType).cast(DoubleType) / (col("n") * 100)).as("cusum"), lit("down").as("drift"))
    up.unionAll(down).orderBy("k", "rid", "drift")
  }

  val tsChangepoint = QueryDef(
    "q_ts_changepoint",
    (s, dir) => cusumOn(
        Tables.events(s, dir)
          .select(col("user_id").as("k"), col("event_id").as("rid"), col("ts"),
            col("value").cast(DecimalType(9, 2)).as("v")),
        Seq(asc("ts"), asc("rid")), CusumSlack, CusumH)
      .withColumnsRenamed(Map("k" -> "user_id", "rid" -> "event_id")),
    Some(s"""
      WITH e AS (
        SELECT user_id, event_id, CAST(value AS DECIMAL(9,2)) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
      st AS (SELECT user_id, count(*) AS n, CAST(sum(v) AS DECIMAL(38,2)) AS sv FROM e GROUP BY 1),
      p AS (
        SELECT e.user_id, event_id, rn, n,
               n * SUM(v) OVER w - rn * (sv + n * $CusumSlack) AS ppos,
               n * SUM(v) OVER w - rn * (sv - n * $CusumSlack) AS pneg
        FROM e JOIN st USING (user_id)
        WINDOW w AS (PARTITION BY e.user_id ORDER BY rn)),
      c AS (
        SELECT user_id, event_id, n,
               ppos - LEAST(CAST(0 AS DECIMAL(38,2)),
                 COALESCE(MIN(ppos) OVER wp, CAST(0 AS DECIMAL(38,2)))) AS cpos,
               GREATEST(CAST(0 AS DECIMAL(38,2)),
                 COALESCE(MAX(pneg) OVER wp, CAST(0 AS DECIMAL(38,2)))) - pneg AS cneg
        FROM p
        WINDOW wp AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT user_id, event_id, cusum, drift FROM (
        SELECT user_id, event_id, CAST(CAST(cpos * 100 AS BIGINT) AS DOUBLE) / (n * 100) AS cusum, 'up' AS drift
        FROM c WHERE cpos > n * $CusumH
        UNION ALL
        SELECT user_id, event_id, CAST(CAST(cneg * 100 AS BIGINT) AS DOUBLE) / (n * 100), 'down'
        FROM c WHERE cneg > n * $CusumH)
      ORDER BY user_id, event_id, drift
    """.trim),
  )

  /** Autocorrelation function at lags 1..3 of each event type's hourly
    * value series — the seasonality/persistence diagnostic next to
    * q_ts_xcorr's cross-series form. EXACT mean-centering without a
    * single float: with n hours and series sum S, y_t = n·x_t − S is an
    * exact integer and ACF_k = Σ y_t·y_{t+k} / Σ y_t² — the n² factors
    * cancel EXACTLY, so no mean is ever materialized. Lag pairing is an
    * equi-join on (type, h+k) (gap-correct — a missing hour pairs with
    * nothing, unlike a lead() that would silently bridge it), the
    * denominator one aggregate on the same tiny hourly grain, and the
    * quotient is a 1e6-scale exact floor division on non-negative
    * operands (sign reapplied). One events shuffle to the (type, hour)
    * grain; everything after lives on ≤ #types·#hours rows.
    */
  /** ACF core over a regular (g, h, x) series grid (x exact long) —
    * the q_ts_acf machinery, reused by the GraftFrame.acf verb.
    */
  private[graft] def acfOn(hourly: org.apache.spark.sql.DataFrame, maxLag: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType, DoubleType}
    val D38 = DecimalType(38, 0)
    val tot = hourly.groupBy("g").agg(
      count(lit(1)).cast(D38).as("n"), sum("x").cast(D38).as("sx"))
    val y = hourly.join(tot, "g")
      .select(col("g"), col("h"), (col("n") * col("x") - col("sx")).cast(D38).as("y"))
      .localCheckpoint()
    val den = y.groupBy("g").agg(sum(col("y") * col("y")).cast(D38).as("den"))
    val lags = (1 to maxLag).map { k =>
      val b = y.select(col("g").as("g2"), (col("h") - k).as("h"), col("y").as("yk"))
      y.join(b, col("g") === col("g2") && y("h") === b("h"))
        .groupBy("g").agg(
          count(lit(1)).cast(LongType).as("n_pairs"),
          sum(col("y") * col("yk")).cast(D38).as("num"))
        .withColumn("lag", lit(k))
    }.reduce(_ unionByName _)
    lags.join(den, "g")
      .withColumn("acf_e6",
        // den = 0 (zero-variance series) → NULL acf, never an ANSI
        // DIVIDE_BY_ZERO — the docs/API.md degenerate-input contract
        when(col("den") =!= 0,
          when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr("(abs(num) * 1000000) div den")))
      .select(col("g").as("event_type"), col("lag"), col("n_pairs"),
        (col("acf_e6").cast(DoubleType) / lit(1000000.0)).as("acf"))
      .orderBy("event_type", "lag")
  }

  val tsAcf = QueryDef(
    "q_ts_acf",
    (s, dir) => {
      import org.apache.spark.sql.types.{DecimalType, LongType}
      acfOn(Tables.events(s, dir)
        .select(col("event_type").as("g"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"),
          (col("value").cast(DecimalType(12, 2)) * 100).cast(LongType).as("x"))
        .groupBy("g", "h").agg(sum("x").as("x")), 3)
    },
    Some("""
      WITH hourly AS (
        SELECT event_type AS g, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
               SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS x
        FROM events GROUP BY 1, 2),
      tot AS (
        SELECT g, CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx
        FROM hourly GROUP BY g),
      y AS (
        SELECT g, h, n * x - sx AS y
        FROM hourly JOIN tot USING (g)),
      den AS (SELECT g, SUM(y * y) AS den FROM y GROUP BY g),
      lags AS (
        SELECT a.g, k.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(a.y * b.y) AS num
        FROM (VALUES (1), (2), (3)) k(lag)
        JOIN y a ON TRUE
        JOIN y b ON b.g = a.g AND b.h = a.h + k.lag
        GROUP BY a.g, k.lag)
      SELECT g AS event_type, lag, n_pairs,
             CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END *
                  ((abs(num) * 1000000) // den) AS DOUBLE) / 1000000.0 AS acf
      FROM lags JOIN den USING (g)
      ORDER BY event_type, lag
    """.trim),
  )

  /** Mann-Kendall trend test + Sen's slope per event-type hourly series
    * (Mann 1945 / Kendall 1975 / Sen 1968 — the standard nonparametric
    * "is this metric drifting" monitor). S = Σ sign(x_j − x_i) over
    * time-ordered pairs, tie-corrected variance, Z = (S ∓ 1)/√Var; Sen
    * slope = the exact median of the pairwise slopes, quantized to 1e-6
    * via floor(slope·1e6) so the median selection runs on the all-integer
    * machinery (StatQueries.median2On over the value-distinct grain) —
    * floor of exact-input IEEE products is cross-engine deterministic,
    * unlike half-case rounding.
    *
    * Scale shape: the pair join is bounded by the TIME GRAIN (720 hourly
    * points/series here — C(n,2) ≈ 259k pairs regardless of corpus rows,
    * the q_ts_acf contract); everything downstream is value-distinct or
    * per-group scalar.
    */
  /** The MK/Sen tail over an explicit (g, h, x) hourly-grain frame —
    * shared by the registered query and IncrementalTrend.serveTrend
    * (the hourly grain is an associative per-(g, h) sum, so
    * state-served ≡ one-shot exactly).
    */
  /** The pairwise Mann-Kendall/Sen SLOPE HISTOGRAM of an hourly grain:
    * one row per (g, slope_q, sgn) with its pair multiplicity t. This is
    * the artifact IncrementalTrend maintains incrementally — every MK/Sen
    * output derives from it without re-enumerating the hours² pair grid:
    * s = Σ sgn·t, n_pairs = Σ t, and the Sen median reads the (g,
    * slope_q) marginal. sgn stays in the key because it is NOT derivable
    * from slope_q (a small positive dx/dh floors to slope_q 0 while
    * sgn = 1).
    */
  private[graft] def slopeHistFromHourly(hourly: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val b = hourly.select(col("g").as("g2"), col("h").as("hb"), col("x").as("xb"))
    hourly.join(b, col("g") === col("g2") && col("h") < col("hb"))
      .select(col("g"), (col("xb") - col("x")).as("dx"), (col("hb") - col("h")).as("dh"))
      .withColumn("sgn", when(col("dx") > 0, 1L).when(col("dx") < 0, -1L).otherwise(0L))
      .withColumn("slope_q",
        expr("cast(floor((cast(dx as double) / dh) * 1000000.0) as bigint)"))
      .groupBy("g", "slope_q", "sgn").agg(count(lit(1)).cast(LongType).as("t"))
  }

  /** MK/Sen tail over the hourly grain + its slope histogram — shared by
    * the one-shot (which builds the histogram inline) and the maintained
    * serve path (which reads it from state); all-integer inputs, so the
    * two are bit-equal by construction.
    */
  private[graft] def trendFromParts(hourly: org.apache.spark.sql.DataFrame,
      hist0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val hist = hist0.localCheckpoint() // feeds the S aggregate + the Sen median
      trendTail(momentsFromParts(hourly, hist), hist)
  }

  /** The per-series MK moments (g, s, n_pairs, n, tie) from an hourly
    * grain and its slope histogram — the associative quintuple
    * IncrementalTrend maintains as state so serve never re-aggregates
    * the full hourly grain (r13 verdict item 4). Integer-exact, so the
    * maintained fold and this one-shot aggregation are bit-equal.
    */
  private[graft] def momentsFromParts(hourly: org.apache.spark.sql.DataFrame,
      hist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val sAgg = hist.groupBy("g").agg(
        sum(col("sgn") * col("t")).cast(LongType).as("s"),
        sum("t").cast(LongType).as("n_pairs"))
      val nAgg = hourly.groupBy("g").agg(count(lit(1)).cast(LongType).as("n"))
      val ties = hourly.groupBy("g", "x").agg(count(lit(1)).as("t"))
        .groupBy("g").agg(
          sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).cast(LongType).as("tie"))
      sAgg.join(nAgg, "g").join(ties, "g")
  }

  /** The CUMULATIVE Sen marginal of a slope histogram: one row per
    * (g, v = slope_q summed over sgn) with its pair count t and the
    * cumulative count cb of strictly-smaller slopes — the artifact that
    * turns the serve-time Sen median from a window sort into two rank
    * probes. Maintained at INGEST by IncrementalTrend (the histogram is
    * rewritten every batch anyway, so the window is paid where the grain
    * work already lives, not at serve).
    */
  private[graft] def senCumFromSlopes(hist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hist.groupBy(col("g"), col("slope_q").as("v")).agg(sum("t").cast(LongType).as("t"))
      .withColumn("cb", coalesce(
        sum("t").over(Window.partitionBy("g").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).cast(LongType))

  /** MK/Sen output from moments + the PRE-CUMULATED Sen marginal: the
    * median selection is the same integer rank probe median2On makes
    * (cb ≤ m < cb + t for m = (n−1) div 2 and n div 2), but cb arrives
    * precomputed, so serve pays one filter-aggregate scan of the
    * marginal — no window, no sort. n_pairs comes from the maintained
    * moments (spec-pinned ≡ Σt of the histogram), broadcast onto the
    * probe scan.
    */
  private[graft] def trendFromMomentsCum(moments0: org.apache.spark.sql.DataFrame,
      cum: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val moments = moments0.localCheckpoint() // feeds the probe join + the tail
      val sen = cum
        .join(broadcast(moments.select(col("g").as("gn"), col("n_pairs").as("np"))),
          col("g") === col("gn"))
        .withColumn("m1", expr("(np - 1) div 2"))
        .withColumn("m2", expr("np div 2"))
        .groupBy("g").agg(
          (sum(when(col("cb") <= col("m1")
              && col("m1") < col("cb") + col("t"), col("v")).otherwise(0L))
            + sum(when(col("cb") <= col("m2")
              && col("m2") < col("cb") + col("t"), col("v")).otherwise(0L)))
            .cast(LongType).as("med2"))
      trendJoin(moments, sen)
  }

  private def trendTail(moments: org.apache.spark.sql.DataFrame,
      hist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val sen = StatQueries.median2On(
          hist.groupBy(col("g").as("grp"), col("slope_q").as("v"))
            .agg(sum("t").cast(LongType).as("t")))
        .select(col("grp").as("g"), col("med2"))
      trendJoin(moments, sen)
  }

  /** The shared MK formula tail over (moments ⋈ sen med2) — both Sen
    * selection paths (window median2On, precumulated rank probe) feed
    * identical integer inputs here, so their outputs are bit-equal.
    */
  private def trendJoin(moments: org.apache.spark.sql.DataFrame,
      sen: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      moments.join(sen, "g")
        .withColumn("var18",
          (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("tie"))
            .cast(DoubleType) / 18.0)
        .withColumn("z", when(col("var18") > 0.0,
          when(col("s") > 0, (col("s") - 1).cast(DoubleType) / sqrt(col("var18")))
            .when(col("s") < 0, (col("s") + 1).cast(DoubleType) / sqrt(col("var18")))
            .otherwise(lit(0.0))))
        .select(col("g").as("event_type"), col("n"), col("n_pairs"), col("s"), col("z"),
          (col("med2").cast(DoubleType) / 2000000.0).as("sen_slope"))
        .orderBy("event_type")
  }

  /** One-shot MK/Sen trend from an hourly grain — builds the pair grid
    * inline then runs the shared tail.
    */
  private[graft] def trendFromHourly(hourly0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val hourly = hourly0.localCheckpoint() // feeds the pair grid + n + ties
    trendFromParts(hourly, slopeHistFromHourly(hourly))
  }

  val tsTrend = QueryDef(
    "q_ts_trend",
    (s, dir) => trendFromHourly(Tables.events(s, dir)
      .select(col("event_type").as("g"),
        expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"),
        (col("value").cast(DecimalType(12, 2)) * 100).cast(LongType).as("x"))
      .groupBy("g", "h").agg(sum("x").cast(LongType).as("x"))),
    Some("""
      WITH hourly AS (
        SELECT event_type AS g, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      pairs AS (
        SELECT a.g, b.x - a.x AS dx, b.h - a.h AS dh,
               CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
               CAST(FLOOR((CAST(b.x - a.x AS DOUBLE) / (b.h - a.h)) * 1000000.0) AS BIGINT) AS slope_q
        FROM hourly a JOIN hourly b ON a.g = b.g AND a.h < b.h),
      sagg AS (SELECT g, CAST(SUM(sgn) AS BIGINT) AS s, COUNT(*) AS n_pairs FROM pairs GROUP BY g),
      nagg AS (SELECT g, COUNT(*) AS n FROM hourly GROUP BY g),
      ties AS (SELECT g, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie FROM (
                 SELECT g, x, COUNT(*) AS t FROM hourly GROUP BY g, x) GROUP BY g),
      sh AS (SELECT g, slope_q AS v, COUNT(*) AS t FROM pairs GROUP BY g, slope_q),
      sr AS (SELECT g, v, t,
               COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
               SUM(t) OVER (PARTITION BY g) AS np
             FROM sh),
      sen AS (SELECT g,
                CAST(SUM(CASE WHEN cb <= (np - 1) // 2 AND (np - 1) // 2 < cb + t THEN v ELSE 0 END)
                   + SUM(CASE WHEN cb <= np // 2 AND np // 2 < cb + t THEN v ELSE 0 END) AS BIGINT) AS med2
              FROM sr GROUP BY g)
      SELECT sagg.g AS event_type, n, n_pairs, s,
             CASE WHEN (n * (n - 1) * (2 * n + 5) - tie) > 0 THEN
               CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie AS DOUBLE) / 18.0)
                    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie AS DOUBLE) / 18.0)
                    ELSE 0.0 END
             END AS z,
             CAST(med2 AS DOUBLE) / 2000000.0 AS sen_slope
      FROM sagg JOIN nagg USING (g) JOIN ties USING (g) JOIN sen USING (g)
      ORDER BY event_type
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(tsEwma, tsAnomaly, tsStl, tsXcorr, tsChangepoint, tsAcf, tsTrend)
}
