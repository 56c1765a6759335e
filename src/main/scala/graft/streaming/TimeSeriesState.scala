package graft.streaming

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming twins of the round-5 time-series operators (q_ts_ewma /
  * q_ts_anomaly) via Spark 4's transformWithState — per-user running
  * state is exactly the TWS shape: a two-double ValueState for the EWMA
  * accumulator, a bounded 19-row ListState for the anomaly window.
  *
  * Scale design: state per user is O(1) — (num, den) for EWMA, ≤19 rows
  * for the anomaly window — so total state is O(users) regardless of
  * history length, and the RocksDB provider carries it past memory
  * (PERF.md round 4, state-store shootout). Batch mode runs the SAME processors (each key's
  * full history in one handleInputRows call), which is what the DuckDB
  * oracle checks; StreamingSpec drives the real multi-batch stream and
  * pins stream ≡ batch.
  *
  * Cross-engine float parity mirrors the batch operators: EWMA folds
  * most-recent-first with power-of-two weights (the exact order and
  * arithmetic of q_ts_ewma's oracle); the anomaly window sums values as
  * exact 2dp/4dp decimals before any double op, and rounds z via
  * BigDecimal HALF_UP — bit-identical to Spark's `round` and DuckDB's.
  */
object TimeSeriesState {

  /** (user_id, ts_us, event_id, value) — the per-event tuple both
    * processors consume, keyed by user_id. */
  private type Ev = (Long, Long, Long, Double)

  private def round6(x: Double): Double =
    JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** Running adjusted EWMA (decay 0.5) per user. State: (num, den) with
    * num = Σ x·0.5^age, den = Σ 0.5^age over the full history. A new
    * batch of n rows ages the stored accumulator by 0.5^n and folds its
    * own rows most-recent-first — in batch mode (one call, empty state)
    * this reproduces the oracle's indexed sum term for term.
    */
  private class EwmaProcessor extends StatefulProcessor[Long, Ev, (Long, Double, Long)] {
    @transient private var acc: ValueState[(Double, Double, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[(Double, Double, Long)]("ewma",
        Encoders.product[(Double, Double, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[(Long, Double, Long)] = {
      // most-recent-first: same fold order as the q_ts_ewma oracle
      val recentFirst = rows.toArray.sortBy(r => (-r._2, -r._3))
      var num = 0.0
      var den = 0.0
      var k = 0
      while (k < recentFirst.length) {
        val w = math.pow(0.5, k)
        num += recentFirst(k)._4 * w
        den += w
        k += 1
      }
      val old = if (acc.exists()) acc.get() else (0.0, 0.0, 0L)
      val age = math.pow(0.5, recentFirst.length)
      num += age * old._1
      den += age * old._2
      // n_seen is monotonic — the streaming spec uses it to identify each
      // user's LAST emission (ewma itself is not monotonic)
      val n = old._3 + recentFirst.length
      acc.update((num, den, n))
      Iterator.single((key, round6(num / den), n))
    }
  }

  /** Rolling z-score anomalies per user. State: the last ≤19 events in
    * time order. Each arriving row is scored against the CURRENT state
    * (its preceding ≤19 rows, self excluded) with the exact decimal
    * sums of q_ts_anomaly, then pushed into the window.
    */
  private class AnomalyProcessor extends StatefulProcessor[Long, Ev, (Long, Long, Double, Double)] {
    @transient private var win: ListState[Ev] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      win = getHandle.getListState[Ev]("window", Encoders.product[Ev], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[(Long, Long, Double, Double)] = {
      val batch = rows.toArray.sortBy(r => (r._2, r._3))
      val window = scala.collection.mutable.ArrayBuffer[Ev](win.get().toSeq: _*)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Double)]()
      for (r <- batch) {
        val n = window.length
        if (n >= 5) {
          // exact 2dp/4dp decimal sums, then the batch query's double ops
          var sv = JBD.ZERO
          var sv2 = JBD.ZERO
          for (w <- window) {
            val v = JBD.valueOf(w._4).setScale(2, RoundingMode.HALF_UP)
            sv = sv.add(v)
            sv2 = sv2.add(v.multiply(v))
          }
          val svD = sv.doubleValue()
          val sv2D = sv2.doubleValue()
          val mu = svD / n
          val sd = math.sqrt((sv2D - svD * svD / n) / (n - 1))
          if (sd > 0) {
            val z = round6((r._4 - mu) / sd)
            if (math.abs(z) > 2) out += ((r._3, key, r._4, z))
          }
        }
        window += r
        if (window.length > 19) window.remove(0)
      }
      win.put(window.toArray)
      out.iterator
    }
  }

  /** Fixed-reference CUSUM parameters, in integer CENTS: drift terms are
    * vc − (μ0+κ)·100 and (μ0−κ)·100 − vc with μ0 = 50, κ = 25; alarm at
    * 250·100. Fixed μ0 is what makes the operator ONE-PASS (Page's
    * original in-control-mean form): the self-referenced variant
    * (q_ts_changepoint) needs the full series for μ and stays batch.
    */
  private val CusumUpRef = 7500L
  private val CusumDownRef = 2500L
  private val CusumAlarmCents = 25000L

  /** One-pass two-sided CUSUM per user against the fixed reference.
    * State: two LONGS (cents) — the recursion s = max(0, s + drift) is
    * exactly associative with batch boundaries, so stream ≡ batch by
    * construction; all arithmetic is integer (the 2dp quantization makes
    * every drift an exact cent count), so stream ≡ oracle closed form
    * bit-for-bit, and the only double op is the final cents/100 display
    * division — the same single IEEE op the oracle performs.
    */
  private class CusumProcessor extends StatefulProcessor[Long, Ev, (Long, Long, Double, String)] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("cusum",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[(Long, Long, Double, String)] = {
      val batch = rows.toArray.sortBy(r => (r._2, r._3))
      var (sPos, sNeg) = if (st.exists()) st.get() else (0L, 0L)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, String)]()
      for (r <- batch) {
        val vc = JBD.valueOf(r._4).setScale(2, RoundingMode.HALF_UP)
          .movePointRight(2).longValueExact()
        sPos = math.max(0L, sPos + (vc - CusumUpRef))
        sNeg = math.max(0L, sNeg + (CusumDownRef - vc))
        if (sPos > CusumAlarmCents) out += ((key, r._3, sPos.toDouble / 100, "up"))
        if (sNeg > CusumAlarmCents) out += ((key, r._3, sNeg.toDouble / 100, "down"))
      }
      st.update((sPos, sNeg))
      out.iterator
    }
  }

  def cusumTws(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_id"), col("value"))
      .as[Ev]
      .groupByKey(_._1)
      .transformWithState(new CusumProcessor, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "event_id", "cusum", "drift")
  }

  def ewmaTws(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_id"), col("value"))
      .as[Ev]
      .groupByKey(_._1)
      .transformWithState(new EwmaProcessor, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "ewma", "n_seen")
  }

  def anomalyTws(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_id"), col("value"))
      .as[Ev]
      .groupByKey(_._1)
      .transformWithState(new AnomalyProcessor, TimeMode.None(), OutputMode.Update())
      .toDF("event_id", "user_id", "value", "z")
  }
}
