package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental maintenance of the Mann-Kendall/Sen trend surface
  * (q_ts_trend) AND the RFM segmentation surface (q_events_rfm) — two
  * more "one associative state serves the operator exactly" maintainers:
  *
  *   - trend state = the (g, h, x) HOURLY grain (per-(g, h) sums,
  *     TIME-bounded: 720 rows/series per month regardless of corpus
  *     rows) + the pairwise slope HISTOGRAM (delta-maintained, so the
  *     hours² pair grid is never re-enumerated) + the per-(g, x) value
  *     census and the per-series MK MOMENTS (s, n_pairs, n, tie) folded
  *     from the same deltas (r14) — [[serveTrend]] reads the moments
  *     and runs only the Sen order statistic over the histogram,
  *     bit-equal to one-shot because every moment is an exact integer
  *     fold of the identical grains.
  *   - rfm state = the per-user (last_us, f, m) triple: (max, sum, sum)
  *     merges; [[serveRfm]] runs the identical scoring tail
  *     (EventQueries.rfmFromUsers) — bit-equal to one-shot. The serve
  *     pays the user-grain quintile windows, never an event re-scan.
  *
  * State protocol: versioned tables behind the [[StateLog]] version
  * pointer (crash replays skipped by its batch tag).
  */
object IncrementalTrend {

  private val trendSchema = StructType(Seq(
    StructField("g", StringType), StructField("h", LongType), StructField("x", LongType)))
  private val slopeSchema = StructType(Seq(
    StructField("g", StringType), StructField("slope_q", LongType),
    StructField("sgn", LongType), StructField("t", LongType)))
  private val rfmSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("last_us", LongType),
    StructField("f", LongType), StructField("m", LongType)))
  private val valsSchema = StructType(Seq(
    StructField("g", StringType), StructField("x", LongType), StructField("c", LongType)))
  private val momentsSchema = StructType(Seq(
    StructField("g", StringType), StructField("s", LongType),
    StructField("n_pairs", LongType), StructField("n", LongType),
    StructField("tie", LongType)))

  private val cumSchema = StructType(Seq(
    StructField("g", StringType), StructField("v", LongType),
    StructField("t", LongType), StructField("cb", LongType)))

  /** Table `sub` of the generation `p` names. */
  private def readAt(s: SparkSession, base: String, p: Option[StateLog.Pointer], sub: String,
      schema: StructType): DataFrame =
    StateLog.readGeneration(s, p, schema)(v => s"$base/$v/$sub")

  /** Current hourly trend grain (empty before batch 0). */
  def readHourly(s: SparkSession, base: String): DataFrame =
    readAt(s, base, StateLog.pointer(s, base), "hourly", trendSchema)

  /** Current maintained pairwise slope histogram (g, slope_q, sgn, t) —
    * the artifact that keeps the hours² Mann-Kendall/Sen pair grid OFF
    * the serve path (empty before batch 0).
    */
  def readSlopes(s: SparkSession, base: String): DataFrame =
    readAt(s, base, StateLog.pointer(s, base), "slopes", slopeSchema)

  /** Current per-user RFM triple (empty before batch 0). */
  def readUsers(s: SparkSession, base: String): DataFrame =
    readAt(s, base, StateLog.pointer(s, base), "users", rfmSchema)

  /** Current per-(g, x) hourly-cell VALUE census — the grain the tie
    * correction is a moment of (empty before batch 0).
    */
  def readVals(s: SparkSession, base: String): DataFrame =
    readAt(s, base, StateLog.pointer(s, base), "vals", valsSchema)

  /** Current per-series MK moments (g, s, n_pairs, n, tie) — the
    * constant-size read that keeps EVERY full-grain re-aggregation off
    * the serve path (empty before batch 0).
    */
  def readMoments(s: SparkSession, base: String): DataFrame =
    readAt(s, base, StateLog.pointer(s, base), "moments", momentsSchema)

  /** Current CUMULATIVE Sen marginal (g, v, t, cb) — precumulated at
    * ingest so the serve-time Sen median is a rank probe, not a window
    * sort (empty before batch 0).
    */
  def readSlopesCum(s: SparkSession, base: String): DataFrame =
    readAt(s, base, StateLog.pointer(s, base), "slopes_cum", cumSchema)

  /** Pair histogram deltas between the cells of `a` and `b` — `a` and
    * `b` are (g, h, x) frames over DISJOINT hour sets when `within` is
    * false (each unordered pair enumerates once via the ≠ join +
    * least/greatest orientation), or the SAME frame when `within` is
    * true (strict < self-join). dx is always later-minus-earlier, the
    * one-shot slopeHistFromHourly formula verbatim.
    */
  private def pairHist(a: DataFrame, b: DataFrame, within: Boolean): DataFrame = {
    val bb = b.select(col("g").as("g2"), col("h").as("hb"), col("x").as("xb"))
    val joined =
      if (within) a.join(bb, col("g") === col("g2") && col("h") < col("hb"))
      else a.join(bb, col("g") === col("g2") && col("h") =!= col("hb"))
    joined
      .select(col("g"),
        when(col("h") < col("hb"), col("xb") - col("x"))
          .otherwise(col("x") - col("xb")).as("dx"),
        abs(col("hb") - col("h")).as("dh"))
      .withColumn("sgn", when(col("dx") > 0, 1L).when(col("dx") < 0, -1L).otherwise(0L))
      .withColumn("slope_q",
        expr("cast(floor((cast(dx as double) / dh) * 1000000.0) as bigint)"))
      .groupBy("g", "slope_q", "sgn").agg(count(lit(1)).cast(LongType).as("t"))
  }

  /** The two touched×history delta terms of [[pairHist]] FUSED into one
    * join (r17): `t` holds the touched cells as (g, h, x, tag) rows with
    * tag +1 for post-merge values and −1 for pre-merge values, so
    * sum(tag) per (g, slope_q, sgn) cell IS pairHist(tNew, hMinus) −
    * pairHist(tOld, hMinus) — the add and remove passes were each a
    * touched×history pair enumeration, the batch's dominant compute, and
    * they differ only in the counted weight. Same dx/slope_q/sgn integer
    * formulas, so the summed state is bit-identical (IncrementalTrendSpec
    * pins state ≡ one-shot).
    */
  private def pairHistDelta(t: DataFrame, b: DataFrame): DataFrame = {
    val bb = b.select(col("g").as("g2"), col("h").as("hb"), col("x").as("xb"))
    t.join(bb, col("g") === col("g2") && col("h") =!= col("hb"))
      .select(col("g"), col("tag"),
        when(col("h") < col("hb"), col("xb") - col("x"))
          .otherwise(col("x") - col("xb")).as("dx"),
        abs(col("hb") - col("h")).as("dh"))
      .withColumn("sgn", when(col("dx") > 0, 1L).when(col("dx") < 0, -1L).otherwise(0L))
      .withColumn("slope_q",
        expr("cast(floor((cast(dx as double) / dh) * 1000000.0) as bigint)"))
      .groupBy("g", "slope_q", "sgn").agg(sum("tag").cast(LongType).as("t"))
  }

  /** Merge one micro-batch of raw (g, h, x, user_id, ts_us, m) event
    * rows into the grains and swap versions; replays skipped by tag.
    * Batch cost: two tiny aggregates, two grain-sized full-outer merges,
    * and the slope-histogram delta — |touched cells| × |series hours|
    * pair enumerations, NEVER the full hours² grid (a time-ordered
    * ingest touches only the newest hours, so steady-state batches pay
    * |new hours| × |history| — linear in state, constant per batch at a
    * bounded retention window).
    *
    * INGEST CONTRACT: each event must arrive at most once across batch
    * IDS (exactly-once per event — what a checkpointed foreachBatch
    * topology provides). An event re-emitted under a NEW id would
    * double-count into the hourly sums and, through them, the slope
    * histogram; unlike IncrementalSpan/IncrementalDedup (whose doc-grain
    * state makes a first-write-wins anti-join skinny), events carry no
    * per-row identity in the additive grains, so a guard would need a
    * seen-event relation scanned per batch — a violation of the
    * O(batch + touched×history) cost contract — and the contract is
    * documented rather than silently paid (same stance as
    * IncrementalIndex.processBatch).
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): Unit = StateLog.commit(s, base, batchId) { (ptr, next) =>
    def read(sub: String, schema: StructType) = readAt(s, base, ptr, sub, schema)
    // Barrier budget (r17 — the maintainer's ~4.5 s/batch was almost
    // entirely driver-sequenced tiny jobs): only frames that are BOTH
    // multi-consumer AND non-trivial to recompute stay materialized (hP,
    // hM, tOld, tNew, dVals, the merged outputs feeding two writes).
    // hOld/valsOld are parquet reads — re-scanning per consumer is
    // cheaper than a materialization job; hMinus is one broadcast
    // anti-join over that scan, same story.
    val hP = batch.groupBy(col("g").as("g2"), col("h").as("h2"))
      .agg(sum("x").cast(LongType).as("x2")).localCheckpoint()
    val hOld = read("hourly", trendSchema)
    val hM = hOld
      .join(hP, col("g") === col("g2") && col("h") === col("h2"), "full_outer")
      .select(coalesce(col("g"), col("g2")).as("g"),
        coalesce(col("h"), col("h2")).as("h"),
        (coalesce(col("x"), lit(0L)) + coalesce(col("x2"), lit(0L))).as("x"))
      .localCheckpoint()
    // slope-histogram maintenance: remove the pairs the touched cells'
    // OLD values contributed, add the pairs their NEW values contribute
    // — against the untouched remainder (hMinus) and among themselves.
    // The pre/post touched cells ride in ONE tagged frame (r17): one
    // materialization instead of two, and the tag is the fused delta
    // weight pairHistDelta aggregates.
    val touchedKeys = hP.select(col("g2"), col("h2"))
    val tBoth = hM.join(touchedKeys,
        col("g") === col("g2") && col("h") === col("h2"), "left_semi")
      .withColumn("tag", lit(1L))
      .unionByName(hOld.join(touchedKeys,
        col("g") === col("g2") && col("h") === col("h2"), "left_semi")
        .withColumn("tag", lit(-1L)))
      .localCheckpoint()
    val tNew = tBoth.filter(col("tag") === 1L).drop("tag")
    val tOld = tBoth.filter(col("tag") === -1L).drop("tag")
    val hMinus = hOld.join(touchedKeys,
      col("g") === col("g2") && col("h") === col("h2"), "left_anti")
    val negate = (d: DataFrame) => d.withColumn("t", -col("t"))
    // the four pairHist delta joins are the batch's dominant compute
    // (touched × history pair enumerations) and feed TWO consumers (the
    // slope-histogram merge and the moments fold) — materialize their
    // union ONCE (r17; previously each consumer re-ran all four joins)
    val deltaAll = Seq(
        pairHistDelta(tBoth, hMinus), // == pairHist(tNew, hMinus) − pairHist(tOld, hMinus)
        pairHist(tNew, tNew, within = true),
        negate(pairHist(tOld, tOld, within = true)))
      .reduce(_ unionByName _)
      .localCheckpoint()
    val slopesM = read("slopes", slopeSchema).unionByName(deltaAll)
      .groupBy("g", "slope_q", "sgn").agg(sum("t").cast(LongType).as("t"))
      .filter(col("t") =!= 0L)
      .localCheckpoint()
    // moments maintenance (r14): S and n_pairs fold from the SAME four
    // histogram delta frames; the cell-count and tie-correction deltas
    // come from the touched cells' value moves against the maintained
    // per-(g, x) value census — all touched-sized work, so serve reads a
    // #series-row moments table instead of re-aggregating the full grain
    val dHist = deltaAll
      .groupBy("g").agg(sum(col("sgn") * col("t")).cast(LongType).as("ds"),
        sum("t").cast(LongType).as("dp"))
    val dVals = tNew.select(col("g"), col("x"), lit(1L).as("dc"))
      .unionByName(tOld.select(col("g"), col("x"), lit(-1L).as("dc")))
      .groupBy("g", "x").agg(sum("dc").cast(LongType).as("dc"))
      .filter(col("dc") =!= 0L)
      .localCheckpoint()
    val valsOld = read("vals", valsSchema)
    // tie delta per affected (g, x): f(c + dc) − f(c), f(c) = c(c−1)(2c+5)
    def fTie(c: org.apache.spark.sql.Column) =
      c * (c - lit(1L)) * (lit(2L) * c + lit(5L))
    val affected = dVals.join(
        valsOld.select(col("g").as("g3"), col("x").as("x3"), col("c")),
        col("g") === col("g3") && col("x") === col("x3"), "left")
      .select(col("g"), coalesce(col("c"), lit(0L)).as("c"), col("dc"))
    val dMom = affected
      .groupBy("g").agg(
        sum(fTie(col("c") + col("dc")) - fTie(col("c"))).cast(LongType).as("dtie"),
        sum("dc").cast(LongType).as("dn"))
      .join(dHist.select(col("g").as("g4"), col("ds"), col("dp")),
        col("g") === col("g4"), "full_outer")
      .select(coalesce(col("g"), col("g4")).as("gd"),
        coalesce(col("ds"), lit(0L)).as("ds"), coalesce(col("dp"), lit(0L)).as("dp"),
        coalesce(col("dtie"), lit(0L)).as("dtie"), coalesce(col("dn"), lit(0L)).as("dn"))
    val momentsM = read("moments", momentsSchema)
      .join(dMom, col("g") === col("gd"), "full_outer")
      .select(coalesce(col("g"), col("gd")).as("g"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"),
        (coalesce(col("n_pairs"), lit(0L)) + coalesce(col("dp"), lit(0L))).as("n_pairs"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("tie"), lit(0L)) + coalesce(col("dtie"), lit(0L))).as("tie"))
    val valsM = valsOld
      .join(dVals.select(col("g").as("g5"), col("x").as("x5"), col("dc")),
        col("g") === col("g5") && col("x") === col("x5"), "full_outer")
      .select(coalesce(col("g"), col("g5")).as("g"),
        coalesce(col("x"), col("x5")).as("x"),
        (coalesce(col("c"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("c"))
      .filter(col("c") =!= 0L)
    val uP = batch.groupBy(col("user_id").as("u2"))
      .agg(max("ts_us").as("l2"), count(lit(1)).as("f2"),
        sum("m").cast(LongType).as("m2"))
    val uM = read("users", rfmSchema)
      .join(uP, col("user_id") === col("u2"), "full_outer")
      .select(coalesce(col("user_id"), col("u2")).as("user_id"),
        greatest(coalesce(col("last_us"), lit(Long.MinValue)),
          coalesce(col("l2"), lit(Long.MinValue))).as("last_us"),
        (coalesce(col("f"), lit(0L)) + coalesce(col("f2"), lit(0L))).as("f"),
        (coalesce(col("m"), lit(0L)) + coalesce(col("m2"), lit(0L))).as("m"))
    Seq(s"$base/v$next/hourly" -> hM, s"$base/v$next/slopes" -> slopesM,
      // the cumulative Sen marginal is rewritten alongside the histogram
      // it derives from (from the materialized slopesM, not the slopes
      // parquet) — the window is paid HERE, with the grain work, so serve
      // never sorts
      s"$base/v$next/slopes_cum" -> graft.operators.TimeSeriesQueries.senCumFromSlopes(slopesM),
      s"$base/v$next/users" -> uM, s"$base/v$next/vals" -> valsM,
      s"$base/v$next/moments" -> momentsM)
  }

  /** The committed micro-batch id, if the writer threads one. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    StateLog.pointer(s, base).flatMap(_.batch)

  /** MK/Sen trend from state — ≡ q_ts_trend one-shot, but nothing is
    * re-aggregated or SORTED at serve: S, n_pairs, n, and the tie
    * correction read from the maintained #series-row moments table, the
    * hours² pair grid is never re-enumerated, and the Sen median is two
    * rank probes against the precumulated marginal (one filter-aggregate
    * scan — the declared floor: an order statistic has no associative
    * form, but its selection needs no serve-time sort either).
    */
  def serveTrend(s: SparkSession, base: String): DataFrame = {
    val p = StateLog.pointer(s, base)
    graft.operators.TimeSeriesQueries.trendFromMomentsCum(
      readAt(s, base, p, "moments", momentsSchema), readAt(s, base, p, "slopes_cum", cumSchema))
  }

  /** RFM segmentation from state — ≡ q_events_rfm one-shot. */
  def serveRfm(s: SparkSession, base: String): DataFrame =
    graft.operators.EventQueries.rfmFromUsers(readUsers(s, base))

  /** Attach to a stream of raw event rows via foreachBatch
    * (replay-protected via the batch-id tag).
    */
  def attach(rows: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
