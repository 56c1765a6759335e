package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.PortableHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Resampling inference — the distribution-free layer next to the
  * closed-form tests in StatQueries: a bootstrap confidence interval and a
  * randomization significance test, both built on DETERMINISTIC per-(row,
  * replicate) draws so each carries a FULL DuckDB oracle (textbook rand()
  * resampling can never be hash-compared across engines).
  *
  * Scale shape (the reason bootstrap-by-index is banned here): classic
  * bootstrap resamples n rows WITH replacement by random index — a global
  * shuffle per replicate, unusable at 100 TB. The distributed-standard
  * alternative is the POISSON BOOTSTRAP (Chamandy et al., "Estimating
  * Uncertainty for Massive Data Streams", Google 2012; also Kleiner et
  * al.'s BLB lineage): each row independently contributes weight
  * w ~ Poisson(1) to each replicate, so ALL R replicates compute in ONE
  * scan as map-side partial aggregates — the explode(R) never reaches the
  * shuffle, which carries only |groups|·R skinny partial rows. The
  * randomization test shares the same shape: reassign group labels by a
  * per-(row, rep) hash coin and recompute the statistic per replicate in
  * the same single pass.
  *
  * Draw determinism: u(row, rep) = (scramble(h·a_rep + b_rep) + 1) / 2^31
  * with the PortableHash seed family (a_rep = A + AStep·rep affine
  * permutations of Z_p) followed by the laplaceNoise double scramble —
  * every step exact int64 arithmetic, and the final division by 2^31 is
  * exact in binary floating point, so u is BIT-IDENTICAL in any engine.
  * Poisson(1) inversion then compares u against shared cumulative-CDF
  * literals (Double.toString round-trips, so both engines compare the
  * same operand bits). Replicate means stay exact without decimal ops in
  * the hot path: values are cents-quantized ONCE per row (the one decimal
  * cast), so every per-draw term is a long multiply and the sums are
  * exact BIGINTs; one final double division per replicate, 6dp-rounded —
  * replicate order statistics are engine-exact.
  */
object ResampleQueries {

  /** Number of bootstrap replicates / randomization draws. 40 gives the
    * (R+1)·α order-statistic rule exact integer ranks for α = 0.025:
    * lo = 2nd smallest replicate mean, hi = 39th (Davison & Hinkley's
    * basic percentile convention with (R+1)·α = 41·0.025 ≈ 1.025 → rank 2
    * counting the observed sample, i.e. the standard "need R ≥ 39 for
    * 95%" rule).
    */
  private val R = 40

  /** Poisson(1) cumulative CDF literals c_k = e^-1 · Σ_{j≤k} 1/j!, k=0..6;
    * weight = #{k : u > c_k} ∈ 0..7 (P[w ≥ 7] < 1e-5 — the cap changes no
    * draw at fixture scale and bounds the weight domain for the oracle).
    * Computed once here and embedded as round-trip literals in BOTH plans.
    */
  private val PoisCdf: IndexedSeq[Double] = {
    val pmf = (0 to 6).scanLeft(math.exp(-1.0))((p, k) => p / (k + 1)).take(7)
    pmf.scanLeft(0.0)(_ + _).drop(1).toIndexedSeq
  }

  /** The uniform draw for (integer row key k, replicate r) as a Column —
    * seeded affine permutation then the dpnoise double scramble; exact
    * (0,1] by construction. All operands stay < 9.3e18 (h < 2^31, every
    * multiplier < 2.66e9), so DuckDB's loud BIGINT overflow cannot fire.
    */
  private def uniform(k: Column, r: Column): Column = {
    val ph = PortableHash
    // pmod, not %: a NEGATIVE row key under truncated modulo gives h1 < 0,
    // cascading every scramble negative and u ≤ 0 — every Poisson weight 0
    // for that row in all replicates (and sum(w) = 0 ⇒ null replicate
    // means for an all-negative-key table), silently
    val h1 = pmod(k, lit(ph.SeedMod))
    val h2 = (h1 * (lit(ph.A) + lit(ph.AStep) * r) + lit(ph.BStep) * r) % lit(ph.SeedMod)
    val h3 = (h2 * lit(ph.Scramble1Mul) + lit(ph.Scramble1Add)) % lit(ph.SeedMod)
    val h4 = (h3 * lit(ph.Scramble2Mul) + lit(ph.Scramble2Add)) % lit(ph.SeedMod)
    (h4.cast(DoubleType) + lit(1.0)) / lit(2147483648.0)
  }

  /** SQL twin of [[uniform]] over BIGINT expressions k (row key), r (rep).
    * The leading `(k % M + M) % M` is DuckDB's pmod spelling (its `%` is
    * truncated, like Spark's) — matches the Column side's pmod so negative
    * row keys draw identically in both engines.
    */
  private def uniformSql(k: String, r: String): String = {
    val ph = PortableHash
    val h1 = s"((($k) % ${ph.SeedMod} + ${ph.SeedMod}) % ${ph.SeedMod})"
    val h2 = s"(($h1) * (${ph.A} + ${ph.AStep} * ($r)) + ${ph.BStep} * ($r)) % ${ph.SeedMod}"
    val h4 = s"((($h2) * ${ph.Scramble1Mul} + ${ph.Scramble1Add}) % ${ph.SeedMod}" +
      s" * ${ph.Scramble2Mul} + ${ph.Scramble2Add}) % ${ph.SeedMod}"
    s"((($h4) + 1.0) / 2147483648.0)"
  }

  /** Poisson(1) weight by CDF inversion of a uniform Column. */
  private def poissonWeight(u: Column): Column =
    PoisCdf.map(c => when(u > lit(c), 1L).otherwise(0L)).reduce(_ + _)

  private def poissonWeightSql(u: String): String =
    PoisCdf.map(c => s"(CASE WHEN ($u) > $c THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Test hook: the exact (row key, rep) → Poisson(1) weight pipeline, so
    * ResampleSpec can pin the draw's distribution independently of any
    * fixture table.
    */
  private[graft] def testPoissonWeight(k: Column, r: Column): Column =
    poissonWeight(uniform(k, r))

  /** Unique integer row key for a lineitem row (linenumber ∈ 1..7). */
  private def rowKey: Column = col("l_orderkey") * 8 + col("l_linenumber")
  private val rowKeySql = "(l_orderkey * 8 + l_linenumber)"

  /** q_stat_bootstrap — Poisson-bootstrap 95% CI for mean(l_quantity) per
    * l_returnflag. One row per flag: (l_returnflag, n, mean_qty, boot_lo,
    * boot_hi) where the bounds are the 2nd / 39th order statistics of the
    * 40 replicate means (ties broken by replicate id for total
    * determinism). Plan: scan → explode(R) inside whole-stage codegen →
    * hash aggregate partials (flag, rep) — the shuffle carries 3·40 rows
    * at ANY corpus size; the CI window runs over that same skinny frame.
    */
  val statBootstrap = QueryDef(
    "q_stat_bootstrap",
    (s, dir) =>
      // cents-quantize ONCE per row (exact: the decimal cast happens n
      // times, not n·R) — the per-draw hot path is then pure long
      // arithmetic; the exact-rational means are unchanged (scaling
      // numerator and denominator by an exactly-representable 100 cannot
      // change the IEEE quotient), measured 8.4 → 1.9 s at sf0.1
      bootstrapFrom(Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          (col("l_quantity").cast(DecimalType(12, 2)) * 100).cast(LongType).as("qc"),
          rowKey.as("k"))),
    Some(statBootstrapOracle),
  )

  /** The Poisson-bootstrap plan over any (l_returnflag group, qc = exact
    * value cents BIGINT, k unique BIGINT) frame — factored out for the
    * facade's bootstrapCI verb on caller frames.
    */
  private[graft] def bootstrapFrom(li: DataFrame): DataFrame = {
      val draws = li
        .withColumn("r", explode(sequence(lit(0L), lit(R - 1L))))
        .withColumn("w", poissonWeight(uniform(col("k"), col("r"))))
      val repMeans = draws.groupBy("l_returnflag", "r")
        .agg(sum(col("w") * col("qc")).as("swq"), sum("w").as("sw"))
        .select(col("l_returnflag"), col("r"),
          round(col("swq").cast(DoubleType)
            / (col("sw") * 100).cast(DoubleType), 6).as("m"))
      val wRank = Window.partitionBy("l_returnflag").orderBy(asc("m"), asc("r"))
      val ci = repMeans.withColumn("rn", row_number().over(wRank))
        .groupBy("l_returnflag")
        .agg(max(when(col("rn") === 2, col("m"))).as("boot_lo"),
          max(when(col("rn") === R - 1, col("m"))).as("boot_hi"))
      val pt = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("qc").cast(DoubleType)
            / (count(lit(1)) * 100).cast(DoubleType), 6).as("mean_qty"))
      pt.join(ci, "l_returnflag")
        .select("l_returnflag", "n", "mean_qty", "boot_lo", "boot_hi")
        .orderBy("l_returnflag")
  }

  private def statBootstrapOracle: String = s"""
      WITH reps AS (SELECT CAST(range AS BIGINT) AS r FROM range($R)),
      li AS (SELECT l_returnflag,
                    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qc,
                    $rowKeySql AS k FROM lineitem),
      draws AS (
        SELECT l_returnflag, qc, r,
               ${poissonWeightSql(uniformSql("k", "r"))} AS w
        FROM li CROSS JOIN reps),
      rep_means AS (
        SELECT l_returnflag, r,
               ROUND(CAST(SUM(w * qc) AS DOUBLE)
                     / CAST(SUM(w) * 100 AS DOUBLE), 6) AS m
        FROM draws GROUP BY l_returnflag, r),
      ranked AS (
        SELECT l_returnflag, m,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY m ASC, r ASC) AS rn
        FROM rep_means),
      ci AS (
        SELECT l_returnflag,
               MAX(CASE WHEN rn = 2 THEN m END) AS boot_lo,
               MAX(CASE WHEN rn = ${R - 1} THEN m END) AS boot_hi
        FROM ranked GROUP BY l_returnflag),
      pt AS (
        SELECT l_returnflag, COUNT(*) AS n,
               ROUND(CAST(SUM(qc) AS DOUBLE) / CAST(COUNT(*) * 100 AS DOUBLE), 6) AS mean_qty
        FROM li GROUP BY l_returnflag)
      SELECT pt.l_returnflag, n, mean_qty, boot_lo, boot_hi
      FROM pt JOIN ci ON ci.l_returnflag = pt.l_returnflag
      ORDER BY pt.l_returnflag
    """.trim

  /** q_stat_permutation — randomization test for the difference of mean
    * l_quantity between returnflag 'A' and 'R' rows: each replicate
    * reassigns every row's side by an independent hash coin (the
    * large-sample randomization-test form of the label permutation — at
    * n ≫ 1 the binomial split is the permutation distribution, and unlike
    * a true permutation it needs no global shuffle), recomputes
    * |mean₁ − mean₀|, and the p-value is the standard add-one estimate
    * (1 + #{rep : stat ≥ observed}) / (R + 1). Exactly StatQueries'
    * discipline: decimal term sums, one double division, 6dp rounds
    * BEFORE the ≥ compare, so the count of extreme replicates is
    * engine-exact. Single output row: (n_a, n_r, mean_a, mean_r,
    * obs_diff, n_extreme, p_value).
    */
  val statPermutation = QueryDef(
    "q_stat_permutation",
    (s, dir) =>
      permutationFrom(Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag"),
          (col("l_quantity").cast(DecimalType(12, 2)) * 100).cast(LongType).as("qc"),
          rowKey.as("k"))),
    Some(statPermutationOracle),
  )

  /** The randomization-test plan over any (l_returnflag ∈ {'A','R'}, qc =
    * exact value cents BIGINT, k unique BIGINT) frame — factored out so
    * the spec can calibrate the p-value on synthetic shifted/null data,
    * and so callers can run the test over their own two-group frames.
    * Cents arrive pre-quantized so the per-draw hot path is pure long
    * arithmetic (the bootstrap's discipline).
    */
  private[graft] def permutationFrom(li: DataFrame): DataFrame = {
      val obs = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("qc").cast(DoubleType)
            / (count(lit(1)) * 100).cast(DoubleType), 6).as("m"))
      val obsRow = obs
        .agg(max(when(col("l_returnflag") === "A", col("n"))).as("n_a"),
          max(when(col("l_returnflag") === "R", col("n"))).as("n_r"),
          max(when(col("l_returnflag") === "A", col("m"))).as("mean_a"),
          max(when(col("l_returnflag") === "R", col("m"))).as("mean_r"))
        .withColumn("obs_diff", round(abs(col("mean_a") - col("mean_r")), 6))
      val draws = li
        .withColumn("r", explode(sequence(lit(0L), lit(R - 1L))))
        .withColumn("side", (uniform(col("k"), col("r")) > lit(0.5)).cast("long"))
      val repStats = draws.groupBy("r")
        .agg(
          round(sum(col("side") * col("qc")).cast(DoubleType)
            / (sum(col("side")) * 100).cast(DoubleType), 6).as("m1"),
          round(sum((lit(1L) - col("side")) * col("qc")).cast(DoubleType)
            / (sum(lit(1L) - col("side")) * 100).cast(DoubleType), 6).as("m0"))
        .select(col("r"), round(abs(col("m1") - col("m0")), 6).as("stat"))
      obsRow.crossJoin(
          repStats.crossJoin(broadcast(obsRow.select("obs_diff")))
            .agg(sum(when(col("stat") >= col("obs_diff"), 1L).otherwise(0L))
              .as("n_extreme")))
        .select(col("n_a"), col("n_r"), col("mean_a"), col("mean_r"),
          col("obs_diff"), col("n_extreme"),
          round((col("n_extreme") + 1).cast(DoubleType) / lit(R + 1.0), 6)
            .as("p_value"))
  }

  private def statPermutationOracle: String = s"""
      WITH li AS (
        SELECT l_returnflag,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qc,
               $rowKeySql AS k
        FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      obs AS (
        SELECT
          MAX(CASE WHEN l_returnflag = 'A' THEN n END) AS n_a,
          MAX(CASE WHEN l_returnflag = 'R' THEN n END) AS n_r,
          MAX(CASE WHEN l_returnflag = 'A' THEN m END) AS mean_a,
          MAX(CASE WHEN l_returnflag = 'R' THEN m END) AS mean_r
        FROM (SELECT l_returnflag, COUNT(*) AS n,
                     ROUND(CAST(SUM(qc) AS DOUBLE) / CAST(COUNT(*) * 100 AS DOUBLE), 6) AS m
              FROM li GROUP BY l_returnflag)),
      obs2 AS (SELECT *, ROUND(ABS(mean_a - mean_r), 6) AS obs_diff FROM obs),
      reps AS (SELECT CAST(range AS BIGINT) AS r FROM range($R)),
      draws AS (
        SELECT r, qc,
               CASE WHEN ${uniformSql("k", "r")} > 0.5 THEN 1 ELSE 0 END AS side
        FROM li CROSS JOIN reps),
      rep_stats AS (
        SELECT r, ROUND(ABS(
          ROUND(CAST(SUM(side * qc) AS DOUBLE)
                / CAST(SUM(side) * 100 AS DOUBLE), 6)
          - ROUND(CAST(SUM((1 - side) * qc) AS DOUBLE)
                  / CAST(SUM(1 - side) * 100 AS DOUBLE), 6)), 6) AS stat
        FROM draws GROUP BY r),
      ext AS (
        SELECT CAST(SUM(CASE WHEN s.stat >= o.obs_diff THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
        FROM rep_stats s, obs2 o)
      SELECT n_a, n_r, mean_a, mean_r, obs_diff, n_extreme,
             ROUND(CAST(n_extreme + 1 AS DOUBLE) / ${R + 1}.0, 6) AS p_value
      FROM obs2, ext
    """.trim

  /** q_stat_bootstrap_median — Poisson-bootstrap 95% CI for the MEDIAN of
    * the dollar-quantized line price per returnflag: the statistic the
    * bootstrap exists for (no closed-form standard error; the mean CI row
    * has Welch as a cross-check, the median has nothing else). Same
    * one-scan draw machinery, but replicates reduce to the VALUE-DISTINCT
    * grain first: per (flag, rep, v) weight sums — bounded by distinct
    * dollar values × R, never row count — then the lower weighted median
    * per replicate as an exact integer rule (min v with 2·cumw ≥ totw:
    * pure long comparisons, no float medians to disagree cross-engine).
    *
    * DELIBERATELY UNREGISTERED (the de-priced pattern — val + oracle +
    * every-run spec retained): unlike the mean CI, the median's
    * replicate grain defeats map-side combine (each task's (rep, value)
    * cells are mostly unique, so all n·R draw rows reach the shuffle) —
    * measured 11 s steady at sf0.1, ~7% of the whole suite for one
    * statistic. The cost is inherent to the statistic, not a plan flaw;
    * a deployment prices it per eval batch, not per dashboard refresh.
    * ResampleSpec keeps it oracle-equivalent and calibrated every run.
    * One row per flag: (l_returnflag, n, median_usd, boot_lo, boot_hi)
    * in whole dollars at $10 grain (the windowed grain is bounded by
    * distinct buckets × R — sub-linear in rows — while the CI spans ~60
    * buckets), bounds by the same (R+1)·α rank rule as the mean CI.
    */
  val statBootstrapMedian = QueryDef(
    "q_stat_bootstrap_median",
    (s, dir) => {
      // $10 value grain: the windowed replicate grain is bounded by
      // distinct $10 buckets × R (≈1.2M cells at sf0.1 vs 11M at exact
      // dollars — measured 20 s vs ~3 s), while the CI spans ~60 buckets,
      // ample resolution for a median interval
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) div 1000")
            .as("v"),
          rowKey.as("k"))
      val draws = li
        .withColumn("r", explode(sequence(lit(0L), lit(R - 1L))))
        .withColumn("w", poissonWeight(uniform(col("k"), col("r"))))
        .groupBy("l_returnflag", "r", "v").agg(sum("w").as("w"))
      val wCum = Window.partitionBy("l_returnflag", "r").orderBy(asc("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy("l_returnflag", "r")
      val repMedians = draws
        .withColumn("cw", sum("w").over(wCum))
        .withColumn("tw", sum("w").over(wTot))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag", "r").agg(min("v").as("med"))
      val wRank = Window.partitionBy("l_returnflag").orderBy(asc("med"), asc("r"))
      val ci = repMedians.withColumn("rn", row_number().over(wRank))
        .groupBy("l_returnflag")
        .agg(max(when(col("rn") === 2, col("med"))).as("boot_lo"),
          max(when(col("rn") === R - 1, col("med"))).as("boot_hi"))
      // point estimate: the same lower-median rule at weight 1 per row
      val wCum1 = Window.partitionBy("l_returnflag").orderBy(asc("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pt = li.groupBy("l_returnflag", "v").agg(count(lit(1)).as("c"))
        .withColumn("cw", sum("c").over(wCum1))
        .withColumn("tw", sum("c").over(Window.partitionBy("l_returnflag")))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag")
        .agg(max("tw").as("n"), (min("v") * 10).as("median_usd"))
      pt.join(ci.select(col("l_returnflag"),
          (col("boot_lo") * 10).as("boot_lo"), (col("boot_hi") * 10).as("boot_hi")),
        "l_returnflag")
        .select("l_returnflag", "n", "median_usd", "boot_lo", "boot_hi")
        .orderBy("l_returnflag")
    },
    Some(s"""
      WITH reps AS (SELECT CAST(range AS BIGINT) AS r FROM range($R)),
      li AS (SELECT l_returnflag,
                    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000 AS v,
                    $rowKeySql AS k FROM lineitem),
      draws AS (
        SELECT l_returnflag, r, v,
               CAST(SUM(${poissonWeightSql(uniformSql("k", "r"))}) AS BIGINT) AS w
        FROM li CROSS JOIN reps
        GROUP BY l_returnflag, r, v),
      cums AS (
        SELECT l_returnflag, r, v, w,
               SUM(w) OVER (PARTITION BY l_returnflag, r ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               SUM(w) OVER (PARTITION BY l_returnflag, r) AS tw
        FROM draws),
      rep_medians AS (
        SELECT l_returnflag, r, MIN(v) AS med
        FROM cums WHERE cw * 2 >= tw
        GROUP BY l_returnflag, r),
      ranked AS (
        SELECT l_returnflag, med,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY med ASC, r ASC) AS rn
        FROM rep_medians),
      ci AS (
        SELECT l_returnflag,
               MAX(CASE WHEN rn = 2 THEN med END) AS boot_lo,
               MAX(CASE WHEN rn = ${R - 1} THEN med END) AS boot_hi
        FROM ranked GROUP BY l_returnflag),
      ptc AS (SELECT l_returnflag, v, COUNT(*) AS c FROM li GROUP BY l_returnflag, v),
      ptcum AS (
        SELECT l_returnflag, v,
               SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               SUM(c) OVER (PARTITION BY l_returnflag) AS tw
        FROM ptc),
      pt AS (
        SELECT l_returnflag, CAST(MAX(tw) AS BIGINT) AS n, MIN(v) * 10 AS median_usd
        FROM ptcum WHERE cw * 2 >= tw
        GROUP BY l_returnflag)
      SELECT pt.l_returnflag, n, median_usd, boot_lo * 10 AS boot_lo, boot_hi * 10 AS boot_hi
      FROM pt JOIN ci ON ci.l_returnflag = pt.l_returnflag
      ORDER BY pt.l_returnflag
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(statBootstrap, statPermutation)
}
