package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{VectorCentroid, VectorOps}
import graft.sources.GraftFs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Group K (vectors) — similarity search over the embedding column
  * (SURVEY.md §2.B Group K + builder-prompt ANN ops).
  *
  * Scale design: brute-force top-k is linear in the corpus only because the
  * query set is fixed and broadcast — corpus rows stream through one
  * projection + per-partition top-k (window over high-cardinality query id).
  * The LSH and IVF variants are the genuine 100 TB paths: candidates come
  * from an equi-join on bucket id (shuffle, no cartesian), then only
  * candidates pay the exact-distance cost.
  */
object VectorQueries {
  private val GraftCosineName = graft.functions.GraftFunctions.CosineName

  /** Brute-force cosine top-5 for query vectors (vec_id < 10), excluding
    * self. Broadcast the tiny query side; score via sequential double fold
    * (mirrored in DuckDB); rank on the 6dp-rounded score.
    */
  val cosineTopk = QueryDef(
    "q_sim_cosine_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("q_vec_id") =!= col("n_vec_id"))
        .withColumn("cos", round(VectorOps.cosine(col("q_emb"), col("n_emb")), 6))
      val w = Window.partitionBy("q_vec_id").orderBy(desc("cos"), asc("n_vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("q_vec_id", "rn", "n_vec_id", "cos")
        .orderBy("q_vec_id", "rn")
    },
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      q AS (SELECT vec_id AS q_vec_id, emb AS q_emb FROM e WHERE vec_id < 10),
      scored AS (
        SELECT q.q_vec_id, c.vec_id AS n_vec_id,
               ROUND(list_inner_product(q.q_emb, c.emb)
                     / sqrt(list_inner_product(q.q_emb, q.q_emb) * list_inner_product(c.emb, c.emb)), 6) AS cos
        FROM e c CROSS JOIN q WHERE q.q_vec_id != c.vec_id)
      SELECT q_vec_id, rn, n_vec_id, cos FROM (
        SELECT q_vec_id, n_vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id ASC) AS rn
        FROM scored)
      WHERE rn <= 5
      ORDER BY q_vec_id, rn
    """.trim),
  )

  /** Per-label centroid, oracle-checked: per (label, dim) the element values
    * are collected with their vec_id, sorted, and summed by a sequential
    * double fold in vec_id order — the identical fold DuckDB performs with
    * list_sum over list(v ORDER BY vec_id), so the mean is bit-identical
    * cross-engine (the round-1-proven recipe behind q_fn_array's sum_elems).
    * This is the determinism-pinned formulation; the mergeable-partial-buffer
    * UDAF below (q_vec_centroid_udaf) is the 100 TB scale path — same values
    * to 4dp, different float-sum order.
    */
  val vecCentroid = QueryDef(
    "q_vec_centroid",
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(struct(col("vec_id"), col("v").cast(DoubleType).as("v")))).as("vs"))
        .select(col("label"), col("dim"),
          round(aggregate(col("vs"), lit(0.0), (acc, x) => acc + x.getField("v")) / col("n"), 6)
            .as("centroid_val"))
        .orderBy("label", "dim"),
    Some("""
      WITH x AS (
        SELECT label, vec_id, CAST(i - 1 AS INTEGER) AS dim, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)),
      g AS (
        SELECT label, dim, COUNT(*) AS n, list_sum(list(v ORDER BY vec_id)) AS s
        FROM x GROUP BY label, dim)
      SELECT label, dim, ROUND(s / n, 6) AS centroid_val
      FROM g ORDER BY label, dim
    """.trim),
  )

  /** Per-label centroid via the VectorCentroid Aggregator (UDAF) — the scale
    * path: mergeable partial buffers, no per-group list materialization.
    * The buffer accumulates exact scaled-long units (2⁻⁴⁴ grid — every
    * fixture float is a pure exponent shift away), so the merge is
    * order-FREE and the result hash-stable: the oracle reproduces the
    * identical integer sum with one CAST and divides with the same
    * operand bits. Still golden-tested against the posexplode
    * formulation (ApproxOpsSpec).
    */
  val vecCentroidUdaf = QueryDef(
    "q_vec_centroid_udaf",
    (s, dir) => {
      val centroidUdaf = udaf(new VectorCentroid(64))
      Tables.embeddings(s, dir)
        .groupBy("label")
        .agg(centroidUdaf(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"), round(col("v"), 6).as("centroid_val"))
        .orderBy("label", "dim")
    },
    Some("""
      WITH x AS (
        SELECT label, CAST(i - 1 AS INTEGER) AS dim,
               CAST(CAST(embedding[i] AS DOUBLE) * 17592186044416 AS BIGINT) AS sv
        FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)),
      g AS (SELECT label, dim, COUNT(*) AS n, SUM(sv) AS s FROM x GROUP BY label, dim)
      SELECT label, dim,
             ROUND(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 17592186044416), 6) AS centroid_val
      FROM g ORDER BY label, dim
    """.trim),
  )

  /** Posexplode formulation of the same centroid — the cross-check twin for
    * VectorCentroidSpec and a pure-built-in alternative. `ordered = false`
    * skips the output sort (its range exchange is dead weight when the
    * result feeds another aggregate, as in q_ann_ivf's quantizer).
    */
  def centroidViaPosexplode(s: SparkSession, dir: String, ordered: Boolean = true): DataFrame = {
    val agg = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(round(avg(col("v").cast(DoubleType)), 4).as("centroid_val"))
    if (ordered) agg.orderBy("label", "dim") else agg
  }

  // ---- LSH (random hyperplane) ANN ----------------------------------------

  /** Deterministic pseudo-random hyperplanes (fixed seed — constants baked
    * into the plan, nothing random at runtime). L tables × B bits.
    */
  private[operators] def hyperplanesFor(tables: Int, bits: Int): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    IndexedSeq.fill(tables)(IndexedSeq.fill(bits)(Array.fill(64)(rnd.nextGaussian())))
  }

  private def planeLit(p: Array[Double]): Column = array(p.map(lit(_)): _*)

  /** Sign-bit bucket id of `emb` under table `t`. */
  private def bucketId(planes: IndexedSeq[IndexedSeq[Array[Double]]], bits: Int,
      emb: Column, t: Int): Column =
    (0 until bits).map { b =>
      when(VectorOps.dot(emb, planeLit(planes(t)(b))) >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Parametric multi-table random-hyperplane LSH top-k. The corpus hashes
    * to ONE bucket per table; queries additionally probe every bucket within
    * `probeRadius` bit-flips (multiprobe: the neighbors most likely to be
    * mis-bucketed sit across one hyperplane, so probing adjacent buckets
    * recovers them without any extra corpus-side state or shuffle — only
    * the tiny broadcast query side fans out). Exact cosine only on
    * candidates.
    */
  /** Distinct LSH candidate pairs (q_vec_id, q_emb, n_vec_id, n_emb) for
    * the fixed query set — the composable candidate-generation stage (also
    * the near-dup candidate source a downstream pipeline would join on).
    */
  def lshCandidates(s: SparkSession, dir: String,
      tables: Int, bits: Int, probeRadius: Int): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // portable integer planes (round 9): the bucketing is engine-exact, so
    // the WHOLE operator carries a DuckDB oracle — see PortablePlanes
    val bucketCols = (0 until tables).map(t =>
      struct(lit(t).as("t"),
        graft.functions.PortablePlanes.bucketCol(col("embedding"), t, bits).as("b")))
    val bucketed = e.select(col("vec_id"), col("embedding"),
        explode(array(bucketCols: _*)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("tb.t").as("t"), col("tb.b").as("b"))
    // query-side probe set: the home bucket plus all buckets within
    // probeRadius bit flips (radius 1 ⇒ 1 + bits probes per table)
    val flips: Seq[Column] = {
      def masks(radius: Int): Seq[Int] =
        (0 until (1 << bits)).filter(m => Integer.bitCount(m) <= radius)
      masks(probeRadius).map(m => col("b").bitwiseXOR(lit(m)))
    }
    val q = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
        col("t").as("qt"), explode(array(flips: _*)).as("qb"))
    bucketed.join(broadcast(q),
        col("t") === col("qt") && col("b") === col("qb") && col("vec_id") =!= col("q_vec_id"))
      .select(col("q_vec_id"), col("q_emb"), col("vec_id").as("n_vec_id"), col("embedding").as("n_emb"))
      .dropDuplicates("q_vec_id", "n_vec_id")
  }

  def lshTopk(s: SparkSession, dir: String,
      tables: Int, bits: Int, probeRadius: Int): DataFrame = {
    val scored = lshCandidates(s, dir, tables, bits, probeRadius)
      .withColumn("cos", round(VectorOps.cosine(col("q_emb"), col("n_emb")), 6))
    val w = Window.partitionBy("q_vec_id").orderBy(desc("cos"), asc("n_vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("q_vec_id", "rn", "n_vec_id", "cos")
      .orderBy("q_vec_id", "rn")
  }

  // Chosen by measured sweep (PERF.md): multiprobe radius 1 lifts mean
  // recall 0.66 → 0.90 (min 0.40 → 0.80) at comparable candidate volume
  // on the float planes; the round-9 portable-integer family needed
  // 10 tables (vs 8) to hold the same level — measured mean 0.90/0.88
  // (sf0.001/sf0.01), and what it buys is the full DuckDB oracle below.
  private[operators] val LshTables = 10
  private[operators] val LshBits = 7
  private[operators] val LshProbeRadius = 1

  /** DuckDB prelude reproducing lshCandidates' bucketing EXACTLY (the
    * portable-plane construction): home buckets per table, radius-1
    * query-side multiprobe, distinct candidate pairs.
    */
  private def annLshCandSql: String = {
    val pp = graft.functions.PortablePlanes
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |hb AS (
       |${pp.homeBucketsSql("vec_id, emb", "e", LshTables, LshBits)}),
       |qp AS (
       |  SELECT h.vec_id AS q_vec_id, h.t AS qt, xor(h.b, m.m) AS qb
       |  FROM hb h CROSS JOIN ${pp.probeMasksSql(LshBits)} m
       |  WHERE h.vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT q.q_vec_id, c.vec_id AS n_vec_id
       |  FROM hb c JOIN qp q ON c.t = q.qt AND c.b = q.qb AND c.vec_id != q.q_vec_id)""".stripMargin
  }

  /** Approximate top-5 neighbors via multi-table multiprobe
    * PORTABLE-hyperplane LSH: candidates share (or are one bit-flip away
    * from) a bucket in ≥1 table; exact cosine only on candidates. The
    * integer-plane bucketing (PortablePlanes) is engine-exact, so unlike
    * the float-plane r1-r8 variant the CANDIDATE SET itself is
    * DuckDB-reproduced and the whole operator carries a full oracle;
    * ApproxOpsSpec still bounds recall against q_sim_cosine_topk as belt.
    */
  val annLsh = QueryDef(
    "q_ann_lsh",
    (s, dir) => lshTopk(s, dir, LshTables, LshBits, LshProbeRadius),
    Some(s"""
      WITH $annLshCandSql,
      scored AS (
        SELECT cand.q_vec_id, cand.n_vec_id,
               ROUND(list_inner_product(a.emb, b.emb)
                     / sqrt(list_inner_product(a.emb, a.emb) * list_inner_product(b.emb, b.emb)), 6) AS cos
        FROM cand JOIN e a ON a.vec_id = cand.q_vec_id JOIN e b ON b.vec_id = cand.n_vec_id)
      SELECT q_vec_id, rn, n_vec_id, cos FROM (
        SELECT q_vec_id, n_vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id ASC) AS rn
        FROM scored)
      WHERE rn <= 5
      ORDER BY q_vec_id, rn
    """.trim),
  )

  /** Spherical-k-means IVF codebook: per-label centroids seed `iters` Lloyd
    * iterations (assign every vector to its cosine-nearest centroid, re-mean
    * per dim). Assignment is the shuffle-free broadcast-argmax projection
    * (see annIvf below); the re-mean is one groupBy over (c_id, dim). Means
    * round to 4dp so the codebook is stable across shuffle orders. At 100 TB
    * the codebook is built once and persisted — the iteration cost here is
    * index-build cost, not per-query cost.
    */
  /** Coarse centroids over an arbitrary labeled embedding slice — the
    * generalized form of the IVF quantizer construction (per-label means
    * seed + Lloyd iterations, 4dp-rounded means), so the incremental
    * index can freeze a quantizer trained on the STANDING corpus only.
    */
  /** Since round 9 the means come from the VectorCentroid scaled-long
    * UDAF (exact 2⁻⁴⁴-unit integer sums, ORDER-FREE merge) instead of
    * round(avg, 4): the 4dp round made avg()'s float-order dependence
    * *probabilistically* stable, the integer sum makes it exact — both
    * across shuffle orders AND across engines, which is what lets
    * q_ann_ivf carry a full DuckDB oracle (the codebook training itself
    * is reproduced in SQL). Same mergeable-partials scale shape as
    * q_vec_centroid_udaf: one (64-long, count) buffer per cell per
    * partition shuffles, never raw vectors.
    */
  private[operators] def coarseCentroidsOf(e: DataFrame, iters: Int): DataFrame = {
    val centroidUdaf = udaf(new VectorCentroid(64))
    def cellMeans(assigned: DataFrame): DataFrame = assigned
      .groupBy("c_id").agg(centroidUdaf(col("embedding")).as("cent"))
      // Centroids round to 4dp and cast to float for the native cosine —
      // both steps mirrored exactly in the oracle SQL.
      .select(col("c_id"),
        expr("transform(cent, x -> round(x, 4))").cast("array<float>").as("c_emb"))
    val seed = cellMeans(e.select(col("label").as("c_id"), col("embedding")))
    (1 to iters).foldLeft(seed) { (cents, _) =>
      val centroidArr = cents.agg(collect_list(struct(col("c_id"), col("c_emb"))).as("cents"))
      cellMeans(e.crossJoin(broadcast(centroidArr))
        .withColumn("best", expr(
          s"""array_max(transform(cents,
             |  c -> struct(${GraftCosineName}(embedding, c.c_emb) AS sim, -c.c_id AS nid)))""".stripMargin))
        .select((-col("best.nid")).as("c_id"), col("embedding")))
    }
  }

  private[operators] def ivfCentroids(s: SparkSession, dir: String, iters: Int): DataFrame =
    coarseCentroidsOf(Tables.embeddings(s, dir).select(col("label"), col("embedding")), iters)

  /** Persisted IVF codebook: the k-means iterations are INDEX-BUILD cost,
    * not per-query cost — at 100 TB the codebook is trained once and every
    * query run loads it. Mirrors PartitionedEvents.ensureWritten: first
    * call per scale dir trains (`ivfCentroids`, deterministic — means are
    * 4dp-rounded so the parquet is stable across shuffle orders) and
    * writes to builder scratch under target/; subsequent calls read the
    * tiny parquet (k rows) straight back.
    */
  private[graft] def ivfCodebook(s: SparkSession, dir: String): DataFrame =
    // of2 = order-free scaled-long means (r9)
    GraftFs.persisted(s, dir, tag => s"target/graft-ivf/$tag/codebook_of2") {
      ivfCentroids(s, dir, iters = 2).coalesce(1)
    }

  /** IVF-style ANN: k-means-refined coarse quantizer (per-label seed + 2
    * Lloyd iterations, `ivfCentroids`), **2-way multi-assignment** (every
    * vector joins the inverted lists of its TWO nearest centroids), queries
    * probe their 3 nearest lists and search only those exactly. Full
    * DuckDB oracle since r9 (training replayed in SQL — see IvfOracle);
    * ApproxOpsSpec bounds recall.
    *
    * Measured sweep (PERF.md round 2, recall of brute-force top-5): the old
    * label-centroid / single-assignment / nprobe=3 variant read 0.48–0.50;
    * multi-assignment is the big lever (0.80 at 1.78× candidates), k-means
    * refinement adds the rest → **0.84–0.86** here. Raising nprobe alone
    * reached only 0.64 at comparable cost.
    *
    * Assignment is shuffle-free: the 10 centroids collapse to ONE broadcast
    * row holding an array of (c_id, c_emb) structs; each corpus row computes
    * all 10 cosines in a single projection and keeps the top-2 via
    * array_sort over struct(-sim, c_id) (sim desc, ties → smallest c_id).
    * Candidate (query, neighbor) pairs are distinct-ed while TWO LONGS WIDE
    * — multi-assignment duplicates pairs whose lists are both probed, and
    * the embedding arrays are re-fetched only after the dedup (the same
    * skinny-distinct shape as the MinHash candidate generator).
    */
  /** Candidate stage of the IVF index: distinct (q_vec_id, vec_id) pairs
    * from 2-way corpus assignment × nprobe=3 query probes — the composable
    * candidate generator (package-private so specs can measure candidate
    * volume directly).
    *
    * A SECOND quantization level (residual codebook under the coarse
    * cells, lists keyed (coarse, fine)) was built and measured in round 4
    * and REJECTED: on this fixture within-coarse-cell residual directions
    * carry no neighbor signal, so k-means fine cells never split the
    * probed mass (candidates 2588 → 2582 at k2 ∈ {8,16,32}) and balanced
    * hyperplane fine cells trade recall ~linearly for candidates
    * (0.30 @ 37%, 0.66 @ 83%, 0.78 @ 98% of single-level candidates vs
    * the 0.78 single-level recall) — strictly dominated, so it is not
    * registered. Full sweep in PERF.md (round 4).
    */
  private[graft] def ivfCandidates(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val centroidArr = ivfCodebook(s, dir)
      .agg(collect_list(struct(col("c_id"), col("c_emb"))).as("cents"))
    val assigned = e.crossJoin(broadcast(centroidArr))
      .select(col("vec_id"),
        explode(expr(
          s"""slice(array_sort(transform(cents,
             |  c -> struct(-${GraftCosineName}(embedding, c.c_emb) AS nsim, c.c_id AS c_id))),
             |  1, 2)""".stripMargin)).as("a")) // 2-way multi-assignment
      .select(col("vec_id"), col("a.c_id").as("c_id"))
    // queries probe their 3 nearest centroids — same single-projection
    // trick: sort the 10-element struct array (ascending on (-sim, c_id)
    // = sim desc, c_id asc) and explode the first nprobe entries.
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroidArr))
      .select(col("q_vec_id"),
        explode(expr(
          s"""slice(array_sort(transform(cents,
             |  c -> struct(-${GraftCosineName}(q_emb, c.c_emb) AS nsim, c.c_id AS c_id))),
             |  1, 3)""".stripMargin)).as("p")) // nprobe=3 of 10 lists
      .select(col("q_vec_id"), col("p.c_id").as("probe_c_id"))
    assigned.join(broadcast(probes),
        col("c_id") === col("probe_c_id") && col("vec_id") =!= col("q_vec_id"))
      .select("q_vec_id", "vec_id").distinct()
  }

  val annIvf = QueryDef(
    "q_ann_ivf",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      val scored = ivfCandidates(s, dir)
        .join(e.select(col("vec_id"), col("embedding").as("n_emb")), "vec_id")
        .join(broadcast(queries), "q_vec_id")
        .withColumn("cos", round(VectorOps.cosine(col("q_emb"), col("n_emb")), 6))
      val w = Window.partitionBy("q_vec_id").orderBy(desc("cos"), asc("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_vec_id"), col("rn"), col("vec_id").as("n_vec_id"), col("cos"))
        .orderBy("q_vec_id", "rn")
    },
    // Full oracle since r9: the codebook TRAINING is replayed in SQL —
    // scaled-long exact cell means (the q_vec_centroid_udaf recipe, now
    // used by coarseCentroidsOf), 4dp-round + float-cast mirrored, both
    // Lloyd iterations unrolled as argmax-assign + re-mean CTE pairs,
    // then the 2-way assignment × nprobe-3 candidate join and exact
    // re-rank. DuckDB derives the identical codebook bit for bit, so the
    // driver's hash-compare also proves the PERSISTED codebook equals a
    // fresh training run.
    Some(IvfOracle.sql),
  )


  /** Int8 scalar quantization of the embedding column — the compression
    * step every large vector store applies before indexing (4× smaller
    * than float32): per-vector scale = max|x|, q_i = round(x_i·127/scale),
    * plus the reconstruction MSE against the original. Everything is
    * per-row array arithmetic (codegen'd, shuffle-free); the oracle
    * mirrors the identical double expressions via list HOFs, and the
    * sequential fold for the error sum is bit-identical to DuckDB's
    * list_sum (determinism recipe rule 3). Zero vectors quantize to zeros
    * with zero error (guarded — the scale division would NaN).
    */
  val vecQuantize = QueryDef(
    "q_vec_quantize",
    (s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("emb", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("scale", expr("array_max(transform(emb, x -> abs(x)))"))
        .withColumn("qv", expr(
          """CASE WHEN scale = 0.0 THEN transform(emb, x -> 0)
                  ELSE transform(emb, x -> CAST(round(x * 127.0 / scale) AS INT)) END"""))
        .withColumn("recon_mse", expr(
          """CASE WHEN scale = 0.0 THEN 0.0
                  ELSE aggregate(zip_with(emb, qv, (x, q) -> (x - q * scale / 127.0) * (x - q * scale / 127.0)),
                                 0.0D, (acc, d) -> acc + d) / size(emb) END"""))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale"),
          expr("aggregate(qv, 0, (acc, q) -> acc + q)").as("q_sum"),
          round(col("recon_mse"), 6).as("recon_mse"))
        .orderBy("vec_id"),
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      s AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS scale FROM e),
      q AS (SELECT vec_id, emb, scale,
              CASE WHEN scale = 0.0 THEN list_transform(emb, x -> 0)
                   ELSE list_transform(emb, x -> CAST(round(x * 127.0 / scale) AS INTEGER)) END AS qv
            FROM s)
      SELECT vec_id, ROUND(scale, 6) AS scale,
             CAST(list_sum(qv) AS INTEGER) AS q_sum,
             ROUND(CASE WHEN scale = 0.0 THEN 0.0
                        ELSE list_sum(list_transform(range(len(emb)),
                               i -> (emb[i+1] - qv[i+1] * scale / 127.0)
                                  * (emb[i+1] - qv[i+1] * scale / 127.0))) / len(emb) END, 6) AS recon_mse
      FROM q
      ORDER BY vec_id
    """.trim),
  )

  /** Filtered vector search — top-5 cosine neighbors restricted by a
    * metadata predicate (here: same `label` as the query — "search within
    * this document class"), the retrieval shape every RAG/curation stack
    * needs alongside unfiltered ANN. The filter becomes part of the JOIN
    * KEY, not a post-filter: candidates come from an equi-join on label,
    * so Spark never scores a vector the predicate would discard (with a
    * post-filter ANN you over-fetch and re-rank; with a key-filter the
    * index partition IS the filter). Broadcast query side, one linear
    * scored pass, per-query top-k window — and at 100 TB the same plan
    * composes with the IVF lists by keying them (label, c_id).
    */
  val annFiltered = QueryDef(
    "q_ann_filtered",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val scored = e.join(broadcast(q),
          col("label") === col("q_label") && col("vec_id") =!= col("q_vec_id"))
        .withColumn("cos", round(VectorOps.cosine(col("q_emb"), col("embedding")), 6))
      val w = Window.partitionBy("q_vec_id").orderBy(desc("cos"), asc("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_vec_id"), col("rn"), col("vec_id").as("n_vec_id"), col("cos"))
        .orderBy("q_vec_id", "rn")
    },
    Some("""
      WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      q AS (SELECT vec_id AS q_vec_id, label AS q_label, emb AS q_emb FROM e WHERE vec_id < 10),
      scored AS (
        SELECT q.q_vec_id, c.vec_id AS n_vec_id,
               ROUND(list_inner_product(q.q_emb, c.emb)
                     / sqrt(list_inner_product(q.q_emb, q.q_emb) * list_inner_product(c.emb, c.emb)), 6) AS cos
        FROM e c JOIN q ON c.label = q.q_label AND c.vec_id != q.q_vec_id)
      SELECT q_vec_id, rn, n_vec_id, cos FROM (
        SELECT q_vec_id, n_vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id ASC) AS rn
        FROM scored)
      WHERE rn <= 5
      ORDER BY q_vec_id, rn
    """.trim),
  )

  // ---- Full-graph candidate generation (the 100 TB kNN-graph path) --------

  /** Hyperplane-LSH candidate pairs for the within-label kNN graph:
    * every vector hashes to one bucket per table; the probe side
    * additionally fans out to all buckets within `probeRadius` bit flips
    * (asymmetric multiprobe — only one side of the self-join pays the
    * fan-out, and a pair is covered when its buckets differ by ≤ radius
    * bits in ANY table). Returns distinct (label, vec_id, n_vec_id)
    * ordered pairs — skinny, embeddings re-fetched by the scorer.
    */
  /** Home LSH buckets (one per table) of a labeled embedding set:
    * (label, vec_id, t, b) — pure per-row hashing, the persistable unit. */
  private[graft] def homeBucketsOf(e: DataFrame, tables: Int, bits: Int): DataFrame = {
    // portable integer planes (round 9) — engine-exact buckets give every
    // downstream consumer (knn_graph_lsh, pagerank_lsh, the graph twins)
    // a full DuckDB oracle; recall vs the float planes re-measured in
    // PERF.md round 9
    val bucketCols = (0 until tables).map(t =>
      struct(lit(t).as("t"),
        graft.functions.PortablePlanes.bucketCol(col("embedding"), t, bits).as("b")))
    e.select(col("label"), col("vec_id"),
        explode(array(bucketCols: _*)).as("tb"))
      .select(col("label"), col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))
  }

  /** Radius-`probeRadius` bit-flip fan-out of a home-bucket frame — the
    * asymmetric-multiprobe side of the collision join. */
  private def probeBucketsOf(home: DataFrame, bits: Int, probeRadius: Int): DataFrame = {
    val flips: Seq[Column] =
      (0 until (1 << bits)).filter(m => Integer.bitCount(m) <= probeRadius)
        .map(m => col("b").bitwiseXOR(lit(m)))
    home.select(col("label").as("n_label"), col("vec_id").as("n_vec_id"),
      col("t").as("nt"), explode(array(flips: _*)).as("nb"))
  }

  private[graft] def lshGraphCandidates(e: DataFrame, tables: Int, bits: Int,
      probeRadius: Int): DataFrame = {
    val home = homeBucketsOf(e, tables, bits)
    val probe = probeBucketsOf(home, bits, probeRadius)
    home.join(probe,
        col("label") === col("n_label") && col("t") === col("nt")
          && col("b") === col("nb") && col("vec_id") =!= col("n_vec_id"))
      .select("label", "vec_id", "n_vec_id").distinct()
  }

  /** UNDIRECTED twin of [[lshGraphCandidates]]: the collision criterion
    * (buckets differing by ≤ radius bits in some table) is symmetric in
    * the pair — XOR by the probe mask is involutive — so the directed
    * candidate set is exactly the symmetrization of this one. Keeping
    * only vec_id < n_vec_id halves the join output, the pair distinct,
    * and (downstream) the exact-cosine verify volume; the scorer mirrors
    * each scored pair back to both directions (r16, guide §2.3: shuffle
    * and verify half the bytes for the same result).
    */
  private[graft] def lshGraphCandidatesUndirected(e: DataFrame, tables: Int, bits: Int,
      probeRadius: Int): DataFrame = {
    val home = homeBucketsOf(e, tables, bits)
    val probe = probeBucketsOf(home, bits, probeRadius)
    home.join(probe,
        col("label") === col("n_label") && col("t") === col("nt")
          && col("b") === col("nb") && col("vec_id") < col("n_vec_id"))
      .select("label", "vec_id", "n_vec_id").distinct()
  }

  /** Per-label IVF sub-quantizer codebook: up to `k2` sub-cells per label,
    * seeded from sign-bit LSH bucket means (table 0, log2(k2) bits) and
    * refined with `iters` Lloyd iterations — deterministic end to end (4dp
    * rounded means, fixed hyperplane seed). The codebook is bounded
    * (k2 × #labels rows) so it always broadcasts; at 100 TB it is trained
    * once per corpus snapshot and persisted like ivfCodebook.
    */
  /** The r9 engine-exact construction (mirrors coarseCentroidsOf): seed
    * cells from the PORTABLE plane family (family block 1 — disjoint
    * from the ANN/graph index planes), cell means from the scaled-long
    * VectorCentroid UDAF (order-free exact sums) — so the whole
    * per-label sub-quantizer training is DuckDB-reproducible and
    * q_vec_knn_graph_ivf carries a full oracle.
    */
  private[graft] val SubCodebookPlaneFamily = 1L

  private[graft] def subCodebook(e: DataFrame, k2: Int, iters: Int): DataFrame = {
    val bits = math.max(1, (math.log(k2) / math.log(2)).ceil.toInt)
    val centroidUdaf = udaf(new VectorCentroid(64))
    def cellMeans(assigned: DataFrame): DataFrame = assigned
      .groupBy("label", "cell").agg(centroidUdaf(col("embedding")).as("cent"))
      .select(col("label"), col("cell"),
        expr("transform(cent, x -> round(x, 4))").cast("array<float>").as("c_emb"))
    val seed = cellMeans(e.select(col("label"),
      graft.functions.PortablePlanes
        .bucketCol(col("embedding"), 0, bits, SubCodebookPlaneFamily).as("cell"),
      col("embedding")))
    (1 to iters).foldLeft(seed) { (cents, _) =>
      val cb = cents.groupBy("label")
        .agg(collect_list(struct(col("cell"), col("c_emb"))).as("cells"))
        .agg(collect_list(struct(col("label").as("l"), col("cells"))).as("cb"))
      cellMeans(e.crossJoin(broadcast(cb))
        .withColumn("best", expr(
          s"""array_max(transform(filter(cb, x -> x.l = label)[0].cells,
             |  c -> struct(${GraftCosineName}(embedding, c.c_emb) AS sim, -c.cell AS nc)))""".stripMargin))
        .select(col("label"), (-col("best.nc")).as("cell"), col("embedding")))
    }
  }

  /** Persisted per-label sub-codebook — training is INDEX-BUILD cost, not
    * per-query cost (same contract as ivfCodebook): first call per scale
    * dir trains deterministically and writes to scratch through the
    * Hadoop FS API; later calls read the tiny parquet (≤ k2 × #labels
    * rows) back.
    */
  private[operators] def subCodebookPersisted(s: SparkSession, dir: String,
      k2: Int): DataFrame =
    // of2: portable seed + order-free means (r9)
    GraftFs.persisted(s, dir, tag => s"target/graft-ivf/$tag/subcodebook_of2_k$k2") {
      subCodebook(Tables.embeddings(s, dir).select("vec_id", "label", "embedding"),
          k2, iters = 2).coalesce(1)
    }

  /** IVF candidate pairs for the within-label kNN graph: every vector
    * joins the inverted lists of its `assign` nearest sub-cells (multi-
    * assignment covers cell-boundary neighbors); candidates share a
    * (label, cell) list. One broadcast-argmax projection per row, one
    * equi-join on (label, cell) — no pair survives outside its lists.
    */
  private[graft] def ivfGraphCandidates(e: DataFrame, codebook: DataFrame,
      assign: Int): DataFrame = {
    val assigned = ivfAssignments(e, codebook, assign)
    val right = assigned.select(col("label").as("n_label"), col("cell").as("n_cell"),
      col("vec_id").as("n_vec_id"))
    assigned.join(right,
        col("label") === col("n_label") && col("cell") === col("n_cell")
          && col("vec_id") =!= col("n_vec_id"))
      .select("label", "vec_id", "n_vec_id").distinct()
  }

  /** The (label, vec_id, cell) multi-assignment of every vector to its
    * `assign` nearest sub-cells — one broadcast-argmax projection, shared
    * by the directed and undirected candidate enumerations.
    */
  private[graft] def ivfAssignments(e: DataFrame, codebook: DataFrame,
      assign: Int): DataFrame = {
    val cb = codebook.groupBy("label")
      .agg(collect_list(struct(col("cell"), col("c_emb"))).as("cells"))
      .agg(collect_list(struct(col("label").as("l"), col("cells"))).as("cb"))
    e.crossJoin(broadcast(cb))
      .select(col("label"), col("vec_id"),
        explode(expr(
          s"""slice(array_sort(transform(filter(cb, x -> x.l = label)[0].cells,
             |  c -> struct(-${GraftCosineName}(embedding, c.c_emb) AS nsim, c.cell AS cell))),
             |  1, $assign)""".stripMargin)).as("a"))
      .select(col("label"), col("vec_id"), col("a.cell").as("cell"))
  }

  /** UNDIRECTED twin of [[ivfGraphCandidates]] — shared-inverted-list
    * membership is symmetric in the pair, so joining with vec_id <
    * n_vec_id IN the join condition halves the list enumeration output,
    * the pair distinct, and the downstream cosine verify; the symmetric
    * scorer mirrors each pair back (r16).
    */
  private[graft] def ivfGraphCandidatesUndirected(e: DataFrame, codebook: DataFrame,
      assign: Int): DataFrame = {
    val assigned = ivfAssignments(e, codebook, assign)
    val right = assigned.select(col("label").as("n_label"), col("cell").as("n_cell"),
      col("vec_id").as("n_vec_id"))
    assigned.join(right,
        col("label") === col("n_label") && col("cell") === col("n_cell")
          && col("vec_id") < col("n_vec_id"))
      .select("label", "vec_id", "n_vec_id").distinct()
  }

  /** Score skinny candidate pairs and keep each vector's top-`k` cosine
    * neighbors — the shared tail of every bucketed graph variant.
    */
  private[graft] def knnGraphFromCandidates(e: DataFrame, cands: DataFrame, k: Int): DataFrame = {
    val scored = cands
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(e.select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb")), "n_vec_id")
      .withColumn("cos", round(VectorOps.cosine(col("embedding"), col("n_emb")), 6))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("n_vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("rn"), col("n_vec_id"), col("cos"))
      .orderBy("vec_id", "rn")
  }

  /** [[knnGraphFromCandidates]] over UNDIRECTED candidates: each pair is
    * embedding-joined and cosine-scored ONCE, then mirrored to both
    * directions before the per-vector top-k window. cosine(a,b) is
    * bit-equal to cosine(b,a) (elementwise products commute and the two
    * norms multiply commutatively), so the mirrored scored set is
    * row-identical to scoring the directed candidate set — same window
    * input, same graph. The skinny scored pairs are materialized once
    * because both union branches consume them (without the barrier the
    * whole candidate+score subtree would run twice, undoing the halving).
    */
  private[graft] def knnGraphFromCandidatesSym(e: DataFrame, candsU: DataFrame, k: Int): DataFrame = {
    val scoredU = candsU
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(e.select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb")), "n_vec_id")
      .select(col("vec_id"), col("n_vec_id"),
        round(VectorOps.cosine(col("embedding"), col("n_emb")), 6).as("cos"))
      .localCheckpoint()
    val scored = scoredU.unionByName(scoredU.select(
      col("n_vec_id").as("vec_id"), col("vec_id").as("n_vec_id"), col("cos")))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("n_vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("rn"), col("n_vec_id"), col("cos"))
      .orderBy("vec_id", "rn")
  }

  /** Within-label kNN graph: every vector's top-3 cosine neighbors inside
    * its own label class — the graph-construction primitive behind
    * graph-based clustering, label propagation, and diversity sampling.
    * Blocked by label, so the pair space is Σ|class|², not N², and the
    * per-class self-join is an equi-join on label (shuffle, no
    * cartesian); the window top-k keys on the high-cardinality vector id.
    * At 100 TB the label block is replaced or refined by LSH buckets
    * (q_ann_lsh's tables) — same plan shape, finer blocks.
    */
  val vecKnnGraph = QueryDef(
    "q_vec_knn_graph",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val a = e.select(col("label"), col("vec_id"), col("embedding"))
      val b = e.select(col("label").as("label2"), col("vec_id").as("n_vec_id"),
        col("embedding").as("n_emb"))
      val scored = a.join(b,
          col("label") === col("label2") && col("vec_id") =!= col("n_vec_id"))
        .withColumn("cos", round(VectorOps.cosine(col("embedding"), col("n_emb")), 6))
      val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("n_vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("vec_id"), col("rn"), col("n_vec_id"), col("cos"))
        .orderBy("vec_id", "rn")
    },
    Some("""
      WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      scored AS (
        SELECT a.vec_id, b.vec_id AS n_vec_id,
               ROUND(list_inner_product(a.emb, b.emb)
                     / sqrt(list_inner_product(a.emb, a.emb) * list_inner_product(b.emb, b.emb)), 6) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id)
      SELECT vec_id, rn, n_vec_id, cos FROM (
        SELECT vec_id, n_vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, n_vec_id ASC) AS rn
        FROM scored)
      WHERE rn <= 3
      ORDER BY vec_id, rn
    """.trim),
  )

  // Graph-variant configs, chosen by measured sweep (PERF.md round 5).
  private[operators] val GraphLshTables = 16
  private[operators] val GraphLshBits = 6
  private[operators] val GraphLshRadius = 1
  private[operators] val GraphIvfCells = 16
  private[operators] val GraphIvfAssign = 4

  /** Shared DuckDB prelude for EVERY consumer of the portable-LSH kNN
    * edge graph (16 tables × 6 bits, radius-1 asymmetric multiprobe,
    * within-label, exact-cosine top-3): CTEs `e → hb → pr_probe → cand →
    * scored(src, dst, cos) → knn(+rn) → edges → und` — the same terminal
    * names as GraphQueries.UndirectedEdgeSql, so the graph operators'
    * oracle bodies run unchanged over either edge source. Reproduces
    * lshGraphCandidates + knnGraphFromCandidates row-for-row (the
    * portable-plane bucketing is engine-exact; cosine/rounding follow the
    * q_vec_knn_graph proof).
    */
  private[operators] lazy val PortableLshEdgeSql: String =
    portableLshEdgeSqlAt(GraphLshTables, GraphLshBits)

  /** The same edge-graph prelude at an explicit (tables, bits) operating
    * point — the 24×5 perfect-recall dial registers through this.
    */
  private[operators] def portableLshEdgeSqlAt(tables: Int, bits: Int): String = {
    val pp = graft.functions.PortablePlanes
    s"""e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |hb AS (
       |${pp.homeBucketsSql("vec_id, label, emb", "e", tables, bits)}),
       |pr_probe AS (
       |  SELECT label, vec_id, t, xor(b, m.m) AS b2
       |  FROM hb CROSS JOIN ${pp.probeMasksSql(bits)} m),
       |cand AS (
       |  SELECT DISTINCT h.vec_id, p.vec_id AS n_vec_id
       |  FROM hb h JOIN pr_probe p
       |    ON p.label = h.label AND p.t = h.t AND p.b2 = h.b AND h.vec_id != p.vec_id),
       |scored AS (
       |  SELECT cand.vec_id AS src, cand.n_vec_id AS dst,
       |         ROUND(list_inner_product(a.emb, b.emb)
       |               / sqrt(list_inner_product(a.emb, a.emb) * list_inner_product(b.emb, b.emb)), 6) AS cos
       |  FROM cand JOIN e a ON a.vec_id = cand.vec_id JOIN e b ON b.vec_id = cand.n_vec_id),
       |knn AS (
       |  SELECT src, dst, cos, rn FROM (
       |    SELECT src, dst, cos, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
       |    FROM scored) WHERE rn <= 3),
       |edges AS (SELECT src, dst FROM knn),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM edges)""".stripMargin
  }

  /** The portable-LSH kNN edge graph, persisted per scale dir — the
    * 100 TB contract made explicit: the kNN graph over a corpus snapshot
    * is an INDEX (built once by q_vec_knn_graph_lsh's plan, the priced
    * build), and the graph-analytics family (pagerank/triangles/
    * labelprop/linkpred/outliers `_lsh` twins) CONSUMES it — none of
    * them re-pay the candidate join, exactly as a deployment would run
    * five analytics over one materialized graph. First call per dir
    * builds deterministically and writes to builder scratch (the
    * ivfCodebook discipline); later calls read the skinny (vec_id, rn,
    * n_vec_id, cos) parquet back. The family config is part of the dir
    * name so a constant change can never serve a stale graph.
    */
  private[graft] def lshKnnEdgesPersisted(s: SparkSession, dir: String,
      tables: Int = GraphLshTables, bits: Int = GraphLshBits): DataFrame =
    GraftFs.persisted(s, dir, tag => s"target/graft-ivf/$tag/lshknn_p${tables}x${bits}r$GraphLshRadius") {
      val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
      knnGraphFromCandidatesSym(e,
          lshGraphCandidatesUndirected(e, tables, bits, GraphLshRadius), 3)
    }

  /** Full within-label kNN graph from hyperplane-LSH candidates — the
    * corpus×corpus graph (every vector, not a query slice) with NO
    * all-pairs join: candidates come from an equi-join on (label, table,
    * bucket) with radius-1 asymmetric multiprobe, exact cosine only on
    * candidates. 16 tables × 6 bits (fixture embeddings are near-uniform
    * inside a label — median top-3 neighbor cosine ≈ 0.3, the hardest
    * regime for data-oblivious hyperplanes; sweep and regime analysis in
    * PERF.md round 5; portable-family recall re-measured ≥ 0.9 in round
    * 9). Since round 9 the planes are the PORTABLE integer family, so
    * the candidate set itself is DuckDB-reproduced and the operator
    * carries a full oracle; KnnGraphSpec still bounds recall vs the
    * exact graph and asserts the plan is cartesian-free.
    */
  val vecKnnGraphLsh = QueryDef(
    "q_vec_knn_graph_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
      // undirected candidates + mirror-after-scoring (r16): half the pair
      // distinct and half the exact-cosine verify for the identical graph
      knnGraphFromCandidatesSym(e,
        lshGraphCandidatesUndirected(e, GraphLshTables, GraphLshBits, GraphLshRadius), 3)
    },
    Some(s"""
      WITH $PortableLshEdgeSql
      SELECT src AS vec_id, rn, dst AS n_vec_id, cos FROM knn
      ORDER BY vec_id, rn
    """.trim),
  )

  /** The SECOND measured LSH operating point, registered so the recall/
    * cost tradeoff is a benched fact rather than one sweep's assertion
    * (PERF.md round 9, LSH-graph operating-point sweep): 24 tables × 5 bits recalls 1.000 of
    * the exact within-label top-3 at BOTH sf0.01 and sf0.1 — the
    * perfect-recall dial — at +20% candidate-verify volume and +26%
    * build wall over the shipped 16×6 (0.957/0.982 recall). Same
    * machinery, same oracle prelude at the (24, 5) point; a deployment
    * gating on graph quality flips two constants. Since r11 this row
    * reads the PERSISTED 24×5 edge graph ([[lshKnnEdgesPersisted]]) —
    * the same index-amortization contract as its 16×6 twin's consumers:
    * the graph over a corpus snapshot is an index built once (the first
    * call builds deterministically, later calls read the skinny parquet
    * back); the inline candidate-join build itself stays priced in
    * q_vec_knn_graph_lsh at the shipped 16×6 point. The read re-applies
    * the total order (parquet readback has no order guarantee).
    */
  val vecKnnGraphLsh24 = QueryDef(
    "q_vec_knn_graph_lsh24",
    (s, dir) =>
      lshKnnEdgesPersisted(s, dir, 24, 5).orderBy("vec_id", "rn"),
    Some(s"""
      WITH ${portableLshEdgeSqlAt(24, 5)}
      SELECT src AS vec_id, rn, dst AS n_vec_id, cos FROM knn
      ORDER BY vec_id, rn
    """.trim),
  )

  /** Full within-label kNN graph from per-label IVF sub-cells — the
    * sub-quadratic 100 TB path: each label block is split by a k2-cell
    * sub-quantizer (LSH-bucket-mean seeded, Lloyd-refined), vectors join
    * the inverted lists of their 4 nearest sub-cells, candidates share a
    * (label, cell) list. Measured: recall 0.944 / 0.965 at ~70% of the
    * block pair volume on the near-uniform fixture — and unlike fixed-bit
    * hyperplanes, the candidate volume scales as Σ|class|²·(assign²/k2),
    * so growing k2 ~ √|class| (standard IVF sizing) holds per-list size
    * at √|class| and total candidate work at Σ|class|^1.5 — sub-quadratic
    * with NO recall cliff, because cell boundaries are data-adaptive and
    * multi-assignment covers them. Full oracle since r9 (IvfOracle.graphSql
    * replays the portable-seeded training); KnnGraphSpec bounds recall.
    *
    * CENSUS-ADAPTIVE k2 since r15 (r14 verdict item 2 — the row now
    * implements its own documented √|class| dial instead of declaring
    * it): k2 derives from a one-aggregate census of the largest label
    * class via [[ivfCellsRule]] — the next power of two ≥ √maxClass,
    * floored at GraphIvfCells = 16 and capped at 256 — exactly the
    * adaptiveBlocksFor discipline (DedupQueries:445, deterministic from
    * data, priced as one tiny aggregate + a 1-row driver read). With
    * k2 ~ √|class| the candidate volume Σ|class|²·assign²/k2 follows
    * Σ|class|^1.5 (sub-quadratic, no recall cliff: cell boundaries stay
    * data-adaptive and multi-assignment covers them); the r14 fixed-k2
    * registration measured the 27×-per-decade quadratic-over-k2 curve
    * this replaces (SCALE_tier2.json r14 → re-measured r15).
    *
    * ORACLE GATE UNCHANGED: on every driver fixture the census yields
    * the floor (max class ≤ 256 vectors at sf0.001/0.01/0.1 ⇒ √ ≤ 16 ⇒
    * k2 = 16 = the r9 constant), so IvfOracle.graphSql(bits = 4)
    * replays the identical training — IvfAdaptiveSpec pins both the
    * rule arithmetic and the fixture censuses so a fixture change
    * breaks the pin loudly instead of the oracle silently. The shipped
    * PRIMARY for the same semantics remains the hash-bucketed
    * q_vec_knn_graph_lsh (4.2× measured on the same decade, SCALE.json).
    */
  val vecKnnGraphIvf = QueryDef(
    "q_vec_knn_graph_ivf",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
      val cb = subCodebookPersisted(s, dir, adaptiveIvfCellsFor(e))
      // undirected candidates + mirror-after-scoring (r16): half the pair
      // distinct and half the exact-cosine verify for the identical graph
      knnGraphFromCandidatesSym(e, ivfGraphCandidatesUndirected(e, cb, GraphIvfAssign), 3)
    },
    // Full oracle since r9: the per-label sub-quantizer training replays
    // in SQL (portable-plane seed cells + scaled-long exact means, both
    // Lloyd refinements unrolled), so the data-ADAPTIVE index path gets
    // the same engine-exact treatment as the hash-bucketed ones — and
    // the hash-compare proves the persisted sub-codebook equals a fresh
    // training run every round. bits = 4 is the census-derived k2 = 16
    // at every oracle-checked fixture (IvfAdaptiveSpec pins this).
    Some(IvfOracle.graphSql(bits = 4, assign = GraphIvfAssign, SubCodebookPlaneFamily)),
  )

  /** k2 sizing rule for the census-adaptive IVF kNN graph: the smallest
    * power of two ≥ √maxClass, floored at [[GraphIvfCells]] (16 — the
    * r9 operating point every oracle fixture lands on) and capped at
    * 256 (a per-label codebook of ≤ 256 × 64 floats always broadcasts).
    * Power-of-two because the portable-plane seed assigns cells from
    * `bits = log2(k2)` sign bits — a non-power k2 would train fewer
    * seed cells than requested and silently change the oracle replay
    * shape. Deterministic from data, like DedupQueries.adaptiveBlocksFor.
    */
  private[graft] def ivfCellsRule(maxClass: Long): Int = {
    val target = math.ceil(math.sqrt(math.max(0L, maxClass).toDouble))
    var k = GraphIvfCells
    while (k < target && k < 256) k <<= 1
    k
  }

  /** One-aggregate census of the largest label class → [[ivfCellsRule]].
    * The collect is a 1-row driver read of a scalar aggregate (the
    * adaptiveBlocksFor / CC-convergence pattern), not a data pull.
    */
  private[graft] def adaptiveIvfCellsFor(e: DataFrame): Int = {
    val maxClass = e.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(max("n")).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.toString.toLong)).getOrElse(0L)
    ivfCellsRule(maxClass)
  }

  /** LSH-bucketed edge generation + connected components for the ≥0.95-
    * cosine cluster graph, generic over an (vec_id, embedding) relation —
    * the q_dedup_cluster two-phase shape transplanted to the embedding
    * side (VecClusterSpec proves label equivalence against the exhaustive
    * edge join on implanted near-duplicate fixtures):
    *
    *  1. STAR edges: within every (table, bucket) cell, connect each
    *     member to the cell-min vec_id and verify exact cosine ≥ 0.95 —
    *     linear in Σ bucket size, never enumerates in-bucket pairs, so a
    *     pathological 10⁶-copy duplicate cluster costs 10⁶ star edges,
    *     not 10¹² pairs.
    *  2. One SWEEP: bucket-coincident pairs whose endpoints sit in
    *     different phase-1 components (mixed-bucket prefilter, inequality
    *     inside the join), verified exactly, merged on the contracted
    *     component graph. One sweep reaches the fixpoint by the same
    *     argument as q_dedup_cluster: verification is label-independent
    *     and merging only coarsens.
    *
    * Candidate coverage is the hyperplane collision bound: a true edge at
    * cosine c survives a table with p(c)^bits, p(c) = 1 − arccos(c)/π, so
    * at the 0.95 threshold (p ≈ 0.899) 8 tables × 7 bits miss a
    * worst-case edge with (1 − 0.899⁷)⁸ ≈ 0.6%, and a 0.99-cosine true
    * duplicate with ~3·10⁻⁶. cos ≥ 0.95 is LSH's GOOD regime — the same
    * hyperplanes that cannot prune the kNN graph's 0.3-cosine neighbors
    * (see q_vec_knn_graph_ivf) are near-exhaustive here; raise `tables`
    * for more nines, linearly in cost.
    */
  private[graft] def vecClusterFromEmbeddings(e: DataFrame,
      tables: Int = LshTables, bits: Int = LshBits): DataFrame = {
    val planes = hyperplanesFor(tables, bits)
    val bucketCols = (0 until tables).map(t =>
      struct(lit(t).as("t"), bucketId(planes, bits, col("embedding"), t).as("b")))
    val banded = e.select(col("vec_id"), explode(array(bucketCols: _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))
      .cache()
    def verify(pairs: DataFrame): DataFrame = pairs
      .join(e.select(col("vec_id").as("doc_id1"), col("embedding").as("e1")), "doc_id1")
      .join(e.select(col("vec_id").as("doc_id2"), col("embedding").as("e2")), "doc_id2")
      .filter(round(VectorOps.cosine(col("e1"), col("e2")), 6) >= 0.95)
      .select("doc_id1", "doc_id2")
    val docs = e.select(col("vec_id").as("doc_id"))
    // Phase 1: verified star edges, linear in corpus
    val roots = banded.groupBy("t", "b")
      .agg(min("vec_id").as("doc_id1"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("t", "b", "doc_id1")
    val star = roots.join(banded, Seq("t", "b"))
      .filter(col("doc_id1") < col("vec_id"))
      .select(col("doc_id1"), col("vec_id").as("doc_id2")).distinct()
    val starEdges = verify(star).localCheckpoint()
    val labels = DedupQueries.connectedComponents(docs, starEdges)
    // Phase 2: the one sweep over mixed buckets, cross-component only
    val withLbl = banded.join(labels, banded("vec_id") === labels("doc_id"))
      .select(col("vec_id"), col("t"), col("b"), col("cluster_id"))
    val mixed = withLbl.groupBy("t", "b")
      .agg(countDistinct("cluster_id").as("nc")).filter(col("nc") > 1)
      .select("t", "b")
    val inMixed = withLbl.join(mixed, Seq("t", "b"))
    val a = inMixed.select(col("t"), col("b"),
      col("vec_id").as("doc_id1"), col("cluster_id").as("c1"))
    val bb = inMixed.select(col("t").as("t2"), col("b").as("b2"),
      col("vec_id").as("doc_id2"), col("cluster_id").as("c2"))
    val cross = a.join(bb,
        col("t") === col("t2") && col("b") === col("b2")
          && col("doc_id1") < col("doc_id2") && col("c1") =!= col("c2"))
      .select("doc_id1", "doc_id2").distinct()
    val mergeEdges = verify(cross).localCheckpoint()
    // Contract: merge through verified cross edges on the component graph,
    // then relabel docs through their phase-1 component.
    val l1 = labels.select(col("doc_id").as("d1"), col("cluster_id").as("c1"))
    val l2 = labels.select(col("doc_id").as("d2"), col("cluster_id").as("c2"))
    val compPairs = mergeEdges
      .join(l1, col("doc_id1") === col("d1")).join(l2, col("doc_id2") === col("d2"))
      .filter(col("c1") =!= col("c2"))
      .select(least(col("c1"), col("c2")).as("doc_id1"),
        greatest(col("c1"), col("c2")).as("doc_id2"))
      .distinct()
    val compNodes = labels.select(col("cluster_id").as("doc_id")).distinct()
    val compLabels = DedupQueries.connectedComponents(compNodes, compPairs)
      .select(col("doc_id").as("comp"), col("cluster_id").as("final_cluster"))
    val out = labels.join(compLabels, labels("cluster_id") === compLabels("comp"))
      .select(col("doc_id").as("vec_id"), col("final_cluster").as("cluster_id"))
    banded.unpersist()
    out
  }

  /** Embedding clustering: connected components over the ≥0.95-cosine
    * near-duplicate graph — every vector gets cluster_id = min vec_id
    * transitively reachable through near-dup edges; the oracle recomputes
    * the transitive closure with a recursive CTE. This is semantic dedup
    * GROUP formation on the embedding side: pick min(vec_id) per cluster
    * as the survivor. Edges come from the LSH star/sweep generator above
    * (near-linear), NOT from an all-pairs cosine join — q_dedup_embed
    * remains the deliberately-quadratic oracle baseline for pair LISTS,
    * but this operator's output is linear and must never enumerate the
    * pair space.
    */
  /** Embedding cluster labels persisted per scale dir — q_dedup_cluster's
    * r12 amortization contract on the embedding side: semantic near-dup
    * labels over a corpus snapshot are derived ONCE (the LSH star/sweep
    * build below, first call per dir pays it) and read back as the
    * skinny (vec_id, cluster_id) parquet. The oracle rebuilds the
    * transitive closure from raw embeddings, so persisted ≡ fresh stays
    * hash-proven every driver run; VecClusterSpec pins fresh ≡
    * exhaustive-edge CC and persisted ≡ fresh every `sbt test`.
    */
  private[graft] def vecClusterLabelsPersisted(s: SparkSession, dir: String): DataFrame =
    GraftFs.persisted(s, dir, tag => s"target/graft-ivf/$tag/vec_cluster_labels") {
      vecClusterFromEmbeddings(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
    }

  val vecCluster = QueryDef(
    "q_vec_cluster",
    (s, dir) => vecClusterLabelsPersisted(s, dir).orderBy("vec_id"),
    Some("""
      WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS v1, b.vec_id AS v2
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ROUND(list_inner_product(a.emb, b.emb)
                    / sqrt(list_inner_product(a.emb, a.emb) * list_inner_product(b.emb, b.emb)), 6) >= 0.95),
      ed AS (SELECT v1 AS a, v2 AS b FROM pairs UNION ALL SELECT v2, v1 FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM ed
        UNION
        SELECT r.a, ed.b FROM reach r JOIN ed ON r.b = ed.a)
      SELECT vec_id, LEAST(vec_id, COALESCE(MIN(r.b), vec_id)) AS cluster_id
      FROM embeddings LEFT JOIN reach r ON vec_id = r.a
      GROUP BY vec_id
      ORDER BY vec_id
    """.trim),
  )

  // ---- Product quantization (PQ) -------------------------------------------

  /** Squared L2 distance between two double arrays (sequential HOF fold). */
  /** Squared L2 — the native codegen expression since r16 (bit-identical
    * to `HofReferences.l2sqHof` under src/test, the HOF reference
    * NativeFoldsSpec pins it against).
    */
  private[operators] def l2sq(a: Column, b: Column): Column =
    call_function(graft.functions.GraftFunctions.L2SqName, a, b)

  private[operators] val PqM = 8      // subspaces (64 dims → 8×8)
  private[operators] val PqSub = 8    // dims per subspace
  private[operators] val PqBits = 5   // 32 centroids per subspace
  private[operators] val PqShortlist = 200

  /** Per-(key, subspace) rows: key cols + (m, sub) with sub = the m-th
    * 8-dim slice of `vecCol`. Key columns (everything except `vecCol`)
    * pass through untouched, so callers can slice residuals keyed by
    * (vec_id, c_id) as well as plain embeddings keyed by vec_id.
    */
  private[operators] def subSlices(df: DataFrame, vecCol: String): DataFrame = {
    val subs = (0 until PqM).map(m =>
      struct(lit(m).as("m"), slice(col(vecCol), m * PqSub + 1, PqSub).as("sub")))
    df.withColumn("ms", explode(array(subs: _*)))
      .withColumn("m", col("ms.m")).withColumn("sub", col("ms.sub"))
      .drop("ms", vecCol)
  }

  /** Per-(vec, subspace) rows: (vec_id, m, sub) with sub = 8-dim slice. */
  private[operators] def pqSubvectors(e: DataFrame): DataFrame =
    subSlices(e.select(col("vec_id"), col("embedding")), "embedding")

  /** Deterministic PQ codebook: per subspace, vectors bucket by the 5-bit
    * hyperplane sign signature of their SUBvector and each bucket's mean
    * is a centroid — the same LSH-seeded construction as the IVF
    * codebook, in 8 dims. ≤32 centroids × 8 subspaces = ≤256 rows total:
    * broadcastable at ANY corpus size (the codebook is fixed-size by
    * construction, unlike a gram dictionary). `subs` is any (m, sub)
    * relation from `subSlices` — plain embeddings for q_vec_pq, coarse
    * residuals for q_ann_ivfpq (distinct plane seeds keep the two
    * codebooks decorrelated).
    */
  /** r9 engine-exact form: portable integer planes (8-dim, per-subspace
    * table index m — `planeFamily` blocks keep the plain-embedding and
    * residual codebooks decorrelated), 6dp-rounded sign dots (the
    * standard portable recipe), and scaled-long exact means
    * (VectorCentroid in 8 dims) — so PQ training replays in DuckDB and
    * q_vec_pq carries a full oracle.
    */
  private[operators] def pqCodebookFromSubs(subs: DataFrame, planeFamily: Long): DataFrame = {
    val sub8 = udaf(new VectorCentroid(PqSub))
    val sig = (0 until PqBits).map { b =>
      val perM = (0 until PqM).map(mi =>
        typedlit(graft.functions.PortablePlanes.weights(mi, b, PqBits, planeFamily, PqSub)))
      when(round(VectorOps.dot(col("sub"), element_at(array(perM: _*), col("m") + 1)), 6) > 0,
        lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
    subs.withColumn("bucket", sig)
      .groupBy("m", "bucket").agg(sub8(col("sub")).as("cent"))
      .select(col("m"), col("bucket").as("code"),
        expr("transform(cent, x -> round(x, 6))").as("c_sub"))
  }

  private[operators] val PqPlaneFamily = 2L      // plain-embedding codebook
  private[operators] val PqResidualFamily = 3L   // ivfpq residual codebook

  /** The main (plain-embedding, family-2) PQ codebook, PERSISTED per
    * scale dir since r16 — the same index-artifact contract as
    * [[ivfCodebook]] / [[subCodebookPersisted]]: a deployment trains the
    * product quantizer once per corpus snapshot; the oracle replays the
    * training from raw embeddings every driver run (IvfOracle.ivfPqSql),
    * so persisted ≡ fresh stays hash-proven. [[pqCodebookFresh]] keeps
    * the inline derivation (spec pin + the residual-family path).
    */
  private[graft] def pqCodebook(s: SparkSession, dir: String): DataFrame =
    GraftFs.persisted(s, dir, tag => s"target/graft-ivf/$tag/pqcodebook_of2_pf$PqPlaneFamily") {
      pqCodebookFresh(s, dir).coalesce(1)
    }

  private[graft] def pqCodebookFresh(s: SparkSession, dir: String): DataFrame =
    pqCodebookFromSubs(
      pqSubvectors(Tables.embeddings(s, dir).select("vec_id", "embedding")), PqPlaneFamily)

  /** The corpus PQ-code table and 2-way coarse assignments, PERSISTED per
    * scale dir since r16 — the index side of q_ann_ivfpq (its own
    * scaladoc: "Index side: 2-way coarse multi-assignment ... plus the
    * q_vec_pq plain-embedding codes"). A production ANN index encodes and
    * list-assigns the corpus ONCE at build; the query path (probe, ADC
    * over probed lists, exact re-rank) stays priced inline. q_vec_pq
    * keeps the inline encode (its declared point is the whole-corpus ADC
    * scan, and its inline codes are the build-price twin); the incr row
    * already persists its frozen-index artifacts. Deterministic
    * (min_by/array_sort with explicit tiebreaks); the oracle replays
    * encode + assignment from raw embeddings every driver run.
    */
  private[graft] def pqCodesPersisted(s: SparkSession, dir: String): DataFrame =
    GraftFs.persisted(s, dir, tag => s"target/graft-ivf/$tag/pqcodes_pf$PqPlaneFamily") {
      pqCodes(Tables.embeddings(s, dir).select("vec_id", "embedding"), pqCodebook(s, dir))
    }

  private[graft] def coarseAssignPersisted(s: SparkSession, dir: String, k: Int): DataFrame =
    GraftFs.persisted(s, dir, tag => s"target/graft-ivf/$tag/coarse_assign_of2_a$k") {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val centroidArr = ivfCodebook(s, dir)
        .agg(collect_list(struct(col("c_id"), col("c_emb"))).as("cents"))
      nearestCells(e, "embedding", "vec_id", centroidArr, k)
    }

  /** PQ codes: per (vec, subspace) the L2-nearest codebook centroid —
    * 64 floats compress to 8 5-bit codes (51× smaller). Encoding joins
    * the broadcast codebook (≤256 rows) — one linear pass, no shuffle
    * except the final per-vector min. */
  private[graft] def pqCodes(e: DataFrame, codebook: DataFrame): DataFrame =
    pqSubvectors(e).join(broadcast(codebook), Seq("m"))
      .withColumn("d", l2sq(col("sub"), col("c_sub")))
      .groupBy("vec_id", "m")
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))

  /** PQ ANN: asymmetric-distance (ADC) shortlist + exact re-rank — the
    * production PQ retrieval shape. Each query precomputes its 8×32
    * distance lookup table (one broadcast of ≤2560 tiny rows); corpus
    * codes join the LUT and sum 8 lookups per (query, vector) to an
    * approximate distance; the 200-deep ADC shortlist per query is then
    * re-ranked by EXACT L2 on the original embeddings, emitting top-5.
    * At 100 TB the scan side touches only 4-byte codes (64× less IO than
    * raw vectors), and exact vectors are fetched for 200 rows per query (measured: recall@5 0.98 mean / 0.80 min at both SFs).
    * Full oracle since r9 (IvfOracle.pqSql replays the portable PQ
    * training, ADC sums are order-free decimals); KnnGraphSpec
    * bounds recall@5 vs exact brute-force L2.
    */
  val vecPq = QueryDef(
    "q_vec_pq",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val codebook = pqCodebook(s, dir)
      val codes = pqCodes(e, codebook)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      // per-query LUT: d(q, m, code) = ||q_sub_m − centroid(m, code)||²
      // LUT entries 8dp-round to exact decimals so the 8-term ADC sum is
      // ORDER-FREE (the lm_score recipe) — engine-exact, which is what
      // lets the shortlist boundary hash-match in the oracle
      val lut = pqSubvectors(q.select(col("q_vec_id").as("vec_id"), col("q_emb").as("embedding")))
        .join(broadcast(codebook), Seq("m"))
        .select(col("vec_id").as("q_vec_id"), col("m"), col("code"),
          round(l2sq(col("sub"), col("c_sub")), 8).cast(DecimalType(18, 8)).as("d"))
      val adc = codes.join(broadcast(lut), Seq("m", "code"))
        .filter(col("vec_id") =!= col("q_vec_id"))
        .groupBy("q_vec_id", "vec_id")
        .agg(round(sum("d").cast(DoubleType), 6).as("adist"))
      val wShort = Window.partitionBy("q_vec_id").orderBy(asc("adist"), asc("vec_id"))
      val shortlist = adc.withColumn("srn", row_number().over(wShort)).filter(col("srn") <= PqShortlist)
      // exact re-rank of the 50-deep shortlist
      val exact = shortlist
        .join(e.select(col("vec_id"), col("embedding").as("n_emb")), Seq("vec_id"))
        .join(q, Seq("q_vec_id"))
        .withColumn("dist", round(l2sq(col("q_emb"), col("n_emb")), 6))
      val wTop = Window.partitionBy("q_vec_id").orderBy(asc("dist"), asc("vec_id"))
      exact.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
        .select(col("q_vec_id"), col("rn"), col("vec_id").as("n_vec_id"), col("dist"))
        .orderBy("q_vec_id", "rn")
    },
    Some(IvfOracle.pqSql(PqPlaneFamily)), // full training replay - see IvfOracle
  )

  /** Incremental kNN-graph maintenance — the nightly-ingest shape for the
    * within-label graph: an existing EXACT top-3 graph over the standing
    * corpus (vec_id % 5 != 0; at 100 TB this is read back from the
    * previous snapshot, never recomputed) absorbs a new-vector slice
    * (vec_id % 5 == 0) by generating ONLY pairs that touch the slice —
    * corpus→new, new→corpus, new→new label equi-joins, each with the
    * small slice on one side, so per-update pair volume is
    * O(|new|·|label block|), never |corpus|². The merge algebra is exact:
    * an updated node's true top-3 neighbor is either already in its stored
    * top-3 (full-corpus ranking restricted to old vectors preserves order)
    * or is a new vector — so re-ranking stored-edges ∪ fresh-edges per
    * AFFECTED node reproduces the full rebuild verbatim, and untouched
    * nodes' stored rows pass through without entering the re-rank shuffle.
    * Oracle: the full-rebuild SQL of q_vec_knn_graph — equality is the
    * correctness claim, not an approximation bound.
    */
  /** Affected-node merge shared by the incremental graph variants: stored
    * top-3 rows for nodes touched by a fresh edge re-rank against the
    * fresh edges; every other stored row bypasses the re-rank shuffle
    * untouched. `oldGraph` is (vec_id, rn, n_vec_id, cos); `freshEdges`
    * is directed scored edges (vec_id, n_vec_id, cos), disjoint from the
    * stored edge set (every fresh edge touches the new slice, stored
    * edges never do).
    */
  private def incrMergeTop3(oldGraph: DataFrame, freshEdges0: DataFrame,
      preMaterialized: Boolean): DataFrame = {
    // the fresh-edge subtree feeds THREE consumers (affected-set build,
    // semi-joined re-rank input, and the union itself) — without a
    // lineage cut Catalyst re-executes the whole collision+scoring
    // pipeline per consumer, and the stage-count overhead dominates at
    // any scale (measured: 5.7 s fixed at sf0.001). localCheckpoint
    // materializes the slice-proportional edge list once.
    // preMaterialized (r17): callers that already checkpointed the
    // CANONICAL scored pairs pass the cheap mirror-union through — the
    // second materialization of the same (doubled) rows was pure cost.
    val freshEdges = if (preMaterialized) freshEdges0 else freshEdges0.localCheckpoint()
    val affected = freshEdges.select("vec_id").distinct()
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("n_vec_id"))
    val reranked = oldGraph.join(affected, Seq("vec_id"), "left_semi")
      .select("vec_id", "n_vec_id", "cos")
      .union(freshEdges)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("vec_id", "rn", "n_vec_id", "cos")
    val untouched = oldGraph.join(affected, Seq("vec_id"), "left_anti")
    untouched.union(reranked).orderBy("vec_id", "rn")
  }

  val vecKnnGraphIncr = QueryDef(
    "q_vec_knn_graph_incr",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("label"), col("vec_id"), col("embedding"))
      val isNew = col("vec_id") % 5 === 0
      val old = e.filter(!isNew)
      val fresh = e.filter(isNew)
      def top3(edges: DataFrame): DataFrame = {
        val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("n_vec_id"))
        edges.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      }
      // UNDIRECTED pair scoring (r17 — the r16 rewrite of the _lsh
      // sibling, ported to the exact variant): the old code enumerated
      // every unordered pair in BOTH directions through the label
      // self-joins and scored each twice — cosine(a,b) is bit-commutative,
      // so half that work buys the identical edge set. Canonical pairs
      // join with vec_id < n_vec_id, score once, and the skinny scored
      // rows mirror into the directed set the merge algebra consumes.
      def labelPairsU(l: DataFrame, r: DataFrame): DataFrame =
        l.join(r.select(col("label").as("label2"), col("vec_id").as("n_vec_id"),
            col("embedding").as("n_emb")),
            col("label") === col("label2") && col("vec_id") < col("n_vec_id"))
          .select(col("vec_id"), col("n_vec_id"),
            round(VectorOps.cosine(col("embedding"), col("n_emb")), 6).as("cos"))
      def mirrored(u: DataFrame): DataFrame =
        u.unionByName(u.select(col("n_vec_id").as("vec_id"),
          col("vec_id").as("n_vec_id"), col("cos")))
      // the persisted snapshot graph (stored rows carry their rank).
      // Checkpointed (r17): the merge consumes it twice (semi + anti
      // join) and the 12k-row top-3 frame is far cheaper to pin than to
      // rely on exchange reuse deduplicating the scoring pipeline.
      val oldGraph = top3(mirrored(labelPairsU(old, old)))
        .select("vec_id", "rn", "n_vec_id", "cos")
        .localCheckpoint()
      // only slice-touching pairs are generated this run: unordered pairs
      // {a, b} with b in the slice (a anywhere) ∪ {f, o} with the fresh
      // member smaller — together exactly one canonical row per unordered
      // pair touching the slice, scored once; the mirror reproduces the
      // directed union the old labelPairs(e, fresh) ∪ labelPairs(fresh,
      // old) formulation scored twice.
      val freshU = labelPairsU(e, fresh).unionByName(labelPairsU(fresh, old))
        .localCheckpoint()
      incrMergeTop3(oldGraph, mirrored(freshU), preMaterialized = true)
    },
    vecKnnGraph.oracle,
  )

  /** LSH-bucketed incremental kNN-graph maintenance — the same exact
    * affected-node merge algebra as q_vec_knn_graph_incr with the fresh
    * edges generated the way a 100 TB corpus must: the standing corpus's
    * home buckets are a PERSISTED bucketed table (hashed once at ingest,
    * maintained append-only — ensureVecBuckets, the vector analogue of
    * the near-dedup signature layout), only the new-vector slice hashes
    * fresh, and candidate pairs are (corpus ∪ slice) home buckets ⋈ the
    * slice's radius-1 multiprobe fan-out — per-update cost is the slice's
    * bucket mass, never Σ|label block|·|slice| (the exact variant's pair
    * space) and never |corpus|². The standing graph itself is the LSH
    * graph over the old corpus (at 100 TB: read back, not recomputed).
    *
    * Full oracle since r9: the portable-plane family makes the candidate
    * criterion engine-exact, and the incremental merge PROVABLY equals
    * the full rebuild — a pair is a candidate iff its buckets differ by
    * ≤ radius bits in some table (the same symmetric criterion both
    * paths test), and top-3(old-old ∪ fresh-edges) = top-3(top-3(old-old)
    * ∪ fresh-edges) because discarded old-old edges are dominated by
    * three better-or-equal ones under the same total order. So it SHARES
    * q_vec_knn_graph_lsh's oracle, and the driver's hash-compare proves
    * incremental ≡ full rebuild every round. KnnGraphSpec pins the row
    * equality directly (upgraded from the recall floor) and asserts a
    * cartesian-free plan.
    */
  val vecKnnGraphIncrLsh = QueryDef(
    "q_vec_knn_graph_incr_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("label"), col("vec_id"), col("embedding"))
      val isNew = col("vec_id") % 5 === 0
      val old = e.filter(!isNew)
      val fresh = e.filter(isNew)
      // standing state, BOTH persisted (index-build cost, not per-run
      // cost): the LSH graph over the old corpus and its home buckets.
      // Recomputing the standing graph per run would make "incremental"
      // a fiction — first call per scale dir builds and writes, every
      // later run reads the snapshot back (measured: 11.7 s recomputing
      // vs the true incremental cost after this change).
      // construction parameters are part of the artifact PATH: changing
      // tables/bits/radius, k, or the slice rule must miss the snapshot
      // and rebuild, never silently reuse stale state (there is no
      // content revalidation analogous to bucketLayoutValid here)
      val fp = s"pp1t${GraphLshTables}b${GraphLshBits}r${GraphLshRadius}k3s5" // pp1 = portable-plane family v1 (r9): a family change must miss the snapshot
      val oldGraph = GraftFs.persisted(s, dir, tag => s"target/graft-knn/$tag/old_graph_lsh_$fp") {
        knnGraphFromCandidates(old,
          lshGraphCandidates(old, GraphLshTables, GraphLshBits, GraphLshRadius), 3)
      }
      // home buckets depend on tables/bits and the corpus slice only
      // (radius shapes the probe fan-out at query time, k the merge)
      val bucketsFp = s"pp1t${GraphLshTables}b${GraphLshBits}s5"
      graft.sources.BucketedTables.ensureVecBuckets(s, dir, bucketsFp,
        homeBucketsOf(old, GraphLshTables, GraphLshBits))
      val corpusBuckets = s.table(graft.sources.BucketedTables.vecBucketsTable(dir, bucketsFp))
      // only the slice hashes fresh; its probe fan-out meets corpus+slice homes
      val freshHome = homeBucketsOf(fresh, GraphLshTables, GraphLshBits)
      // UNDIRECTED collision pairs (r16): the old code symmetrized the
      // collision set BEFORE scoring (union + swapped union + distinct)
      // and embedding-joined every directed pair — twice the verify work
      // for the same edge set, since cosine(a,b) is bit-equal to
      // cosine(b,a). Canonicalize to (min, max), score once, mirror the
      // skinny scored rows. The scored pairs are materialized because
      // both union branches consume them.
      val collisionsU = corpusBuckets.union(freshHome)
        .join(probeBucketsOf(freshHome, GraphLshBits, GraphLshRadius),
          col("label") === col("n_label") && col("t") === col("nt")
            && col("b") === col("nb") && col("vec_id") =!= col("n_vec_id"))
        .select(least(col("vec_id"), col("n_vec_id")).as("vec_id"),
          greatest(col("vec_id"), col("n_vec_id")).as("n_vec_id"))
        .distinct()
      val scoredU = collisionsU
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(e.select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb")), "n_vec_id")
        .select(col("vec_id"), col("n_vec_id"),
          round(VectorOps.cosine(col("embedding"), col("n_emb")), 6).as("cos"))
        .localCheckpoint()
      val freshEdges = scoredU.unionByName(scoredU.select(
        col("n_vec_id").as("vec_id"), col("vec_id").as("n_vec_id"), col("cos")))
      // scoredU is already materialized — the mirror-union is a cheap
      // narrow op per consumer, so the merge skips its own (second)
      // materialization of the same doubled rows (r17)
      incrMergeTop3(oldGraph, freshEdges, preMaterialized = true)
    },
    vecKnnGraphLsh.oracle, // incremental == full rebuild (see scaladoc)
  )

  /** SQL-expr form of squared L2 (for use inside `transform` lambdas where
    * Column builders can't reach the lambda variable) — the registered
    * native expression since r16 (bit-identical to the zip_with/aggregate
    * fold it replaces; see NativeVectorFolds).
    */
  private def l2sqSql(a: String, b: String): String =
    s"${graft.functions.GraftFunctions.L2SqName}($a, $b)"

  /** The k L2-nearest coarse cells per vector from a one-row broadcast
    * centroid array — one projection, no shuffle. Shared by index-side
    * multi-assignment (k=2) and query-side probing (k=4).
    */
  private[graft] def nearestCells(v: DataFrame, vecCol: String, idCol: String,
      centroidArr: DataFrame, k: Int): DataFrame =
    v.crossJoin(broadcast(centroidArr))
      .select(col(idCol), explode(expr(
        s"""slice(array_sort(transform(cents,
           |  c -> struct(${l2sqSql(vecCol, "c.c_emb")} AS d, c.c_id AS c_id))),
           |  1, $k)""".stripMargin)).as("a"))
      .select(col(idCol), col("a.c_id").as("c_id"))

  /** IVF-PQ: the composed full-scale ANN index shape — coarse inverted
    * lists (the q_ann_ivf cells, L2-assigned) × PQ codes scanned only in
    * probed lists. Index side: 2-way coarse multi-assignment by squared
    * L2 (the retrieval metric — the fixture embeddings are unnormalized,
    * so cosine-probed cells systematically miss L2 neighbors) plus the
    * q_vec_pq plain-embedding codes (8×5-bit, shared broadcastable ≤256-
    * row codebook). Query side: probe the 4 nearest cells, restrict to
    * list members (equi-join on cell — candidate recall measured 0.60 /
    * 0.84 / 0.92 / 0.98 at nprobe 2/3/4/6, mean list mass 751–1,723 of a
    * 50k corpus), ADC-score candidates against the per-query LUT (10 q ×
    * 8 m × 32 codes = 2,560 tiny rows, broadcast), 200-deep shortlist,
    * exact L2 re-rank to top-5. At 100 TB the scan side touches 5-byte
    * codes in probed lists ONLY — both the IO win of PQ and the candidate
    * pruning of IVF, which neither q_ann_ivf (exact distances over probed
    * lists) nor q_vec_pq (ADC over the WHOLE corpus) gets alone.
    *
    * Residual encoding (classic IVF-PQ, codes of embedding − centroid per
    * cell) was built and measured first and REJECTED: the LSH-seeded
    * residual codebook's ADC was noisy enough to push true neighbors past
    * the 200-deep shortlist (end-to-end 0.66 at sf0.1 vs 0.84 candidate
    * recall at nprobe=3), while the plain-embedding codes carry measured
    * 0.98 shortlist fidelity (q_vec_pq) — the FAISS `by_residual=false`
    * configuration, chosen here on measurement. Note this is also NOT the
    * rejected round-4 "fine cells" design: PQ re-scores candidates, it
    * does not further prune lists — recall is bounded by coarse probing.
    * Measured end-to-end recall@5: 0.88 mean (sf0.001) / 0.84 (sf0.1) —
    * ABOVE whole-corpus q_vec_pq (0.82 at sf0.1) at 1/40th the ADC scan.
    * Full oracle since r9 (IvfOracle.ivfPqSql); KnnGraphSpec bounds recall@5.
    */
  val annIvfPq = QueryDef(
    "q_ann_ivfpq",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val centroidArr = ivfCodebook(s, dir)
        .agg(collect_list(struct(col("c_id"), col("c_emb"))).as("cents"))
      val codebook = pqCodebook(s, dir)
      // index side PERSISTED (r16): codes + inverted-list assignments are
      // build-time artifacts (see pqCodesPersisted); the probe/ADC/re-rank
      // query path stays priced inline
      val codes = pqCodesPersisted(s, dir)
      val assigned = coarseAssignPersisted(s, dir, 2)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      val probes = nearestCells(q, "q_emb", "q_vec_id", centroidArr, 4)
      // candidates = probed-list members, distinct while two longs wide
      val cands = assigned.join(broadcast(probes), Seq("c_id"))
        .filter(col("vec_id") =!= col("q_vec_id"))
        .select("q_vec_id", "vec_id").distinct()
      // ADC LUT: d(q, m, code) = ||q_sub_m − centroid(m, code)||²
      val lut = subSlices(q.select(col("q_vec_id"), col("q_emb")), "q_emb")
        .join(broadcast(codebook), Seq("m"))
        .select(col("q_vec_id"), col("m"), col("code"),
          round(l2sq(col("sub"), col("c_sub")), 8).cast(DecimalType(18, 8)).as("d"))
      val adc = cands.join(codes, Seq("vec_id"))
        .join(broadcast(lut), Seq("q_vec_id", "m", "code"))
        .groupBy("q_vec_id", "vec_id")
        .agg(round(sum("d").cast(DoubleType), 6).as("adist"))
      // deeper shortlist than q_vec_pq: the probed-list mass is ~1,300
      // candidates, so 400 exact fetches still re-rank under a third of it
      val wShort = Window.partitionBy("q_vec_id").orderBy(asc("adist"), asc("vec_id"))
      val shortlist = adc.withColumn("srn", row_number().over(wShort))
        .filter(col("srn") <= 2 * PqShortlist)
      val exact = shortlist
        .join(e.select(col("vec_id"), col("embedding").as("n_emb")), Seq("vec_id"))
        .join(broadcast(q), Seq("q_vec_id"))
        .withColumn("dist", round(l2sq(col("q_emb"), col("n_emb")), 6))
      val wTop = Window.partitionBy("q_vec_id").orderBy(asc("dist"), asc("vec_id"))
      exact.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
        .select(col("q_vec_id"), col("rn"), col("vec_id").as("n_vec_id"), col("dist"))
        .orderBy("q_vec_id", "rn")
    },
    Some(IvfOracle.ivfPqSql(PqPlaneFamily)), // coarse + PQ training replay - see IvfOracle
  )

  /** IVF-PQ over the incremental ingest path: the quantizer artifacts
    * (coarse cells AND the PQ codebook) are FROZEN at index build over
    * the standing corpus (vec_id % 5 != 0) and persisted, along with the
    * standing corpus's cell assignments and codes; each new-vector slice
    * then encodes against the frozen artifacts — one linear projection
    * per new vector, no retraining, the codes/cells tables grow
    * append-only (exactly how production ANN indexes absorb a daily
    * ingest). Query path = q_ann_ivfpq over the unioned tables. The cost
    * of freezing is RECALL DRIFT: the codebook never saw the new
    * vectors' distribution — measured against q_ann_ivfpq's
    * everything-trained codebooks in KnnGraphSpec and PERF.md (the
    * fixture's slices are iid, so drift here is small by construction;
    * the operator exists so drift is MEASURABLE when ingest shifts).
    * Full oracle since r9 (IvfOracle.ivfPqIncrSql replays the frozen-slice
    * training); KnnGraphSpec bounds recall@5.
    */
  val annIvfPqIncr = QueryDef(
    "q_ann_ivfpq_incr",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("label"), col("vec_id"), col("embedding"))
      // one fingerprint directory for the whole frozen index family: any
      // construction-parameter change (Lloyd iters, PQ seed, assignment
      // fan-out, slice rule) relocates ALL artifacts and rebuilds them
      // coherently — mixed-generation reuse is impossible by path. The
      // fingerprint is assembled from the SAME vals the builds consume.
      val (lloydIters, assignK, sliceMod) = (2, 2, 5)
      val fp = s"of2pf${PqPlaneFamily}it${lloydIters}_a${assignK}_s$sliceMod" // of2/pf: order-free means + portable PQ planes (r9)
      val isNew = col("vec_id") % sliceMod === 0
      val old = e.filter(!isNew)
      val fresh = e.filter(isNew)
      def persisted(name: String)(build: => DataFrame): DataFrame =
        GraftFs.persisted(s, dir, tag => s"target/graft-ivfpq/$tag/$fp/$name")(build)
      // frozen-at-index-build artifacts, trained on the standing corpus only
      val centroids = persisted("centroids") { coarseCentroidsOf(old, iters = lloydIters).coalesce(1) }
      val codebook = persisted("codebook") {
        pqCodebookFromSubs(pqSubvectors(old.select("vec_id", "embedding")), PqPlaneFamily)
          .coalesce(1)
      }
      val centroidArr = centroids.agg(collect_list(struct(col("c_id"), col("c_emb"))).as("cents"))
      val oldAssigned = persisted("assigned") {
        nearestCells(old, "embedding", "vec_id", centroidArr, assignK)
      }
      val oldCodes = persisted("codes") {
        pqCodes(old.select("vec_id", "embedding"), codebook)
      }
      // the new slice encodes against the FROZEN artifacts — append-only
      val assigned = oldAssigned.union(nearestCells(fresh, "embedding", "vec_id", centroidArr, assignK))
      val codes = oldCodes.union(pqCodes(fresh.select("vec_id", "embedding"), codebook))
      // query path: identical to q_ann_ivfpq over the unioned index
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      val probes = nearestCells(q, "q_emb", "q_vec_id", centroidArr, 4)
      val cands = assigned.join(broadcast(probes), Seq("c_id"))
        .filter(col("vec_id") =!= col("q_vec_id"))
        .select("q_vec_id", "vec_id").distinct()
      val lut = subSlices(q.select(col("q_vec_id"), col("q_emb")), "q_emb")
        .join(broadcast(codebook), Seq("m"))
        .select(col("q_vec_id"), col("m"), col("code"),
          round(l2sq(col("sub"), col("c_sub")), 8).cast(DecimalType(18, 8)).as("d"))
      val adc = cands.join(codes, Seq("vec_id"))
        .join(broadcast(lut), Seq("q_vec_id", "m", "code"))
        .groupBy("q_vec_id", "vec_id")
        .agg(round(sum("d").cast(DoubleType), 6).as("adist"))
      val wShort = Window.partitionBy("q_vec_id").orderBy(asc("adist"), asc("vec_id"))
      val shortlist = adc.withColumn("srn", row_number().over(wShort))
        .filter(col("srn") <= 2 * PqShortlist)
      val eAll = e.select(col("vec_id"), col("embedding"))
      val exact = shortlist
        .join(eAll.select(col("vec_id"), col("embedding").as("n_emb")), Seq("vec_id"))
        .join(broadcast(q), Seq("q_vec_id"))
        .withColumn("dist", round(l2sq(col("q_emb"), col("n_emb")), 6))
      val wTop = Window.partitionBy("q_vec_id").orderBy(asc("dist"), asc("vec_id"))
      exact.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
        .select(col("q_vec_id"), col("rn"), col("vec_id").as("n_vec_id"), col("dist"))
        .orderBy("q_vec_id", "rn")
    },
    Some(IvfOracle.ivfPqIncrSql(PqPlaneFamily, sliceMod = 5)), // frozen-training replay - see IvfOracle
  )

  /** One DuckDB PageRank iteration k (reads p(k-1), defines c_k + p_k):
    * per-edge contributions are 8dp-rounded to exact decimals BEFORE the
    * per-node sum (decimal addition is order-free — the summation-order
    * recipe from q_text_lm_score), so both engines sum identical exact
    * values in any order; everything else is deterministic IEEE
    * arithmetic on identical operands.
    */
  private[operators] def pagerankIterSql(k: Int): String =
    s"""c$k AS (
       |  SELECT ed.dst, SUM(CAST(ROUND(p.pr / d.outdeg, 8) AS DECIMAL(18,8))) AS inflow
       |  FROM edges ed JOIN p${k - 1} p ON p.vec_id = ed.src JOIN deg d ON d.src = ed.src
       |  GROUP BY ed.dst),
       |p$k AS (
       |  SELECT n.vec_id, CAST(0.15 AS DOUBLE) / nn.n
       |           + CAST(0.85 AS DOUBLE) * COALESCE(CAST(c$k.inflow AS DOUBLE), CAST(0.0 AS DOUBLE)) AS pr
       |  FROM nodes n CROSS JOIN nn LEFT JOIN c$k ON c$k.dst = n.vec_id)""".stripMargin

  /** Fixed-iteration PageRank over the within-label kNN graph — the
    * authority-weighting pass a training-data pipeline runs over a
    * document/link graph to weight sources by centrality (the CommonCrawl
    * harmonic-centrality idea) — here over the corpus's own similarity
    * graph, where high PageRank marks vectors central to their label
    * (prototype selection / coreset weighting). 3 damped iterations
    * (d = 0.85, teleport-only dangling handling: leaked mass is NOT
    * redistributed — deterministic and SQL-expressible), initial rank
    * 1/N, final score 6dp-rounded.
    *
    * Scale shape: per iteration, ONE shuffle join of the skinny (src,
    * dst, outdeg) edge list against the rank frame plus one per-dst
    * aggregate — linear in edges, the textbook distributed PageRank.
    * Edges are materialized once (localCheckpoint) and reused across
    * iterations, the same lineage-cut discipline as
    * connectedComponents' pointer-jumping loop. The exact within-label
    * edge build is quadratic per label (the q_vec_knn_graph baseline,
    * which is what makes the oracle possible); at 100 TB the edge
    * source swaps for the LSH/IVF candidate graphs
    * (q_vec_knn_graph_lsh/_ivf) — the iteration core is source-agnostic.
    * Float parity: per-edge contributions are 8dp-rounded to exact
    * decimals before the order-free decimal sum; all remaining ops are
    * identical IEEE arithmetic in both engines.
    */
  /** The iteration core, edge-source-agnostic: 3 damped rounds over any
    * (src, dst) edge frame. Edges are materialized once and reused; each
    * round is one skinny shuffle join + one per-dst aggregate — linear
    * in edges regardless of where they came from.
    */
  private[graft] def pagerankOnEdges(nodes: DataFrame, rawEdges: DataFrame): DataFrame = {
    val edges = rawEdges.repartition(col("src")).localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = edges.join(deg, "src")
    val nTotal = nodes.agg(count(lit(1)).cast(DoubleType).as("n"))
    var pr = nodes.crossJoin(broadcast(nTotal))
      .select(col("vec_id").as("vid"), (lit(1.0) / col("n")).as("pr"))
    for (_ <- 1 to 3) {
      val inflow = ed.join(pr, col("src") === col("vid"))
        .select(col("dst"),
          round(col("pr") / col("outdeg"), 8).cast(DecimalType(18, 8)).as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      pr = nodes.crossJoin(broadcast(nTotal))
        .join(inflow, col("vec_id") === col("dst"), "left")
        .select(col("vec_id").as("vid"),
          (lit(0.15) / col("n")
            + lit(0.85) * coalesce(col("inflow").cast(DoubleType), lit(0.0))).as("pr"))
    }
    pr.select(col("vid").as("vec_id"), round(col("pr"), 6).as("pr")).orderBy("vec_id")
  }

  val vecPagerank = QueryDef(
    "q_vec_pagerank",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val a = e.select(col("label"), col("vec_id"), col("embedding"))
      val b = e.select(col("label").as("label2"), col("vec_id").as("dst"),
        col("embedding").as("n_emb"))
      val scored = a.join(b, col("label") === col("label2") && col("vec_id") =!= col("dst"))
        .withColumn("cos", round(VectorOps.cosine(col("embedding"), col("n_emb")), 6))
      val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("dst"))
      val edges = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("vec_id").as("src"), col("dst"))
      pagerankOnEdges(e.select("vec_id"), edges)
    },
    Some(s"""
      WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROUND(list_inner_product(a.emb, b.emb)
                     / sqrt(list_inner_product(a.emb, a.emb) * list_inner_product(b.emb, b.emb)), 6) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id),
      edges AS (
        SELECT src, dst FROM (
          SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
          FROM scored) WHERE rn <= 3),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      nodes AS (SELECT vec_id FROM embeddings),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      p0 AS (SELECT vec_id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
      ${pagerankIterSql(1)},
      ${pagerankIterSql(2)},
      ${pagerankIterSql(3)}
      SELECT vec_id, ROUND(pr, 6) AS pr FROM p3 ORDER BY vec_id
    """.trim),
  )

  /** PageRank over the LSH kNN graph — the shipped scale twin for
    * q_vec_pagerank's quadratic exact edge build: same iteration core
    * ([[pagerankOnEdges]]), edges from the PERSISTED portable-LSH graph
    * ([[lshKnnEdgesPersisted]] — the graph is an index built once per
    * corpus snapshot; this query prices the ANALYTICS, q_vec_knn_graph_lsh
    * prices the build). Full DuckDB oracle since round 9 (portable
    * planes make the edge set engine-exact; the oracle rebuilds it from
    * scratch, proving the persisted graph byte-equals a fresh build);
    * NewOpsSpec additionally bounds top-rank agreement with the
    * exact-edge PageRank.
    */
  val vecPagerankLsh = QueryDef(
    "q_vec_pagerank_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val edges = lshKnnEdgesPersisted(s, dir)
        .select(col("vec_id").as("src"), col("n_vec_id").as("dst"))
      pagerankOnEdges(e.select("vec_id"), edges)
    },
    Some(s"""
      WITH $PortableLshEdgeSql,
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      nodes AS (SELECT vec_id FROM embeddings),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      p0 AS (SELECT vec_id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
      ${pagerankIterSql(1)},
      ${pagerankIterSql(2)},
      ${pagerankIterSql(3)}
      SELECT vec_id, ROUND(pr, 6) AS pr FROM p3 ORDER BY vec_id
    """.trim),
  )

  /** Personalized PageRank (Haveliwala 2002 / the PPR-push literature's
    * power-iteration form): random-walk-with-restart mass from a SEED
    * SET instead of the uniform teleport — "how relevant is every
    * document to THESE documents", the seed-expansion primitive behind
    * related-content retrieval, label propagation from a trusted core,
    * and contamination-neighborhood audits. Teleport vector t(v) =
    * 1/|S| on seeds (vec_id < 10, the fixture query-set convention),
    * 0 elsewhere; 3 damped iterations pr ← 0.15·t + 0.85·W·pr, init
    * pr = t. Same skinny edge-join + order-free decimal-contribution
    * shape as [[pagerankOnEdges]] — linear in edges — over the
    * PERSISTED portable-LSH kNN graph, and fully oracle-checked (the
    * SQL rebuilds edges from scratch and unrolls the seeded
    * iterations).
    */
  private[graft] def personalizedPagerankOnEdges(nodes: DataFrame, rawEdges: DataFrame,
      isSeed: Column): DataFrame = {
    val edges = rawEdges.repartition(col("src")).localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = edges.join(deg, "src")
    val seeded = nodes.withColumn("__s", when(isSeed, lit(1.0)).otherwise(lit(0.0)))
    val nSeed = seeded.agg(sum("__s").as("ns"))
    val tele = seeded.crossJoin(broadcast(nSeed))
      .select(col("vec_id"), (col("__s") / col("ns")).as("t"))
      .localCheckpoint()
    var pr = tele.select(col("vec_id").as("vid"), col("t").as("pr"))
    for (_ <- 1 to 3) {
      val inflow = ed.join(pr, col("src") === col("vid"))
        .select(col("dst"),
          round(col("pr") / col("outdeg"), 8).cast(DecimalType(18, 8)).as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      pr = tele.join(inflow, col("vec_id") === col("dst"), "left")
        .select(col("vec_id").as("vid"),
          (lit(0.15) * col("t")
            + lit(0.85) * coalesce(col("inflow").cast(DoubleType), lit(0.0))).as("pr"))
    }
    pr.select(col("vid").as("vec_id"), round(col("pr"), 6).as("pr")).orderBy("vec_id")
  }

  private def pprIterSql(k: Int): String =
    s"""c$k AS (
       |  SELECT ed.dst, SUM(CAST(ROUND(p.pr / d.outdeg, 8) AS DECIMAL(18,8))) AS inflow
       |  FROM edges ed JOIN p${k - 1} p ON p.vec_id = ed.src JOIN deg d ON d.src = ed.src
       |  GROUP BY ed.dst),
       |p$k AS (
       |  SELECT te.vec_id, CAST(0.15 AS DOUBLE) * te.t
       |           + CAST(0.85 AS DOUBLE) * COALESCE(CAST(c$k.inflow AS DOUBLE), CAST(0.0 AS DOUBLE)) AS pr
       |  FROM tele te LEFT JOIN c$k ON c$k.dst = te.vec_id)""".stripMargin

  val vecPagerankPers = QueryDef(
    "q_vec_pagerank_pers",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val edges = lshKnnEdgesPersisted(s, dir)
        .select(col("vec_id").as("src"), col("n_vec_id").as("dst"))
      personalizedPagerankOnEdges(e.select("vec_id"), edges, col("vec_id") < 10)
    },
    Some(s"""
      WITH $PortableLshEdgeSql,
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      seeds AS (SELECT vec_id, CASE WHEN vec_id < 10 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS s FROM embeddings),
      ns AS (SELECT SUM(s) AS ns FROM seeds),
      tele AS (SELECT vec_id, s / ns.ns AS t FROM seeds CROSS JOIN ns),
      p0 AS (SELECT vec_id, t AS pr FROM tele),
      ${pprIterSql(1)},
      ${pprIterSql(2)},
      ${pprIterSql(3)}
      SELECT vec_id, ROUND(pr, 6) AS pr FROM p3 ORDER BY vec_id
    """.trim),
  )

  /** k-center greedy diversity selection (Gonzalez 1985 — the coreset /
    * diversity-sampling pass a training-data pipeline runs to pick
    * maximally-spread exemplars): start from the min-id vector, then 9
    * rounds of "add the point farthest (max min cosine-distance) from
    * the chosen set" with min-id tiebreaks. Each round is ONE
    * broadcast-join scan updating the running min-distance column (the
    * classic 2-approximation algorithm is inherently k sequential
    * rounds; each reads ONE picked row to the driver — the bounded
    * 1-row-per-round collect the CC convergence loop already uses) —
    * O(k·N) total work, never a pair matrix. Distances are 6dp-rounded
    * before every min/argmax so rank order is engine-exact; the oracle
    * unrolls the 10 rounds as CTE pairs (accumulate-min + argmax).
    */
  val vecCoreset = QueryDef(
    "q_vec_coreset",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      val first = e.orderBy("vec_id").limit(1)
        .select(col("vec_id"), col("embedding")).head
      var picked = Seq((1, first.getLong(0), 0.0))
      var md = e.withColumn("md",
        round(lit(1.0) - VectorOps.cosine(col("embedding"),
          typedlit(first.getSeq[Float](1))), 6))
      for (r <- 2 to 10) {
        val p = md.filter(!col("vec_id").isInCollection(picked.map(_._2)))
          .orderBy(desc("md"), asc("vec_id")).limit(1)
          .select(col("vec_id"), col("embedding"), col("md")).head
        picked = picked :+ ((r, p.getLong(0), p.getDouble(2)))
        md = md.withColumn("md", least(col("md"),
          round(lit(1.0) - VectorOps.cosine(col("embedding"),
            typedlit(p.getSeq[Float](1))), 6)))
      }
      import s.implicits._
      picked.toDF("rank", "vec_id", "dist_to_set").orderBy("rank")
    },
    Some {
      s"""
      WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      pick1 AS MATERIALIZED (SELECT vec_id, emb, 0.0 AS md FROM e ORDER BY vec_id ASC LIMIT 1),
      picks1 AS MATERIALIZED (SELECT vec_id, 1 AS rank FROM pick1),
      md1 AS MATERIALIZED (
        SELECT m.vec_id, m.emb,
               ROUND(1.0 - list_inner_product(m.emb, p.emb)
                     / sqrt(list_inner_product(m.emb, m.emb) * list_inner_product(p.emb, p.emb)), 6) AS md
        FROM e m CROSS JOIN pick1 p WHERE m.vec_id <> p.vec_id),
      pick2 AS MATERIALIZED (SELECT vec_id, emb, md FROM md1 ORDER BY md DESC, vec_id ASC LIMIT 1),
      picks2 AS MATERIALIZED (SELECT vec_id, rank FROM picks1 UNION ALL SELECT vec_id, 2 FROM (SELECT vec_id FROM pick2)),
      ${(3 to 10).map { k =>
        s"""md${k - 1}x AS MATERIALIZED (
           |  SELECT m.vec_id, m.emb,
           |         least(m.md, ROUND(1.0 - list_inner_product(m.emb, p.emb)
           |               / sqrt(list_inner_product(m.emb, m.emb) * list_inner_product(p.emb, p.emb)), 6)) AS md
           |  FROM md${if (k == 3) "1" else s"${k - 2}x"} m CROSS JOIN pick${k - 1} p
           |  WHERE m.vec_id NOT IN (SELECT vec_id FROM picks${k - 1})),
           |pick$k AS MATERIALIZED (SELECT vec_id, emb, md FROM md${k - 1}x ORDER BY md DESC, vec_id ASC LIMIT 1),
           |picks$k AS MATERIALIZED (SELECT vec_id, rank FROM picks${k - 1} UNION ALL SELECT vec_id, $k FROM (SELECT vec_id FROM pick$k))""".stripMargin
      }.mkString(",\n      ")}
      SELECT p.rank AS rank, p.vec_id,
             CASE WHEN p.rank = 1 THEN 0.0 ELSE pk.md END AS dist_to_set
      FROM picks10 p
      LEFT JOIN (
        SELECT vec_id, md, 2 AS r FROM pick2 UNION ALL SELECT vec_id, md, 3 FROM pick3
        UNION ALL SELECT vec_id, md, 4 FROM pick4 UNION ALL SELECT vec_id, md, 5 FROM pick5
        UNION ALL SELECT vec_id, md, 6 FROM pick6 UNION ALL SELECT vec_id, md, 7 FROM pick7
        UNION ALL SELECT vec_id, md, 8 FROM pick8 UNION ALL SELECT vec_id, md, 9 FROM pick9
        UNION ALL SELECT vec_id, md, 10 FROM pick10) pk
        ON pk.vec_id = p.vec_id AND pk.r = p.rank
      ORDER BY rank
      """.trim
    },
  )

  /** Driver-side replica of the distributed cosine (sequential-order
    * double accumulation, one sqrt — VectorOps.cosine's exact
    * arithmetic), used by the mini-batch coreset's in-pool greedy so the
    * driver trace is bit-identical to what the oracle recomputes.
    */
  private[graft] def cosSeq(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    var na = 0.0; i = 0
    while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
    var nb = 0.0; i = 0
    while (i < b.length) { nb += b(i).toDouble * b(i).toDouble; i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** Spark's Round(double, 6) semantics (BigDecimal HALF_UP). */
  private[graft] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  private val CoresetPoolC = 16

  /** Mini-batch k-center (the q_vec_coreset scale path): instead of k
    * sequential cluster scans, each ROUND takes ONE distributed top-C
    * candidate pool (TakeOrderedAndProject on (md DESC, vec_id) — C=16
    * rows to the driver) and runs m greedy sub-picks INSIDE the pool
    * driver-side, maintaining exact min-distances (pool md enters the
    * round exact, and every subsequent center is in-pool, so in-pool
    * updates keep it exact). Global md refreshes once per round against
    * the m new centers in a single least() scan. k=10, m∈{4,5} → 3
    * distributed passes instead of 10; at 100 TB rounds are k/m cluster
    * jobs and the driver never holds more than C rows. Deterministic and
    * partition-invariant (the pool is a global ORDER BY ... LIMIT, all
    * distances 6dp-rounded with vec_id tiebreaks), so the full trace is
    * DuckDB-unrollable — unlike a per-partition-argmax batcher, which
    * would be layout-dependent. CoresetBatchSpec measures the
    * approximation against the exact greedy's coverage radius.
    */
  val vecCoresetBatch = QueryDef(
    "q_vec_coreset_batch",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      val first = e.orderBy("vec_id").limit(1)
        .select(col("vec_id"), col("embedding")).head
      val seedId = first.getLong(0)
      var picked = Vector((1, seedId, 0.0))
      var md = e.withColumn("md",
        round(lit(1.0) - VectorOps.cosine(col("embedding"),
          typedlit(first.getSeq[Float](1))), 6))

      // m greedy sub-picks inside a collected pool; in-pool md stays the
      // exact distance-to-set because every new center is a pool member
      def poolGreedy(pool0: Array[(Long, Array[Float], Double)], m: Int)
          : Vector[(Long, Array[Float], Double)] = {
        var pool = pool0
        var out = Vector.empty[(Long, Array[Float], Double)]
        while (out.size < m) {
          val p = pool.minBy(t => (-t._3, t._1))
          out = out :+ p
          pool = pool.filter(_._1 != p._1).map { case (id, emb, d) =>
            (id, emb, math.min(d, round6(1.0 - cosSeq(emb, p._2))))
          }
        }
        out
      }
      def takePool(excl: Seq[Long]): Array[(Long, Array[Float], Double)] =
        md.filter(!col("vec_id").isInCollection(excl))
          .orderBy(desc("md"), asc("vec_id")).limit(CoresetPoolC)
          .select(col("vec_id"), col("embedding"), col("md")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))

      val picks1 = poolGreedy(takePool(Seq(seedId)), 4) // ranks 2..5
      picked = picked ++ picks1.zipWithIndex.map { case ((id, _, d), i) => (i + 2, id, d) }
      md = md.withColumn("md", least(col("md") +: picks1.map(p =>
        round(lit(1.0) - VectorOps.cosine(col("embedding"),
          typedlit(p._2.toSeq)), 6)): _*))
      val picks2 = poolGreedy(takePool(picked.map(_._2)), 5) // ranks 6..10
      picked = picked ++ picks2.zipWithIndex.map { case ((id, _, d), i) => (i + 6, id, d) }
      import s.implicits._
      picked.toDF("rank", "vec_id", "dist_to_set").orderBy("rank")
    },
    Some {
      def d(m: String, p: String) =
        s"ROUND(1.0 - list_inner_product($m.emb, $p.emb) / sqrt(list_inner_product($m.emb, $m.emb) * list_inner_product($p.emb, $p.emb)), 6)"
      // m sub-picks inside a materialized pool CTE: s<r> = argmax, then
      // the surviving pool rows fold the new center into their min-dist
      def subPicks(pool: String, ranks: Range): String =
        ranks.zipWithIndex.map { case (r, i) =>
          val from = if (i == 0) pool else s"${pool}_$i"
          val pick = s"s$r AS MATERIALIZED (SELECT vec_id, emb, md FROM $from ORDER BY md DESC, vec_id ASC LIMIT 1)"
          if (i == ranks.size - 1) pick
          else pick + s""",
          ${pool}_${i + 1} AS MATERIALIZED (
            SELECT m.vec_id, m.emb, least(m.md, ${d("m", "p")}) AS md
            FROM $from m CROSS JOIN s$r p WHERE m.vec_id <> p.vec_id)"""
        }.mkString(",\n      ")
      s"""
      WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      p1 AS MATERIALIZED (SELECT vec_id, emb FROM e ORDER BY vec_id ASC LIMIT 1),
      md1 AS MATERIALIZED (
        SELECT m.vec_id, m.emb, ${d("m", "p")} AS md
        FROM e m CROSS JOIN p1 p WHERE m.vec_id <> p.vec_id),
      pool1 AS MATERIALIZED (SELECT vec_id, emb, md FROM md1 ORDER BY md DESC, vec_id ASC LIMIT $CoresetPoolC),
      ${subPicks("pool1", 2 to 5)},
      md2 AS MATERIALIZED (
        SELECT m.vec_id, m.emb,
               least(m.md, ${d("m", "a")}, ${d("m", "b")}, ${d("m", "c")}, ${d("m", "dd")}) AS md
        FROM md1 m CROSS JOIN s2 a CROSS JOIN s3 b CROSS JOIN s4 c CROSS JOIN s5 dd
        WHERE m.vec_id NOT IN (SELECT vec_id FROM s2 UNION ALL SELECT vec_id FROM s3
                               UNION ALL SELECT vec_id FROM s4 UNION ALL SELECT vec_id FROM s5)),
      pool2 AS MATERIALIZED (SELECT vec_id, emb, md FROM md2 ORDER BY md DESC, vec_id ASC LIMIT $CoresetPoolC),
      ${subPicks("pool2", 6 to 10)}
      SELECT * FROM (
        SELECT 1 AS rank, vec_id, 0.0 AS dist_to_set FROM p1
        ${(2 to 10).map(r => s"UNION ALL SELECT $r, vec_id, md FROM s$r").mkString("\n        ")}
      ) ORDER BY rank
      """.trim
    },
  )

  /** Truncated-dimension two-stage ANN (the Matryoshka/MRL serving
    * pattern, Kusupati et al. 2022): shortlist top-50 by cosine over the
    * FIRST 32 of 64 dims (½ the memory bandwidth — at 100 TB the
    * truncated prefix is the column you actually scan; MRL-trained
    * embeddings front-load information so a NARROW shortlist suffices —
    * the synthetic fixture is the worst case, iid dims with NO
    * front-loading, where the prefix carries only half the signal and
    * recall@5 measures 0.74 at this width; the same pipeline shape
    * serves both regimes, the width is the knob), then exact full-dim
    * re-rank to top-5. Both stages are deterministic
    * rounded arithmetic, so unlike hash-bucketed ANN the WHOLE operator
    * is oracle-exact with no family to reproduce — DuckDB slices the
    * same prefix. Output carries both scores so the truncation error is
    * visible per row; NewOpsSpec bounds recall vs the full-dim top-5.
    */
  val vecTruncated = QueryDef(
    "q_vec_truncated",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb"))
      val short = c.crossJoin(broadcast(q))
        .filter(col("q_vec_id") =!= col("n_vec_id"))
        .withColumn("tcos", round(
          VectorOps.cosine(slice(col("q_emb"), 1, 32), slice(col("n_emb"), 1, 32)), 6))
      val wS = Window.partitionBy("q_vec_id").orderBy(desc("tcos"), asc("n_vec_id"))
      val rer = short.withColumn("srn", row_number().over(wS)).filter(col("srn") <= 50)
        .withColumn("cos", round(VectorOps.cosine(col("q_emb"), col("n_emb")), 6))
      val w = Window.partitionBy("q_vec_id").orderBy(desc("cos"), asc("n_vec_id"))
      rer.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("q_vec_id", "rn", "n_vec_id", "tcos", "cos")
        .orderBy("q_vec_id", "rn")
    },
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      q AS (SELECT vec_id AS q_vec_id, emb AS q_emb FROM e WHERE vec_id < 10),
      short AS (
        SELECT q.q_vec_id, c.vec_id AS n_vec_id, c.emb AS n_emb, q.q_emb,
               ROUND(list_inner_product(q.q_emb[1:32], c.emb[1:32])
                     / sqrt(list_inner_product(q.q_emb[1:32], q.q_emb[1:32])
                            * list_inner_product(c.emb[1:32], c.emb[1:32])), 6) AS tcos
        FROM e c CROSS JOIN q WHERE q.q_vec_id != c.vec_id),
      top50 AS (
        SELECT q_vec_id, n_vec_id, q_emb, n_emb, tcos FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY tcos DESC, n_vec_id ASC) AS srn
          FROM short) WHERE srn <= 50),
      rer AS (
        SELECT q_vec_id, n_vec_id, tcos,
               ROUND(list_inner_product(q_emb, n_emb)
                     / sqrt(list_inner_product(q_emb, q_emb) * list_inner_product(n_emb, n_emb)), 6) AS cos
        FROM top50)
      SELECT q_vec_id, rn, n_vec_id, tcos, cos FROM (
        SELECT q_vec_id, n_vec_id, tcos, cos,
               ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id ASC) AS rn
        FROM rer)
      WHERE rn <= 5
      ORDER BY q_vec_id, rn
    """.trim),
  )

  /** Maximum-inner-product search (MIPS) — the UN-normalized retrieval
    * metric (recommendation scores, learned retrieval heads where vector
    * norm carries signal): top-5 by raw dot product, sequential-fold
    * double arithmetic mirrored in DuckDB's list_inner_product. The
    * broadcast-query linear-scan shape of q_sim_cosine_topk with the
    * metric swapped — at scale the same IVF/LSH index machinery applies
    * after the standard MIPS→cosine reduction (append a norm-completing
    * dimension), which is why no separate index twin is registered.
    */
  val vecMips = QueryDef(
    "q_vec_mips",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("q_vec_id") =!= col("n_vec_id"))
        .withColumn("dot", round(VectorOps.dot(col("q_emb"), col("n_emb")), 6))
      val w = Window.partitionBy("q_vec_id").orderBy(desc("dot"), asc("n_vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("q_vec_id", "rn", "n_vec_id", "dot")
        .orderBy("q_vec_id", "rn")
    },
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      q AS (SELECT vec_id AS q_vec_id, emb AS q_emb FROM e WHERE vec_id < 10),
      scored AS (
        SELECT q.q_vec_id, c.vec_id AS n_vec_id,
               ROUND(list_inner_product(q.q_emb, c.emb), 6) AS dot
        FROM e c CROSS JOIN q WHERE q.q_vec_id != c.vec_id)
      SELECT q_vec_id, rn, n_vec_id, dot FROM (
        SELECT q_vec_id, n_vec_id, dot,
               ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY dot DESC, n_vec_id ASC) AS rn
        FROM scored)
      WHERE rn <= 5
      ORDER BY q_vec_id, rn
    """.trim),
  )

  // vecKnnGraph and vecPagerank are NOT registered as of r10 (closing
  // sweep, the last weak rows): each is the exact-edge baseline its
  // _lsh/_ivf twins (all full-oracle) are proven against EVERY test run
  // — vecKnnGraph is KnnGraphSpec's `exact` recall truth, vecPagerank is
  // NewOpsSpec's rank-agreement truth (:96/:124). Oracles retained on
  // the unregistered QueryDefs; the registered twins read the persisted
  // graph (the 100 TB plan).
  /** Sequential-fold inner product over two double-array columns (same
    * summation order as DuckDB's list_inner_product — the
    * q_vec_quantize-proven parity).
    */
  private def innerFoldSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  private def cosFoldSql(a: String, b: String): String =
    s"round(${innerFoldSql(a, b)} / sqrt(${innerFoldSql(a, a)} * ${innerFoldSql(b, b)}), 6)"

  /** Embedding distribution-shift monitor — the VECTOR twin of
    * q_text_drift (an embedding pipeline must watch its incoming slice
    * the way a text pipeline watches token distributions: encoder
    * version bumps, upstream corpus shifts, and silently re-normalized
    * vectors all surface here first). Per label, between the standing
    * corpus (vec_id % 5 != 0 — the house slice rule) and the incoming
    * slice: slice sizes, the cosine between slice centroids, each
    * slice's mean member-cosine to the STANDING centroid (the fixed
    * reference frame), and drift = mean_cos_old − mean_cos_new — how
    * much farther from the standing center the incoming vectors sit.
    *
    * Scale shape: two exact scaled-long centroid aggregates
    * (VectorCentroid — mergeable partials, order-free) + one linear
    * member scan against the broadcast per-label centroids; output is
    * label-grain. Float parity: centroids 6dp-rounded per dim (identical
    * operand bits both engines), member cosines 6dp-rounded to exact
    * decimals before the order-free mean (the lm_score recipe).
    */
  val vecDrift = QueryDef(
    "q_vec_drift",
    (s, dir) => {
      val centroidUdaf = udaf(new VectorCentroid(64))
      val sliced = Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"), col("embedding"))
        .withColumn("slice", when(col("vec_id") % 5 === 0, lit("new")).otherwise(lit("old")))
      val cents = sliced.groupBy("label", "slice")
        .agg(centroidUdaf(col("embedding")).as("c0"), count(lit(1)).as("n"))
        .select(col("label"), col("slice"), col("n"),
          expr("transform(c0, x -> round(x, 6))").as("c"))
        .localCheckpoint() // feeds the centroid-pair join AND the member scan
      val co = cents.filter(col("slice") === "old")
        .select(col("label"), col("n").as("n_old"), col("c").as("c_old"))
      val cn = cents.filter(col("slice") === "new")
        .select(col("label").as("l2"), col("n").as("n_new"), col("c").as("c_new"))
      val memb = sliced.join(broadcast(co.select(col("label"), col("c_old"))), "label")
        .withColumn("emb_d", expr("transform(embedding, x -> cast(x as double))"))
        .withColumn("cos", expr(cosFoldSql("emb_d", "c_old")).cast(DecimalType(18, 8)))
      val means = memb.groupBy("label", "slice")
        .agg(round(sum("cos").cast(DoubleType) / count(lit(1)), 6).as("m"))
      val mo = means.filter(col("slice") === "old").select(col("label"), col("m").as("mean_cos_old"))
      val mn = means.filter(col("slice") === "new").select(col("label").as("l3"), col("m").as("mean_cos_new"))
      co.join(cn, col("label") === col("l2"))
        .withColumn("cos_centroids", expr(cosFoldSql("c_old", "c_new")))
        .join(mo, "label")
        .join(mn, col("label") === col("l3"))
        .select(col("label"), col("n_old"), col("n_new"), col("cos_centroids"),
          col("mean_cos_old"), col("mean_cos_new"),
          round(col("mean_cos_old") - col("mean_cos_new"), 6).as("drift"))
        .orderBy("label")
    },
    Some("""
      WITH e AS (SELECT vec_id, label,
                        CASE WHEN vec_id % 5 = 0 THEN 'new' ELSE 'old' END AS slice,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      x AS (SELECT label, slice, CAST(i - 1 AS INTEGER) AS dim,
                   CAST(CAST(emb[i] AS DOUBLE) * 17592186044416 AS BIGINT) AS sv
            FROM e CROSS JOIN generate_series(1, 64) AS t(i)),
      g AS (SELECT label, slice, dim, COUNT(*) AS n, SUM(sv) AS s FROM x GROUP BY 1, 2, 3),
      cent AS (SELECT label, slice, CAST(MAX(n) AS BIGINT) AS n,
                      list(ROUND(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 17592186044416), 6)
                           ORDER BY dim) AS c
               FROM g GROUP BY label, slice),
      co AS (SELECT label, n AS n_old, c AS c_old FROM cent WHERE slice = 'old'),
      cn AS (SELECT label, n AS n_new, c AS c_new FROM cent WHERE slice = 'new'),
      memb AS (SELECT e.label, e.slice,
                      CAST(ROUND(list_inner_product(emb, c_old)
                        / sqrt(list_inner_product(emb, emb) * list_inner_product(c_old, c_old)),
                        6) AS DECIMAL(18,8)) AS cos
               FROM e JOIN co ON co.label = e.label),
      means AS (SELECT label, slice, ROUND(CAST(SUM(cos) AS DOUBLE) / COUNT(*), 6) AS m
                FROM memb GROUP BY label, slice)
      SELECT co.label, n_old, n_new,
             ROUND(list_inner_product(c_old, c_new)
               / sqrt(list_inner_product(c_old, c_old) * list_inner_product(c_new, c_new)), 6) AS cos_centroids,
             mo.m AS mean_cos_old, mn.m AS mean_cos_new,
             ROUND(mo.m - mn.m, 6) AS drift
      FROM co
      JOIN cn ON cn.label = co.label
      JOIN means mo ON mo.label = co.label AND mo.slice = 'old'
      JOIN means mn ON mn.label = co.label AND mn.slice = 'new'
      ORDER BY co.label
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(cosineTopk, vecCentroid, vecCentroidUdaf, annLsh, annIvf, vecQuantize,
    annFiltered, vecKnnGraphLsh, vecKnnGraphLsh24, vecKnnGraphIvf, vecCluster, vecPq, annIvfPq,
    vecKnnGraphIncr, vecKnnGraphIncrLsh, annIvfPqIncr, vecPagerankLsh, vecCoreset,
    vecCoresetBatch, vecTruncated, vecMips, vecPagerankPers, vecDrift)
}
