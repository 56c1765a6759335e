package graft.operators

/** DuckDB replay of q_ann_ivf's ENTIRE pipeline, codebook training
  * included — the proof that data-adaptive (k-means) index construction
  * can be engine-exact, not just hash-bucketed families:
  *
  *  - cell means come from the scaled-long exact-integer sums
  *    (VectorCentroid's 2⁻⁴⁴-unit grid: SUM(CAST(v·2⁴⁴ AS BIGINT)) is
  *    order-free and bit-identical in any engine), divided and
  *    4dp-rounded with the same operand bits as the UDAF's finish();
  *  - the float32 cast of each centroid element is mirrored
  *    (CAST(x AS FLOAT) then back to DOUBLE), so the cosine inputs are
  *    the identical bits Spark's native expression consumes;
  *  - each Lloyd iteration is one argmax CTE (row_number over sim DESC,
  *    c_id ASC — the array_max struct tie-break) plus a re-mean;
  *  - the index probe is the same 2-way corpus assignment × nprobe-3
  *    query fan-out, candidates distinct while skinny, exact 6dp cosine
  *    re-rank on candidates only.
  */
private[operators] object IvfOracle {

  private val Scale = "17592186044416" // 2^44, VectorCentroid.Scale

  /** Exact cell means over scaled-long element rows `from`(c_id, vec_id,
    * dim, sv) → `cb$k`(c_id, c_emb): the UDAF finish + 4dp round + float
    * cast, element lists in dim order.
    */
  private def centCtes(k: Int, from: String): String =
    s"""cent$k AS (
       |  SELECT c_id, dim,
       |         CAST(CAST(ROUND(CAST(SUM(sv) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * $Scale), 4) AS FLOAT) AS DOUBLE) AS m
       |  FROM $from GROUP BY c_id, dim),
       |cb$k AS (SELECT c_id, list(m ORDER BY dim) AS c_emb FROM cent$k GROUP BY c_id)""".stripMargin

  /** Cosine of every vector against every `cb$k` cell (raw doubles — the
    * argmax compares unrounded values exactly as Spark does). `where`
    * optionally restricts to the training slice (the _incr variants
    * train on the standing corpus only).
    */
  private def simCte(name: String, cb: String, where: String = ""): String =
    s"""$name AS (
       |  SELECT e.vec_id, b.c_id,
       |         list_inner_product(e.emb, b.c_emb)
       |           / sqrt(list_inner_product(e.emb, e.emb) * list_inner_product(b.c_emb, b.c_emb)) AS sim
       |  FROM e CROSS JOIN $cb b $where)""".stripMargin

  /** One Lloyd step: argmax-assign against `cb$k`, re-key the scaled
    * element rows → `x${k + 1}`.
    */
  private def assignCtes(k: Int, trainWhere: String): String =
    s"""${simCte(s"s$k", s"cb$k", trainWhere)},
       |g$k AS (SELECT vec_id, c_id FROM (
       |    SELECT vec_id, c_id, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
       |    FROM s$k) WHERE rn = 1),
       |x${k + 1} AS (SELECT g$k.c_id, x.vec_id, x.dim, x.sv FROM x JOIN g$k ON x.vec_id = g$k.vec_id)""".stripMargin

  /** The full coarse-codebook training chain (shared by q_ann_ivf and
    * q_ann_ivfpq, which consume the same persisted codebook): e, scaled
    * elements, label seed, two Lloyd refinements → `cb2`. `trainWhere`
    * (a `WHERE …` clause over e/d.vec_id) restricts TRAINING to the
    * standing slice for the frozen _incr index — assignment and search
    * stay corpus-wide.
    */
  private def coarseChain(trainWhere: String = "",
      trainWhereD: String = ""): String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      x AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
              CAST(CAST(embedding[i] AS DOUBLE) * $Scale AS BIGINT) AS sv
            FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)),
      x0 AS (SELECT d.label AS c_id, x.vec_id, x.dim, x.sv
             FROM x JOIN embeddings d ON d.vec_id = x.vec_id $trainWhereD),
      ${centCtes(0, "x0")},
      ${assignCtes(0, trainWhere)},
      ${centCtes(1, "x1")},
      ${assignCtes(1, trainWhere)},
      ${centCtes(2, "x2")}"""

  val sql: String =
    s"""
      WITH ${coarseChain()},
      ${simCte("sf", "cb2")},
      assigned AS (SELECT vec_id, c_id FROM (
          SELECT vec_id, c_id, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
          FROM sf) WHERE rn <= 2),
      probes AS (SELECT vec_id AS q_vec_id, c_id FROM (
          SELECT vec_id, c_id, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
          FROM sf WHERE vec_id < 10) WHERE rn <= 3),
      cand AS (SELECT DISTINCT p.q_vec_id, a.vec_id
               FROM assigned a JOIN probes p ON a.c_id = p.c_id AND a.vec_id != p.q_vec_id),
      scored AS (
        SELECT cand.q_vec_id, cand.vec_id AS n_vec_id,
               ROUND(list_inner_product(qe.emb, ce.emb)
                     / sqrt(list_inner_product(qe.emb, qe.emb) * list_inner_product(ce.emb, ce.emb)), 6) AS cos
        FROM cand JOIN e qe ON qe.vec_id = cand.q_vec_id JOIN e ce ON ce.vec_id = cand.vec_id)
      SELECT q_vec_id, rn, n_vec_id, cos FROM (
        SELECT q_vec_id, n_vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id ASC) AS rn
        FROM scored)
      WHERE rn <= 5
      ORDER BY q_vec_id, rn
    """.trim

  // ---- q_vec_knn_graph_ivf: the per-LABEL sub-quantizer variant --------

  /** Per-(label, cell) exact means → `lcb$k`(label, cell, c_emb). */
  private def lcentCtes(k: Int, from: String): String =
    s"""lcent$k AS (
       |  SELECT label, cell, dim,
       |         CAST(CAST(ROUND(CAST(SUM(sv) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * $Scale), 4) AS FLOAT) AS DOUBLE) AS m
       |  FROM $from GROUP BY label, cell, dim),
       |lcb$k AS (SELECT label, cell, list(m ORDER BY dim) AS c_emb FROM lcent$k GROUP BY label, cell)""".stripMargin

  /** Cosine of every vector against every cell OF ITS LABEL. */
  private def lsimCte(name: String, cb: String): String =
    s"""$name AS (
       |  SELECT e.vec_id, e.label, b.cell,
       |         list_inner_product(e.emb, b.c_emb)
       |           / sqrt(list_inner_product(e.emb, e.emb) * list_inner_product(b.c_emb, b.c_emb)) AS sim
       |  FROM e JOIN $cb b ON b.label = e.label)""".stripMargin

  private def lassignCtes(k: Int): String =
    s"""${lsimCte(s"ls$k", s"lcb$k")},
       |lg$k AS (SELECT vec_id, label, cell FROM (
       |    SELECT vec_id, label, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
       |    FROM ls$k) WHERE rn = 1),
       |lx${k + 1} AS (SELECT lg$k.label, lg$k.cell, x.vec_id, x.dim, x.sv
       |               FROM x JOIN lg$k ON x.vec_id = lg$k.vec_id)""".stripMargin

  /** q_vec_knn_graph_ivf end to end: portable-plane seed cells (family
    * block 1), two Lloyd refinements with exact means, 4-way
    * multi-assignment, (label, cell)-list candidates, exact top-3.
    */
  def graphSql(bits: Int, assign: Int, planeFamily: Long): String = {
    val seedCell = graft.functions.PortablePlanes.bucketSql("emb", 0, bits, planeFamily)
    s"""
      WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      x AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
              CAST(CAST(embedding[i] AS DOUBLE) * $Scale AS BIGINT) AS sv
            FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)),
      seedc AS (SELECT vec_id, label, $seedCell AS cell FROM e),
      lx0 AS (SELECT seedc.label, seedc.cell, x.vec_id, x.dim, x.sv
              FROM x JOIN seedc ON x.vec_id = seedc.vec_id),
      ${lcentCtes(0, "lx0")},
      ${lassignCtes(0)},
      ${lcentCtes(1, "lx1")},
      ${lassignCtes(1)},
      ${lcentCtes(2, "lx2")},
      ${lsimCte("lsf", "lcb2")},
      assigned AS (SELECT vec_id, label, cell FROM (
          SELECT vec_id, label, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
          FROM lsf) WHERE rn <= $assign),
      cand AS (SELECT DISTINCT a.vec_id, b.vec_id AS n_vec_id
               FROM assigned a JOIN assigned b
                 ON a.label = b.label AND a.cell = b.cell AND a.vec_id != b.vec_id),
      scored AS (
        SELECT cand.vec_id, cand.n_vec_id,
               ROUND(list_inner_product(qe.emb, ce.emb)
                     / sqrt(list_inner_product(qe.emb, qe.emb) * list_inner_product(ce.emb, ce.emb)), 6) AS cos
        FROM cand JOIN e qe ON qe.vec_id = cand.vec_id JOIN e ce ON ce.vec_id = cand.n_vec_id)
      SELECT vec_id, rn, n_vec_id, cos FROM (
        SELECT vec_id, n_vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, n_vec_id ASC) AS rn
        FROM scored)
      WHERE rn <= 3
      ORDER BY vec_id, rn
    """.trim
  }

  // ---- q_vec_pq: product quantization, training included --------------

  /** The per-subspace portable plane lookup: CASE on m over the 8-dim
    * integer weight lists (mirrors Spark's element_at(array(perM), m+1)).
    */
  private def pqPlaneCase(b: Int, family: Long): String =
    "CASE m " + (0 until VectorQueries.PqM).map { mi =>
      val lst = graft.functions.PortablePlanes
        .weights(mi, b, VectorQueries.PqBits, family, VectorQueries.PqSub)
        .map(_.toLong).mkString("[", ", ", "]")
      s"WHEN $mi THEN CAST($lst AS DOUBLE[])"
    }.mkString(" ") + " END"

  private def pqSigSql(family: Long): String =
    (0 until VectorQueries.PqBits).map { b =>
      s"(CASE WHEN ROUND(list_inner_product(sub, ${pqPlaneCase(b, family)}), 6) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("\n             + ")

  /** Sequential-fold squared L2 over `n`-element double lists — the
    * q_vec_quantize-proven list_sum parity with Spark's zip_with fold.
    */
  private def l2Sql(a: String, b: String, n: Int): String =
    s"list_sum(list_transform(range($n), i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])))"

  /** q_vec_pq end to end: portable sign-bucket PQ codebook training
    * (scaled-long exact 8-dim means), nearest-code assignment, per-query
    * ADC LUT with order-free decimal sums, 200-deep shortlist, exact L2
    * re-rank top-5.
    */
  /** The PQ training + encoding chain (needs the `e` CTE): subvectors,
    * portable sign buckets, exact 8-dim means → `cb`, nearest-code
    * assignment → `codes`, per-query LUT with decimal entries.
    */
  private def pqChain(family: Long, trainWhere: String = ""): String =
    s"""subs AS (SELECT vec_id, mm.m, emb[mm.m * 8 + 1 : mm.m * 8 + 8] AS sub
               FROM e CROSS JOIN (SELECT unnest(range(${VectorQueries.PqM})) AS m) mm),
      coded AS (SELECT vec_id, m, sub,
               ${pqSigSql(family)} AS bucket
               FROM subs),
      cbx AS (SELECT m, bucket, dd.i AS dim, CAST(sub[dd.i + 1] * $Scale AS BIGINT) AS sv
              FROM coded CROSS JOIN (SELECT unnest(range(${VectorQueries.PqSub})) AS i) dd $trainWhere),
      cmean AS (SELECT m, bucket, dim,
                  ROUND(CAST(SUM(sv) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * $Scale), 6) AS cv
                FROM cbx GROUP BY m, bucket, dim),
      cb AS (SELECT m, bucket AS code, list(cv ORDER BY dim) AS c_sub FROM cmean GROUP BY m, bucket),
      codes AS (SELECT vec_id, m, code FROM (
          SELECT s.vec_id, s.m, c.code,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY ${l2Sql("s.sub", "c.c_sub", VectorQueries.PqSub)} ASC, c.code ASC) AS rn
          FROM subs s JOIN cb c ON c.m = s.m) WHERE rn = 1),
      lut AS (SELECT s.vec_id AS q_vec_id, s.m, c.code,
                CAST(ROUND(${l2Sql("s.sub", "c.c_sub", VectorQueries.PqSub)}, 8) AS DECIMAL(18,8)) AS d
              FROM subs s JOIN cb c ON c.m = s.m WHERE s.vec_id < 10)"""

  private def pqRerankTail(shortCte: String): String =
    s"""exact AS (
        SELECT s.q_vec_id, s.vec_id AS n_vec_id,
               ROUND(${l2Sql("qe.emb", "ne.emb", 64)}, 6) AS dist
        FROM $shortCte s JOIN e qe ON qe.vec_id = s.q_vec_id JOIN e ne ON ne.vec_id = s.vec_id)
      SELECT q_vec_id, rn, n_vec_id, dist FROM (
        SELECT q_vec_id, n_vec_id, dist,
               ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY dist ASC, n_vec_id ASC) AS rn
        FROM exact)
      WHERE rn <= 5
      ORDER BY q_vec_id, rn"""

  def pqSql(family: Long): String =
    s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      ${pqChain(family)},
      adc AS (SELECT l.q_vec_id, co.vec_id, ROUND(CAST(SUM(l.d) AS DOUBLE), 6) AS adist
              FROM codes co JOIN lut l ON l.m = co.m AND l.code = co.code AND co.vec_id != l.q_vec_id
              GROUP BY l.q_vec_id, co.vec_id),
      short AS (SELECT q_vec_id, vec_id FROM (
          SELECT q_vec_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY adist ASC, vec_id ASC) AS srn
          FROM adc) WHERE srn <= ${VectorQueries.PqShortlist}),
      ${pqRerankTail("short")}
    """.trim

  /** q_ann_ivfpq end to end: the SAME coarse chain as q_ann_ivf (they
    * consume one persisted codebook), L2 2-way corpus assignment ×
    * 4-probe queries restricting the ADC scan to probed lists, the SAME
    * PQ chain as q_vec_pq (shared codebook family), 400-deep shortlist,
    * exact L2 re-rank.
    */
  def ivfPqSql(family: Long): String =
    s"""
      WITH ${coarseChain()},
      ${pqChain(family)},
      ${ivfPqTail()}
    """.trim

  /** q_ann_ivfpq_incr: the SAME query path over an index whose TRAINING
    * is frozen on the standing slice (vec_id % sliceMod != 0) — coarse
    * codebook, Lloyd refinements, and PQ bucket means all restricted to
    * the old corpus, while assignment/encoding/search run corpus-wide
    * (frozen-artifact union of old + fresh = assigning everyone against
    * the frozen codebooks, which is exactly what the Spark side's
    * persisted-artifact union computes).
    */
  def ivfPqIncrSql(family: Long, sliceMod: Int): String =
    s"""
      WITH ${coarseChain(s"WHERE e.vec_id % $sliceMod != 0", s"WHERE d.vec_id % $sliceMod != 0")},
      ${pqChain(family, s"WHERE coded.vec_id % $sliceMod != 0")},
      ${ivfPqTail()}
    """.trim

  private def ivfPqTail(): String =
    s"""lassigned AS (SELECT vec_id, c_id FROM (
          SELECT e.vec_id, b.c_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ${l2Sql("e.emb", "b.c_emb", 64)} ASC, b.c_id ASC) AS rn
          FROM e CROSS JOIN cb2 b) WHERE rn <= 2),
      lprobes AS (SELECT vec_id AS q_vec_id, c_id FROM (
          SELECT e.vec_id, b.c_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ${l2Sql("e.emb", "b.c_emb", 64)} ASC, b.c_id ASC) AS rn
          FROM e CROSS JOIN cb2 b WHERE e.vec_id < 10) WHERE rn <= 4),
      cands AS (SELECT DISTINCT p.q_vec_id, a.vec_id
                FROM lassigned a JOIN lprobes p ON a.c_id = p.c_id AND a.vec_id != p.q_vec_id),
      adc AS (SELECT l.q_vec_id, co.vec_id, ROUND(CAST(SUM(l.d) AS DOUBLE), 6) AS adist
              FROM cands JOIN codes co ON co.vec_id = cands.vec_id
              JOIN lut l ON l.q_vec_id = cands.q_vec_id AND l.m = co.m AND l.code = co.code
              GROUP BY l.q_vec_id, co.vec_id),
      short AS (SELECT q_vec_id, vec_id FROM (
          SELECT q_vec_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY adist ASC, vec_id ASC) AS srn
          FROM adc) WHERE srn <= ${2 * VectorQueries.PqShortlist}),
      ${pqRerankTail("short")}""".stripMargin
}
