package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorOps
import graft.sources.GraftFs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph analytics over the corpus similarity graph — the
  * structure-quality probes a training-data pipeline runs on its
  * document/link graph: triangle census (how clique-y is each region —
  * near-dup boilerplate families show up as dense triangles) and label
  * propagation community detection (Raghavan et al. 2007 — topical
  * grouping without a vector-space k).
  *
  * Both operators are EDGE-SOURCE-AGNOSTIC cores (the pagerankOnEdges
  * discipline): here they consume the exact within-label kNN top-3 edges
  * (quadratic per label — that is what makes the DuckDB oracle possible;
  * the same deliberate-baseline grade as q_vec_knn_graph), and at 100 TB
  * the edge frame swaps for the sub-quadratic LSH/IVF candidate graphs
  * (q_vec_knn_graph_lsh/_ivf) with the downstream plan unchanged —
  * everything after edge construction is linear in edges (one distinct,
  * hash aggregates, and for triangles a two-hop join whose volume is
  * Σ deg² — bounded by k·|E| on a k-NN graph).
  */
object GraphQueries {

  /** Shared SQL: exact within-label kNN top-3 edges, undirected-ized
    * (a < b, distinct) — mirrors q_vec_knn_graph's oracle CTEs. Terminal
    * CTE names (knn/edges/und) match VectorQueries.PortableLshEdgeSql, so
    * every operator body below runs unchanged over either edge source —
    * the edge-source-agnostic discipline, now in the ORACLES too.
    */
  private val UndirectedEdgeSql =
    """e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |scored AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |         ROUND(list_inner_product(a.emb, b.emb)
      |               / sqrt(list_inner_product(a.emb, a.emb) * list_inner_product(b.emb, b.emb)), 6) AS cos
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id),
      |knn AS (
      |  SELECT src, dst, cos, rn FROM (
      |    SELECT src, dst, cos, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
      |    FROM scored) WHERE rn <= 3),
      |edges AS (SELECT src, dst FROM knn),
      |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM edges)""".stripMargin

  /** Exact within-label kNN top-3 directed edges (src, dst) — the same
    * construction as q_vec_knn_graph / q_vec_pagerank.
    */
  private[graft] def exactKnnEdges(e: DataFrame): DataFrame = {
    val a = e.select(col("label"), col("vec_id"), col("embedding"))
    val b = e.select(col("label").as("label2"), col("vec_id").as("dst"),
      col("embedding").as("n_emb"))
    val scored = a.join(b, col("label") === col("label2") && col("vec_id") =!= col("dst"))
      .withColumn("cos", round(VectorOps.cosine(col("embedding"), col("n_emb")), 6))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("dst"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("vec_id").as("src"), col("dst"))
  }

  /** Undirected-ize a directed edge frame: distinct (a < b) pairs. */
  private[graft] def undirected(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()

  /** Triangle census core: per label — nodes, undirected edges, wedges
    * (open two-paths, Σ d(d−1)/2) and triangles, plus the global
    * clustering coefficient 3T/W. Triangles enumerate each a<b<c once
    * via the ordered two-hop join; on a k-NN graph the two-hop volume is
    * ≤ k·|E|, so the census is linear in edges for fixed k.
    *
    * Edges/triangles attribute to the min-endpoint's label while wedges
    * come from each node's own degree — consistent ONLY when every edge
    * joins same-label endpoints, so the core ENFORCES that by filtering
    * the edge frame against `labels` (two skinny joins): a candidate
    * graph with cross-label edges (an unconstrained LSH/IVF source) is
    * trimmed to its within-label subgraph instead of silently
    * misattributing counts (per-label clustering could exceed 1).
    */
  private[graft] def trianglesOnEdges(labels: DataFrame, edges: DataFrame): DataFrame = {
    val lab = labels.select(col("vec_id"), col("label"))
    val sameLabel = undirected(edges)
      .join(lab.select(col("vec_id").as("a"), col("label").as("la")), "a")
      .join(lab.select(col("vec_id").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb")).select("a", "b")
    val und = sameLabel.localCheckpoint()
    val sym = und.select(col("a").as("v"), col("b").as("u"))
      .union(und.select(col("b").as("v"), col("a").as("u")))
    val deg = sym.groupBy("v").agg(count(lit(1)).as("d"))
    val nodeStats = lab.join(deg, col("vec_id") === col("v"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("d") * (col("d") - 1) / 2, lit(0L))).cast(LongType).as("n_wedges"))
    val edgeStats = und.join(lab, col("a") === col("vec_id"))
      .groupBy("label").agg(count(lit(1)).as("n_edges"))
    val e2 = und.select(col("a").as("b2"), col("b").as("c"))
    val e3 = und.select(col("a").as("a3"), col("b").as("c3"))
    val tri = und.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"))
    val triStats = tri.join(lab, col("a") === col("vec_id"))
      .groupBy("label").agg(count(lit(1)).as("n_triangles"))
    nodeStats.join(edgeStats, Seq("label"), "left").join(triStats, Seq("label"), "left")
      .select(col("label"),
        col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        col("n_wedges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(round(lit(3.0) * coalesce(col("n_triangles"), lit(0L)) / col("n_wedges"), 6))
          .as("clustering"))
      .orderBy("label")
  }

  /** Census body over whatever prelude supplied `und` (+ embeddings). */
  private val TrianglesBodySql =
    """sym AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
      |deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
      |ns AS (
      |  SELECT label, COUNT(*) AS n_nodes,
      |         CAST(SUM(COALESCE(d * (d - 1) / 2, 0)) AS BIGINT) AS n_wedges
      |  FROM embeddings LEFT JOIN deg ON vec_id = v GROUP BY label),
      |es AS (
      |  SELECT label, COUNT(*) AS n_edges
      |  FROM und JOIN embeddings ON a = vec_id GROUP BY label),
      |tri AS (
      |  SELECT e1.a
      |  FROM und e1 JOIN und e2 ON e2.a = e1.b
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |ts AS (
      |  SELECT label, COUNT(*) AS n_triangles
      |  FROM tri JOIN embeddings ON a = vec_id GROUP BY label)
      |SELECT ns.label AS label, n_nodes,
      |       COALESCE(n_edges, 0) AS n_edges, n_wedges,
      |       COALESCE(n_triangles, 0) AS n_triangles,
      |       CASE WHEN n_wedges = 0 THEN 0.0
      |            ELSE ROUND(3.0 * COALESCE(n_triangles, 0) / n_wedges, 6) END AS clustering
      |FROM ns LEFT JOIN es ON ns.label = es.label LEFT JOIN ts ON ns.label = ts.label
      |ORDER BY label""".stripMargin

  val graphTriangles = QueryDef(
    "q_graph_triangles",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      trianglesOnEdges(e.select("vec_id", "label"), exactKnnEdges(e))
    },
    Some(s"WITH $UndirectedEdgeSql,\n$TrianglesBodySql"),
  )

  /** The registered sub-quadratic twin: identical census over the
    * PERSISTED portable-LSH kNN edge graph (the r8 verdict's top item —
    * the graph family's 100 TB path, end-to-end and oracle-checked: the
    * DuckDB side rebuilds the LSH edges from scratch, so this also
    * proves the persisted graph matches a fresh build). GraphOpsSpec
    * bounds census agreement with the exact twin.
    */
  val graphTrianglesLsh = QueryDef(
    "q_graph_triangles_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      trianglesOnEdges(e.select("vec_id", "label"),
        VectorQueries.lshKnnEdgesPersisted(s, dir)
          .select(col("vec_id").as("src"), col("n_vec_id").as("dst")))
    },
    Some(s"WITH ${VectorQueries.PortableLshEdgeSql},\n$TrianglesBodySql"),
  )

  /** Label-propagation core: 3 synchronous rounds of
    * c(v) ← mode{c(u) : u ~ v} (count desc, label asc tiebreak — the
    * deterministic variant of Raghavan's random-order LPA), init
    * c(v) = v. Each round is one skinny edge⋈label join + a per-node
    * mode (two hash aggregates / a count + row_number window) — linear
    * in edges. Symmetric edges are materialized once and reused across
    * rounds (the pagerankOnEdges lineage discipline).
    */
  private[graft] def labelPropOnEdges(nodes: DataFrame, edges: DataFrame,
      iters: Int = 3): DataFrame = {
    val und = undirected(edges)
    val sym = und.select(col("a").as("v"), col("b").as("u"))
      .union(und.select(col("b").as("v"), col("a").as("u")))
      .repartition(col("u")).localCheckpoint()
    var c = nodes.select(col("vec_id").as("node"), col("vec_id").as("comm"))
    for (_ <- 1 to iters) {
      val counts = sym.join(c, col("u") === col("node"))
        .groupBy(col("v"), col("comm")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("v").orderBy(desc("n"), asc("comm"))
      c = counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("v").as("node"), col("comm"))
    }
    // isolated nodes (a singleton label has no edges) keep their own id
    nodes.join(c, col("vec_id") === col("node"), "left")
      .select(col("vec_id"), coalesce(col("comm"), col("vec_id")).as("community"))
      .orderBy("vec_id")
  }

  private def lpaIterSql(k: Int): String =
    s"""nc$k AS (
       |  SELECT s.v, c.comm, COUNT(*) AS n
       |  FROM sym s JOIN c${k - 1} c ON c.node = s.u
       |  GROUP BY s.v, c.comm),
       |c$k AS (
       |  SELECT v AS node, comm FROM (
       |    SELECT v, comm, ROW_NUMBER() OVER (PARTITION BY v ORDER BY n DESC, comm ASC) AS rn
       |    FROM nc$k) WHERE rn = 1)""".stripMargin

  private def labelpropBodySql =
    s"""sym AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
       |c0 AS (SELECT vec_id AS node, vec_id AS comm FROM embeddings),
       |${lpaIterSql(1)},
       |${lpaIterSql(2)},
       |${lpaIterSql(3)}
       |SELECT vec_id, COALESCE(comm, vec_id) AS community
       |FROM embeddings LEFT JOIN c3 ON vec_id = node
       |ORDER BY vec_id""".stripMargin

  val graphLabelprop = QueryDef(
    "q_graph_labelprop",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      labelPropOnEdges(e.select("vec_id"), exactKnnEdges(e))
    },
    Some(s"WITH $UndirectedEdgeSql,\n$labelpropBodySql"),
  )

  /** Deterministic LPA over the persisted portable-LSH edge graph — the
    * registered scale twin (same sync-mode core, sub-quadratic edges,
    * full oracle). GraphOpsSpec bounds community agreement vs exact.
    */
  val graphLabelpropLsh = QueryDef(
    "q_graph_labelprop_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      labelPropOnEdges(e.select("vec_id"),
        VectorQueries.lshKnnEdgesPersisted(s, dir)
          .select(col("vec_id").as("src"), col("n_vec_id").as("dst")))
    },
    Some(s"WITH ${VectorQueries.PortableLshEdgeSql},\n$labelpropBodySql"),
  )

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003):
    * the top-20 non-adjacent node pairs ranked by neighborhood Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)| — the "these two documents should be
    * related" signal a curation pipeline uses to audit cluster
    * boundaries. Candidates are ONLY two-hop pairs (one self-join of the
    * symmetric edge list on the shared endpoint — Σdeg² ≤ k·|E| volume
    * on a k-NN graph, never all pairs); existing edges leave via an
    * anti-join; Jaccard is exact integer arithmetic with the ratio
    * rounded for display/ranking.
    */
  /** The edge-source-agnostic core: top-20 non-adjacent pairs by
    * neighborhood Jaccard over two-hop candidates only.
    */
  private[graft] def linkpredOnEdges(edges: DataFrame, k: Int = 20): DataFrame = {
    val und = undirected(edges).localCheckpoint()
    val sym = und.select(col("a").as("v"), col("b").as("u"))
      .union(und.select(col("b").as("v"), col("a").as("u")))
    val deg = sym.groupBy("v").agg(count(lit(1)).as("d"))
    // two-hop candidates through the shared neighbor u: ordered (x < y)
    val hop = sym.select(col("u"), col("v").as("x"))
      .join(sym.select(col("u").as("u2"), col("v").as("y")),
        col("u") === col("u2") && col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("common"))
    val cand = hop.join(und,
        col("x") === col("a") && col("y") === col("b"), "left_anti")
    cand
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
      .select(col("x"), col("y"), col("common"),
        round(col("common").cast(DoubleType) /
          (col("dx") + col("dy") - col("common")), 6).as("jaccard"))
      .orderBy(desc("jaccard"), asc("x"), asc("y"))
      .limit(k)
  }

  private val LinkpredBodySql =
    """sym AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
      |deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
      |hop AS (
      |  SELECT s1.v AS x, s2.v AS y, COUNT(*) AS common
      |  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
      |  GROUP BY s1.v, s2.v),
      |cand2 AS (
      |  SELECT x, y, common FROM hop
      |  WHERE NOT EXISTS (SELECT 1 FROM und WHERE a = x AND b = y))
      |SELECT x, y, common,
      |       ROUND(CAST(common AS DOUBLE) / (dx.d + dy.d - common), 6) AS jaccard
      |FROM cand2 JOIN deg dx ON dx.v = x JOIN deg dy ON dy.v = y
      |ORDER BY jaccard DESC, x ASC, y ASC
      |LIMIT 20""".stripMargin

  val graphLinkpred = QueryDef(
    "q_graph_linkpred",
    (s, dir) => linkpredOnEdges(exactKnnEdges(Tables.embeddings(s, dir))),
    Some(s"WITH $UndirectedEdgeSql,\n$LinkpredBodySql"),
  )

  /** Link prediction over the persisted portable-LSH edge graph — the
    * registered scale twin (two-hop volume Σdeg² ≤ k·|E| on the k-NN
    * graph regardless of edge source). GraphOpsSpec bounds top-pair
    * agreement vs exact.
    */
  val graphLinkpredLsh = QueryDef(
    "q_graph_linkpred_lsh",
    (s, dir) =>
      linkpredOnEdges(VectorQueries.lshKnnEdgesPersisted(s, dir)
        .select(col("vec_id").as("src"), col("n_vec_id").as("dst"))),
    Some(s"WITH ${VectorQueries.PortableLshEdgeSql},\n$LinkpredBodySql"),
  )

  /** kNN-distance outlier scoring (the Ramaswamy/Angiulli "distance to
    * k-th / mean-of-k neighbors" rule — the embedding-space data-quality
    * signal that flags mislabeled or corrupted vectors): each vector's
    * outlier score is the mean cosine DISTANCE (1 − cos) to its top-3
    * within-label neighbors; the top-20 by score surface for audit.
    * Pure composition on the kNN edge construction (one aggregate over
    * the edge frame) — the LSH/IVF candidate edges swap in at scale
    * like every other consumer of the graph.
    */
  /** The edge-source-agnostic core: mean 1−cos over each vector's kNN
    * rows (vec_id, cos), labels joined for display, top-20 surfaced.
    */
  private[graft] def outliersOnKnn(labels: DataFrame, knn: DataFrame): DataFrame = {
    val scores = knn.groupBy(col("vec_id"))
      .agg(round(sum(lit(1.0) - col("cos")) / count(lit(1)), 6).as("outlier_score"))
      .join(labels.select(col("vec_id"), col("label")), "vec_id")
    val wTop = Window.orderBy(desc("outlier_score"), asc("vec_id"))
    scores.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 20)
      .select("rank", "vec_id", "label", "outlier_score")
      .orderBy("rank")
  }

  private val OutliersBodySql =
    """sc AS (
      |  SELECT e.vec_id, e.label,
      |         ROUND(SUM(1.0 - k.cos) / COUNT(*), 6) AS outlier_score
      |  FROM knn k JOIN embeddings e ON e.vec_id = k.src
      |  GROUP BY e.vec_id, e.label)
      |SELECT rank, vec_id, label, outlier_score FROM (
      |  SELECT vec_id, label, outlier_score,
      |         ROW_NUMBER() OVER (ORDER BY outlier_score DESC, vec_id ASC) AS rank
      |  FROM sc)
      |WHERE rank <= 20
      |ORDER BY rank""".stripMargin

  val graphOutliers = QueryDef(
    "q_vec_outliers",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val a = e.select(col("label"), col("vec_id"), col("embedding"))
      val b = e.select(col("label").as("label2"), col("vec_id").as("dst"),
        col("embedding").as("n_emb"))
      val scored = a.join(b, col("label") === col("label2") && col("vec_id") =!= col("dst"))
        .withColumn("cos", round(VectorOps.cosine(col("embedding"), col("n_emb")), 6))
      val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("dst"))
      val knn = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      outliersOnKnn(e.select("vec_id", "label"), knn.select("vec_id", "cos"))
    },
    Some(s"WITH $UndirectedEdgeSql,\n$OutliersBodySql"),
  )

  /** kNN-distance outliers over the persisted portable-LSH graph — the
    * registered scale twin (one aggregate over the maintained edge
    * frame; zero re-scoring). GraphOpsSpec bounds top-set agreement.
    */
  val graphOutliersLsh = QueryDef(
    "q_vec_outliers_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      outliersOnKnn(e.select("vec_id", "label"),
        VectorQueries.lshKnnEdgesPersisted(s, dir).select("vec_id", "cos"))
    },
    Some(s"WITH ${VectorQueries.PortableLshEdgeSql},\n$OutliersBodySql"),
  )

  /** The persisted-LSH undirected edge frame (a < b, distinct) — the
    * edge source every `_lsh` graph operator consumes; exposed for the
    * spec's driver-side recounts.
    */
  private[graft] def lshUndirectedEdges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    undirected(VectorQueries.lshKnnEdgesPersisted(s, dir)
      .select(col("vec_id").as("src"), col("n_vec_id").as("dst")))

  /** Component labels of the persisted LSH graph, persisted per scale
    * dir — the clusterLabelsPersisted amortization contract applied to
    * the similarity graph: a deployment runs CC ONCE per corpus/graph
    * snapshot and every consumer reads the label table. Labels are
    * deterministic (min-reachable id) and oracle-matched, so the parquet
    * is engine-exact; the path carries the CC version (cc1) plus the
    * edge family config (via the shared graft-ivf tag dir), so a family
    * change can never serve stale labels.
    */
  private[graft] def componentLabelsPersisted(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    GraftFs.persisted(s, dir, tag =>
        s"target/graft-ivf/$tag/components_cc1_p${VectorQueries.GraphLshTables}x${VectorQueries.GraphLshBits}r${VectorQueries.GraphLshRadius}") {
      DedupQueries.connectedComponents(
        Tables.embeddings(s, dir).select(col("vec_id").as("doc_id")),
        lshUndirectedEdges(s, dir).select(col("a").as("doc_id1"), col("b").as("doc_id2")))
    }

  /** Connected components of the persisted portable-LSH kNN graph — the
    * "how many similarity islands does this corpus have" census (cluster
    * count drives mixture decisions; giant-component emergence flags
    * boilerplate floods). Exposes the min-label pointer-jumping CC core
    * ([[DedupQueries.connectedComponents]] — O(log D) rounds, lineage
    * cut per round) as a first-class graph operator; the labels come
    * from the PERSISTED table ([[componentLabelsPersisted]], built once
    * per corpus snapshot), and this query prices the size census + join
    * back (one hash aggregate + broadcast join). Full oracle: DuckDB
    * rebuilds everything from scratch — LSH edges, then min-reachable-id
    * labels through a recursive CTE (the q_dedup_canonical closure
    * recipe) — so the hash-compare also proves persisted ≡ fresh every
    * round.
    */
  val graphComponentsLsh = QueryDef(
    "q_graph_components_lsh",
    (s, dir) => {
      val labels = componentLabelsPersisted(s, dir)
      val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("component_size"))
      labels.join(broadcast(sizes), "cluster_id")
        .select(col("doc_id").as("vec_id"), col("cluster_id").as("component"),
          col("component_size"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH RECURSIVE ${VectorQueries.PortableLshEdgeSql},
      bi AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      reach(a, b) AS (
        SELECT a, b FROM bi
        UNION
        SELECT r.a, e2.b FROM reach r JOIN bi e2 ON r.b = e2.a),
      lbl AS (
        SELECT vec_id, LEAST(vec_id, COALESCE(MIN(r.b), vec_id)) AS component
        FROM embeddings LEFT JOIN reach r ON vec_id = r.a
        GROUP BY vec_id),
      sizes AS (SELECT component, COUNT(*) AS component_size FROM lbl GROUP BY component)
      SELECT vec_id, lbl.component, component_size
      FROM lbl JOIN sizes ON lbl.component = sizes.component
      ORDER BY vec_id
    """.trim),
  )

  /** One-row health summary of the persisted LSH similarity graph — the
    * dashboard numbers a corpus pipeline alerts on between full analytics
    * runs: size (nodes/edges/degrees), fragmentation (component count +
    * giant-component fraction — a rising giant fraction is the boilerplate
    * flood signal), and degree assortativity (Newman 2002 — do hubs link
    * hubs? near-dup families flip it positive). Everything reduces to
    * integer sums over the edge list: degrees are counts, assortativity's
    * Pearson r comes from the five exact integer moments of the directed
    * edge list (Σx, Σxy, Σx² with x = deg(src), y = deg(dst); symmetric,
    * so Σx=Σy), and only the final divisions touch doubles (round 6 —
    * cross-engine exact from identical integer inputs). Components read
    * the persisted label table; one scan of a 2-column edge frame plus
    * 1-row crossJoins. Scale: every aggregate is a map-side-combined sum;
    * nothing materializes beyond the degree table.
    */
  val graphStatsLsh = QueryDef(
    "q_graph_stats_lsh",
    (s, dir) => {
      val und = lshUndirectedEdges(s, dir).localCheckpoint()
      val sym = und.select(col("a").as("v"), col("b").as("u"))
        .union(und.select(col("b").as("v"), col("a").as("u")))
      val deg = sym.groupBy("v").agg(count(lit(1)).as("d"))
      val base = Tables.embeddings(s, dir).agg(count(lit(1)).as("n_nodes"))
        .crossJoin(und.agg(count(lit(1)).as("n_edges")))
        .crossJoin(deg.agg(max(col("d")).as("max_degree")))
      val comp = componentLabelsPersisted(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_components"), max(col("sz")).as("giant_size"))
      // assortativity moments: directed edge list joined to both endpoint
      // degrees; x = deg(v), y = deg(u); by symmetry Σx=Σy and Σx²=Σy²
      val dl = deg.select(col("v"), col("d").as("x"))
      val dr = deg.select(col("v").as("u"), col("d").as("y"))
      val mom = sym.join(dl, Seq("v")).join(dr, Seq("u"))
        .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      base.crossJoin(broadcast(comp)).crossJoin(broadcast(mom))
        .select(
          col("n_nodes"), col("n_edges"),
          round(col("n_edges") * lit(2).cast(DoubleType) / col("n_nodes"), 6).as("avg_degree"),
          col("max_degree"), col("n_components"), col("giant_size"),
          round(col("giant_size").cast(DoubleType) / col("n_nodes"), 6).as("giant_frac"),
          round((col("m") * col("sxy") - col("sx") * col("sx")).cast(DoubleType)
            / (col("m") * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 6)
            .as("assortativity"))
    },
    Some(s"""
      WITH RECURSIVE ${VectorQueries.PortableLshEdgeSql},
      sym AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
      deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
      reach(a, b) AS (
        SELECT v, u FROM sym
        UNION
        SELECT r.a, s2.u FROM reach r JOIN sym s2 ON r.b = s2.v),
      lbl AS (
        SELECT vec_id, LEAST(vec_id, COALESCE(MIN(r.b), vec_id)) AS component
        FROM embeddings LEFT JOIN reach r ON vec_id = r.a
        GROUP BY vec_id),
      comp AS (SELECT COUNT(*) AS n_components, MAX(sz) AS giant_size FROM
        (SELECT component, COUNT(*) AS sz FROM lbl GROUP BY component)),
      mom AS (
        SELECT COUNT(*) AS m, SUM(dx.d) AS sx, SUM(dx.d * dy.d) AS sxy,
               SUM(dx.d * dx.d) AS sxx
        FROM sym JOIN deg dx ON sym.v = dx.v JOIN deg dy ON sym.u = dy.v),
      base AS (
        SELECT (SELECT COUNT(*) FROM embeddings) AS n_nodes,
               (SELECT COUNT(*) FROM und) AS n_edges,
               (SELECT MAX(d) FROM deg) AS max_degree)
      SELECT n_nodes, n_edges,
             ROUND(n_edges * 2.0 / n_nodes, 6) AS avg_degree,
             max_degree, n_components, giant_size,
             ROUND(CAST(giant_size AS DOUBLE) / n_nodes, 6) AS giant_frac,
             ROUND(CAST(m * sxy - sx * sx AS DOUBLE)
                   / CAST(m * sxx - sx * sx AS DOUBLE), 6) AS assortativity
      FROM base, comp, mom
    """.trim),
  )

  /** Landmark count / hop cap for q_graph_closeness_lsh — part of the
    * operator contract (distances are "within HopCap hops of the
    * Landmarks-sized portable sample"), so both engines run the same
    * bounded computation.
    */
  private val ClosenessLandmarks = 8
  private val ClosenessHopCap = 10

  /** Landmark-approximated harmonic closeness centrality over the
    * persisted LSH graph — "which documents sit central in their
    * similarity neighborhood" at corpus scale: exact all-pairs closeness
    * is O(V·E) and dead at 100 TB, so the standard scale path (HyperBall
    * -family landmark sampling) runs BFS from a small fixed landmark set
    * and scores each node by the harmonic sum Σ 1/d over landmarks reached.
    * Landmarks are the 8 smallest composed-affine-scramble priorities
    * (the q_sample_reservoir scheme — engine-reproducible, id-structure
    * -free); BFS is frontier relaxation with early exit, ≤ HopCap rounds
    * of one skinny join + anti-join each (frontier rows ≤ landmarks ×
    * nodes, never corpus²). Harmonic contributions land as 8dp decimals
    * (the bm25 recipe) so the sum is order-free cross-engine; the oracle
    * replays the BFS as a depth-capped recursive CTE with MIN(d).
    */
  /** The edge-source-agnostic core: landmark-BFS harmonic closeness over
    * an undirected (a,b) edge frame. Landmarks are the `landmarks`
    * smallest composed-affine-scramble priorities of the node id (the
    * q_sample_reservoir scheme — engine-reproducible, id-structure-free);
    * BFS is frontier relaxation with early exit, ≤ hopCap rounds of one
    * skinny join + anti-join (frontier rows ≤ landmarks × nodes, never
    * corpus²); harmonic Σ1/d contributions land as 8dp decimals (the bm25
    * recipe) so the sum is order-free across shuffles AND engines.
    */
  private[graft] def closenessOnEdges(nodes: DataFrame, und: DataFrame,
      landmarkCount: Int = ClosenessLandmarks,
      hopCap: Int = ClosenessHopCap): DataFrame = {
    val ph = graft.functions.PortableHash
    val sym = und.select(col("a").as("sv"), col("b").as("su"))
      .union(und.select(col("b").as("sv"), col("a").as("su")))
      .localCheckpoint()
    val pr = ((ph.idMod(col("vec_id")) * ph.Scramble1Mul + ph.Scramble1Add) % ph.SeedMod
      * ph.Scramble2Mul + ph.Scramble2Add) % ph.SeedMod
    val landmarks = nodes.select(col("vec_id").as("l"), pr.as("priority"))
      .orderBy(asc("priority"), asc("l")).limit(landmarkCount)
      .select("l").localCheckpoint()
    var dist = landmarks.select(col("l"), col("l").as("v"), lit(0).as("d"))
      .localCheckpoint()
    var frontier = dist
    var hop = 0
    while (hop < hopCap && !frontier.isEmpty) {
      hop += 1
      val cand = frontier.join(sym, frontier("v") === sym("sv"))
        .select(frontier("l"), col("su").as("v"), lit(hop).as("d"))
        .distinct()
      // BFS by level: first sight IS the min distance
      frontier = cand.join(dist.select("l", "v"), Seq("l", "v"), "left_anti")
        .localCheckpoint()
      dist = dist.unionByName(frontier).localCheckpoint()
    }
    val agg = dist.filter(col("d") >= 1)
      .groupBy(col("v").as("vec_id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(round(lit(1.0) / col("d"), 8).cast(DecimalType(18, 8))).as("h"))
    nodes.join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        round(coalesce(col("h"), lit(0).cast(DecimalType(18, 8)))
          .cast(DoubleType), 6).as("harmonic"))
      .orderBy("vec_id")
  }

  val graphClosenessLsh = QueryDef(
    "q_graph_closeness_lsh",
    (s, dir) => closenessOnEdges(
      Tables.embeddings(s, dir).select("vec_id"),
      lshUndirectedEdges(s, dir).localCheckpoint()),
    Some {
      val ph = graft.functions.PortableHash
      s"""
      WITH RECURSIVE ${VectorQueries.PortableLshEdgeSql},
      sym AS (SELECT a AS sv, b AS su FROM und UNION ALL SELECT b, a FROM und),
      lm AS (
        SELECT vec_id AS l FROM (
          SELECT vec_id,
                 ((${ph.idModSql("vec_id")} * ${ph.Scramble1Mul} + ${ph.Scramble1Add}) % ${ph.SeedMod}
                   * ${ph.Scramble2Mul} + ${ph.Scramble2Add}) % ${ph.SeedMod} AS priority
          FROM embeddings)
        ORDER BY priority ASC, vec_id ASC LIMIT $ClosenessLandmarks),
      walk(l, v, d) AS (
        SELECT l, l, 0 FROM lm
        UNION
        SELECT w.l, s.su, w.d + 1 FROM walk w JOIN sym s ON w.v = s.sv
        WHERE w.d < $ClosenessHopCap),
      dist AS (SELECT l, v, MIN(d) AS d FROM walk GROUP BY l, v),
      agg AS (
        SELECT v AS vec_id, COUNT(*) AS n_reached,
               SUM(CAST(ROUND(1.0 / d, 8) AS DECIMAL(18, 8))) AS h
        FROM dist WHERE d >= 1 GROUP BY v)
      SELECT e.vec_id, COALESCE(n_reached, 0) AS n_reached,
             ROUND(CAST(COALESCE(h, 0) AS DOUBLE), 6) AS harmonic
      FROM embeddings e LEFT JOIN agg ON e.vec_id = agg.vec_id
      ORDER BY e.vec_id
      """.trim
    },
  )

  /** Newman modularity (Newman & Girvan 2004) of the LPA communities
    * over the persisted LSH similarity graph — the "are these communities
    * real structure or noise" score a curation pipeline gates cluster-
    * based decisions on: per community c, Q_c = e_c/m − (d_c/2m)² where
    * e_c = internal undirected edges, d_c = total degree mass, m = total
    * undirected edges; ΣQ_c near 0 means the partition is no better than
    * a random graph with the same degrees. Everything is exact integer
    * counts (edge counts, degree sums) until the final per-row division
    * (round 6 — the q_graph_stats_lsh moment discipline), so the oracle
    * reproduces it bit-for-bit: DuckDB replays the 3-iteration LPA over
    * its own rebuild of the LSH edges, then the same two joins + sums.
    * Scale: one degree aggregate, one two-join edge labeling, one
    * community aggregate — all hash partials, linear in edges; LPA
    * itself is the already-priced labelPropOnEdges core.
    */
  /** The edge-source-agnostic core: per-community Newman modularity
    * Q_c = e_c/m − (d_c/2m)² over an undirected (a,b) edge frame and a
    * (vec_id, community) label frame — all exact integer moments until
    * the final per-row division (round 6).
    */
  private[graft] def modularityOnEdges(und: DataFrame, lab: DataFrame): DataFrame = {
    val mDf = und.agg(count(lit(1)).as("m"))
    val sym = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
    val deg = sym.groupBy("v").agg(count(lit(1)).as("d"))
    val dc = lab.join(deg, lab("vec_id") === deg("v"), "left")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("d"), lit(0L))).as("total_degree"))
    val la = lab.select(col("vec_id").as("na"), col("community").as("ca"))
    val lb = lab.select(col("vec_id").as("nb"), col("community").as("cb"))
    val ec = und.join(la, col("a") === col("na")).join(lb, col("b") === col("nb"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("internal_edges"))
    dc.join(ec, Seq("community"), "left").crossJoin(mDf)
      .select(col("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("total_degree"),
        round(coalesce(col("internal_edges"), lit(0L)) / col("m").cast(DoubleType)
          - pow(col("total_degree") / (lit(2.0) * col("m")), 2), 6).as("modularity"))
      .orderBy("community")
  }

  val graphModularityLsh = QueryDef(
    "q_graph_modularity_lsh",
    (s, dir) => modularityOnEdges(
      lshUndirectedEdges(s, dir).localCheckpoint(),
      labelPropOnEdges(
          Tables.embeddings(s, dir).select("vec_id"),
          VectorQueries.lshKnnEdgesPersisted(s, dir)
            .select(col("vec_id").as("src"), col("n_vec_id").as("dst")))
        .localCheckpoint()),
    Some(s"""
      WITH ${VectorQueries.PortableLshEdgeSql},
      sym AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
      c0 AS (SELECT vec_id AS node, vec_id AS comm FROM embeddings),
      ${lpaIterSql(1)},
      ${lpaIterSql(2)},
      ${lpaIterSql(3)},
      lab AS (SELECT vec_id, COALESCE(comm, vec_id) AS community
              FROM embeddings LEFT JOIN c3 ON vec_id = node),
      m AS (SELECT COUNT(*) AS m FROM und),
      deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
      dc AS (SELECT community, COUNT(*) AS n_nodes,
                    CAST(SUM(COALESCE(d, 0)) AS BIGINT) AS total_degree
             FROM lab LEFT JOIN deg ON vec_id = v GROUP BY community),
      ec AS (SELECT la.community AS community, COUNT(*) AS internal_edges
             FROM und u JOIN lab la ON u.a = la.vec_id JOIN lab lb ON u.b = lb.vec_id
             WHERE la.community = lb.community GROUP BY la.community)
      SELECT dc.community, n_nodes, COALESCE(internal_edges, 0) AS internal_edges,
             total_degree,
             ROUND(COALESCE(internal_edges, 0) / CAST(m AS DOUBLE)
                   - POWER(total_degree / (2.0 * m), 2), 6) AS modularity
      FROM dc LEFT JOIN ec ON dc.community = ec.community CROSS JOIN m
      ORDER BY dc.community
    """.trim),
  )

  /** Core-point degree threshold for q_vec_dbscan_lsh — part of the
    * operator contract (a node is dense iff it has ≥ MinPts graph
    * neighbors), so both engines classify identically.
    */
  private val DbscanMinPts = 4

  /** DBSCAN (Ester et al. 1996) over the persisted LSH kNN graph — the
    * noise-robust density clustering a curation pipeline uses where
    * SemDeDup-style k-means is too eager: ε-neighborhood = adjacency in
    * the similarity graph (the shared-nearest-neighbor formulation,
    * Ertöz et al. 2003 — scale-free, no raw-distance threshold to tune
    * per corpus), core = degree ≥ MinPts, clusters = connected
    * components of the core-core subgraph labeled by min core id
    * (pointer-jumping CC — O(log D) rounds), border = non-core adjacent
    * to a core (assigned the min adjacent core label — deterministic,
    * unlike visit-order-dependent classic DBSCAN), noise = the rest.
    * Everything is integer graph structure, so the oracle rebuilds the
    * edges and replays the classification with a recursive-CTE closure.
    * Scale: one degree aggregate + CC on the core subgraph + one border
    * join — linear in edges beyond the O(log D) CC rounds.
    */
  /** Min-core-id cluster labels of the DBSCAN core subgraph, persisted
    * per scale dir — the componentLabelsPersisted amortization contract:
    * degree census + core filter + pointer-jumping CC run ONCE per
    * corpus/graph snapshot, consumers read the label table. The path
    * carries the DBSCAN version + MinPts plus the edge family config, so
    * a parameter or family change can never serve stale labels; the
    * oracle rebuilds everything from scratch, proving persisted ≡ fresh
    * every round.
    */
  private[graft] def dbscanCoreLabelsPersisted(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    GraftFs.persisted(s, dir, tag =>
        s"target/graft-ivf/$tag/dbscan_db1_mp${DbscanMinPts}_p${VectorQueries.GraphLshTables}x${VectorQueries.GraphLshBits}r${VectorQueries.GraphLshRadius}") {
      dbscanCoreLabels(lshUndirectedEdges(s, dir).localCheckpoint(), DbscanMinPts)
    }

  /** The core-cluster label build: degree census → core filter (degree ≥
    * minPts) → min-core-id pointer-jumping CC on the core-core subgraph.
    * Returns (doc_id, cluster_id) with one row per CORE node.
    */
  private[graft] def dbscanCoreLabels(und: DataFrame, minPts: Int): DataFrame = {
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val core = deg.filter(col("d") >= minPts).select("v").localCheckpoint()
    val ce = und
      .join(core.select(col("v").as("ca")), col("a") === col("ca"))
      .join(core.select(col("v").as("cb")), col("b") === col("cb"))
      .select(col("a").as("doc_id1"), col("b").as("doc_id2"))
    DedupQueries.connectedComponents(core.select(col("v").as("doc_id")), ce)
  }

  /** The role/assignment fold over a prebuilt core-label frame: core =
    * labeled, border = non-core adjacent to a core (min adjacent core
    * label — deterministic, unlike visit-order classic DBSCAN), noise =
    * the rest (cluster −1).
    */
  private[graft] def dbscanOnEdges(nodes: DataFrame, und: DataFrame,
      coreLabels: DataFrame): DataFrame = {
    val sym = und.select(col("a").as("v"), col("b").as("u"))
      .union(und.select(col("b").as("v"), col("a").as("u")))
    val clab = coreLabels.select(col("doc_id").as("cv"), col("cluster_id"))
    val bord = sym.join(clab, col("u") === col("cv"))
      .join(clab.select(col("cv").as("xc")), col("v") === col("xc"), "left_anti")
      .groupBy(col("v").as("bv")).agg(min(col("cluster_id")).as("bcluster"))
    nodes.join(clab, nodes("vec_id") === clab("cv"), "left")
      .join(bord, nodes("vec_id") === bord("bv"), "left")
      .select(col("vec_id"),
        when(col("cluster_id").isNotNull, lit("core"))
          .when(col("bcluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("cluster_id"), col("bcluster"), lit(-1L)).as("cluster"))
      .orderBy("vec_id")
  }

  val vecDbscanLsh = QueryDef(
    "q_vec_dbscan_lsh",
    (s, dir) => dbscanOnEdges(
      Tables.embeddings(s, dir).select("vec_id"),
      lshUndirectedEdges(s, dir),
      dbscanCoreLabelsPersisted(s, dir)),
    Some(s"""
      WITH RECURSIVE ${VectorQueries.PortableLshEdgeSql},
      sym AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
      deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
      core AS (SELECT v FROM deg WHERE d >= $DbscanMinPts),
      ce AS (SELECT s.v AS a, s.u AS b FROM sym s
             JOIN core c1 ON s.v = c1.v JOIN core c2 ON s.u = c2.v),
      reach(a, b) AS (
        SELECT a, b FROM ce
        UNION
        SELECT r.a, e2.b FROM reach r JOIN ce e2 ON r.b = e2.a),
      clab AS (
        SELECT c.v, LEAST(c.v, COALESCE(MIN(r.b), c.v)) AS cluster
        FROM core c LEFT JOIN reach r ON c.v = r.a
        GROUP BY c.v),
      bord AS (
        SELECT s.v, MIN(cl.cluster) AS cluster
        FROM sym s JOIN clab cl ON s.u = cl.v
        WHERE s.v NOT IN (SELECT v FROM core)
        GROUP BY s.v)
      SELECT e.vec_id,
             CASE WHEN clab.cluster IS NOT NULL THEN 'core'
                  WHEN bord.cluster IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS role,
             COALESCE(clab.cluster, bord.cluster, -1) AS cluster
      FROM embeddings e
      LEFT JOIN clab ON e.vec_id = clab.v
      LEFT JOIN bord ON e.vec_id = bord.v
      ORDER BY e.vec_id
    """.trim),
  )

  /** The edge-source-agnostic core: `iters` rounds of UNNORMALIZED HITS
    * (Kleinberg 1999) over a DIRECTED (src,dst) edge frame — h_k(v) =
    * Σ_{v→u} a_{k-1}(u), then a_k(v) = Σ_{u→v} h_k(u) (the classic
    * in-iteration ordering). Skipping the per-round norm keeps every
    * score an exact INTEGER (bounded by k^{2·iters} on a k-NN graph —
    * corpus-size-independent, no overflow), so both engines agree
    * bit-for-bit; ranks are norm-invariant, and display normalization
    * (one division by the integer max, round 6) happens once at the end
    * — the q_graph_stats_lsh moments discipline applied to an iterative
    * algorithm. Each round is two skinny join+aggregate passes, linear
    * in edges.
    */
  private[graft] def hitsOnEdges(nodes: DataFrame, edges: DataFrame,
      iters: Int = 3): DataFrame = {
    val nv = nodes.select(col("vec_id").as("v")).localCheckpoint()
    val ed = edges.select(col("src"), col("dst")).localCheckpoint()
    var a = nv.select(col("v"), lit(1L).as("a"))
    var h = nv.select(col("v"), lit(1L).as("h"))
    for (_ <- 1 to iters) {
      val hN = ed.join(a, ed("dst") === a("v"))
        .groupBy(ed("src").as("nv")).agg(sum("a").as("nh"))
      h = nv.join(hN, col("v") === col("nv"), "left")
        .select(col("v"), coalesce(col("nh"), lit(0L)).as("h")).localCheckpoint()
      val aN = ed.join(h, ed("src") === h("v"))
        .groupBy(ed("dst").as("nv")).agg(sum("h").as("na"))
      a = nv.join(aN, col("v") === col("nv"), "left")
        .select(col("v"), coalesce(col("na"), lit(0L)).as("a")).localCheckpoint()
    }
    val joined = h.join(a, "v")
    val mx = joined.agg(max("h").as("mh"), max("a").as("ma"))
    joined.crossJoin(broadcast(mx))
      .select(col("v").as("vec_id"), col("h").as("hub"), col("a").as("auth"),
        round(col("h") / col("mh").cast(DoubleType), 6).as("hub_norm"),
        round(col("a") / col("ma").cast(DoubleType), 6).as("auth_norm"))
      .orderBy("vec_id")
  }

  private def hitsIterSql(k: Int): String =
    s"""h$k AS (
       |  SELECT n.vec_id AS v, CAST(COALESCE(SUM(p.a), 0) AS BIGINT) AS h
       |  FROM nodes n LEFT JOIN edges e ON e.src = n.vec_id
       |  LEFT JOIN a${k - 1} p ON p.v = e.dst GROUP BY n.vec_id),
       |a$k AS (
       |  SELECT n.vec_id AS v, CAST(COALESCE(SUM(q.h), 0) AS BIGINT) AS a
       |  FROM nodes n LEFT JOIN edges e2 ON e2.dst = n.vec_id
       |  LEFT JOIN h$k q ON q.v = e2.src GROUP BY n.vec_id)""".stripMargin

  /** HITS hubs & authorities over the persisted LSH kNN graph — the
    * directed-role complement to PageRank on a similarity graph: a HUB
    * is a document whose nearest-neighbor list points at well-pointed-to
    * documents (a survey/boilerplate signature), an AUTHORITY is one
    * many such lists converge on (a canonical-version signature — the
    * natural "which copy do I keep" prior for near-dup families).
    */
  val graphHitsLsh = QueryDef(
    "q_graph_hits_lsh",
    (s, dir) => hitsOnEdges(
      Tables.embeddings(s, dir).select("vec_id"),
      VectorQueries.lshKnnEdgesPersisted(s, dir)
        .select(col("vec_id").as("src"), col("n_vec_id").as("dst"))),
    Some(s"""
      WITH ${VectorQueries.PortableLshEdgeSql},
      nodes AS (SELECT vec_id FROM embeddings),
      a0 AS (SELECT vec_id AS v, CAST(1 AS BIGINT) AS a FROM nodes),
      ${hitsIterSql(1)},
      ${hitsIterSql(2)},
      ${hitsIterSql(3)},
      mx AS (SELECT (SELECT MAX(h) FROM h3) AS mh, (SELECT MAX(a) FROM a3) AS ma)
      SELECT h3.v AS vec_id, h3.h AS hub, a3.a AS auth,
             ROUND(h3.h / CAST(mh AS DOUBLE), 6) AS hub_norm,
             ROUND(a3.a / CAST(ma AS DOUBLE), 6) AS auth_norm
      FROM h3 JOIN a3 ON h3.v = a3.v CROSS JOIN mx
      ORDER BY vec_id
    """.trim),
  )

  // graphTriangles / graphLabelprop / graphLinkpred / graphOutliers are NOT
  // registered (retired r10 per the bench-budget worksheet, same de-pricing
  // as q_dedup_ngram in r9): each is the exact-edge-census correctness
  // baseline its _lsh twin is proven against EVERY test run (GraphOpsSpec
  // exact-vs-LSH agreement at :85/:105/:333/:338) now that the twins carry
  // full DuckDB oracles. The exact builds rebuild the quadratic
  // same-class edge set per run — the documented scale-killer; the
  // registered twins read the persisted LSH graph.
  def defs: Seq[QueryDef] = Seq(
    graphTrianglesLsh, graphLabelpropLsh, graphLinkpredLsh, graphOutliersLsh,
    graphComponentsLsh, graphStatsLsh, graphClosenessLsh, graphModularityLsh, vecDbscanLsh,
    graphHitsLsh)
}
