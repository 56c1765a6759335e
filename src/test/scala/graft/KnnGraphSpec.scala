package graft

import graft.operators.VectorQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.matchers.should.Matchers

/** The two full-graph kNN variants (q_vec_knn_graph_lsh / _ivf): recall
  * bounds against the exact within-label graph, well-formedness, and the
  * structural property that justifies them — NO all-pairs join anywhere in
  * the pipeline (every executed plan is cartesian-free; the pair-forming
  * join is a bucket equi-join).
  */
class KnnGraphSpec extends SparkTestBase with Matchers {

  private def edges(df: DataFrame): Set[(Long, Long)] =
    df.select("vec_id", "n_vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val exact = edges(VectorQueries.vecKnnGraph.query(spark, sfTiny))

  test("q_vec_knn_graph_lsh: recall ≥ 0.9 of the exact within-label top-3") {
    val lsh = edges(VectorQueries.vecKnnGraphLsh.query(spark, sfTiny))
    exact should not be empty
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    recall should be >= 0.9 // measured 0.976 (sf0.001) / 0.987 (sf0.1)
  }

  test("q_vec_knn_graph_lsh24: the perfect-recall dial dominates 16x6 and clears 0.99") {
    val lsh24 = edges(VectorQueries.vecKnnGraphLsh24.query(spark, sfTiny))
    val lsh16 = edges(VectorQueries.vecKnnGraphLsh.query(spark, sfTiny))
    exact should not be empty
    val r24 = lsh24.intersect(exact).size.toDouble / exact.size
    val r16 = lsh16.intersect(exact).size.toDouble / exact.size
    // the TRADEOFF claim, asserted not prosed: more tables at fewer bits
    // buys recall (measured 1.000 at sf0.01 AND sf0.1, PERF.md round 9)
    r24 should be >= 0.99
    r24 should be >= r16
  }

  test("q_vec_knn_graph_ivf: recall ≥ 0.85 of the exact within-label top-3") {
    val ivf = edges(VectorQueries.vecKnnGraphIvf.query(spark, sfTiny))
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    recall should be >= 0.85 // measured 0.965 (sf0.001) / 0.944 (sf0.1)
  }

  test("graph variants are well-formed: ≤3 ranked neighbors per vector, no self-edges") {
    val df = VectorQueries.vecKnnGraphLsh.query(spark, sfTiny)
    val rows = df.collect()
    rows.foreach { r =>
      r.getInt(1) should (be >= 1 and be <= 3)
      r.getLong(0) should not be r.getLong(2)
    }
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      g.map(_.getInt(1)).sorted.toSeq shouldBe (1 to g.length)
    }
  }

  test("q_vec_pq: ADC-shortlist + exact re-rank recall@5 ≥ 0.9 mean, ≥ 0.6 min vs brute-force L2") {
    import org.apache.spark.sql.expressions.Window
    val got = graft.operators.VectorQueries.vecPq.query(spark, sfTiny)
      .select("q_vec_id", "n_vec_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val e = Tables.embeddings(spark, sfTiny).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    val exact = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q"))
      .withColumn("d", expr(
        "aggregate(zip_with(embedding, qe, (x,y) -> (CAST(x AS DOUBLE)-CAST(y AS DOUBLE))*(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))), 0D, (a,v) -> a+v)"))
      .withColumn("rn", row_number().over(Window.partitionBy("q").orderBy(asc("d"), asc("vec_id"))))
      .filter(col("rn") <= 5).select("q", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val recalls = exact.keys.toSeq.sorted
      .map(k => got.getOrElse(k, Set.empty[Long]).intersect(exact(k)).size / 5.0)
    (recalls.sum / recalls.size) should be >= 0.9
    recalls.min should be >= 0.6
  }

  test("q_vec_knn_graph_incr: incremental merge == full rebuild, row for row") {
    val incr = VectorQueries.vecKnnGraphIncr.query(spark, sfTiny).collect().map(_.toSeq)
    val full = VectorQueries.vecKnnGraph.query(spark, sfTiny).collect().map(_.toSeq)
    incr should not be empty
    incr shouldBe full
  }

  test("q_vec_knn_graph_incr_lsh: incremental merge == full LSH rebuild, row for row") {
    // r9 upgrade from the recall floor: with the portable family the
    // candidate criterion is identical on both paths and the top-3 merge
    // lemma makes incremental ≡ full rebuild EXACTLY (which is also why
    // it now shares q_vec_knn_graph_lsh's oracle)
    val incr = VectorQueries.vecKnnGraphIncrLsh.query(spark, sfTiny)
      .collect().map(_.toString).toSeq
    val full = VectorQueries.vecKnnGraphLsh.query(spark, sfTiny)
      .collect().map(_.toString).toSeq
    incr shouldBe full
    // and the LSH graph itself still recalls ≥0.9 of exact (belt)
    val lsh = edges(VectorQueries.vecKnnGraphIncrLsh.query(spark, sfTiny))
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    recall should be >= 0.9
  }

  test("q_ann_ivfpq: probed-list ADC + exact re-rank recall@5 vs brute-force L2") {
    import org.apache.spark.sql.expressions.Window
    val got = VectorQueries.annIvfPq.query(spark, sfTiny)
      .select("q_vec_id", "n_vec_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val e = Tables.embeddings(spark, sfTiny).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    val exact = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q"))
      .withColumn("d", expr(
        "aggregate(zip_with(embedding, qe, (x,y) -> (CAST(x AS DOUBLE)-CAST(y AS DOUBLE))*(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))), 0D, (a,v) -> a+v)"))
      .withColumn("rn", row_number().over(Window.partitionBy("q").orderBy(asc("d"), asc("vec_id"))))
      .filter(col("rn") <= 5).select("q", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val recalls = exact.keys.toSeq.sorted
      .map(k => got.getOrElse(k, Set.empty[Long]).intersect(exact(k)).size / 5.0)
    // recall is bounded by coarse-cell probing (candidate recall 0.92 at
    // nprobe=4), then ADC shortlist depth — measured end-to-end 0.88 mean
    // (sf0.001) / 0.84 (sf0.1), which BEATS whole-corpus q_vec_pq (0.82 at
    // sf0.1) while ADC-scanning only the ~2.6% probed-list mass
    (recalls.sum / recalls.size) should be >= 0.8
    recalls.min should be >= 0.4
  }

  test("q_ann_ivfpq_incr: frozen-codebook append-only index recall@5 — no drift on iid slices") {
    import org.apache.spark.sql.expressions.Window
    def recallOf(name: String): Double = {
      val got = graft.SparkEntry.queries(name)(spark, sfTiny)
        .select("q_vec_id", "n_vec_id").collect()
        .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
      val e = Tables.embeddings(spark, sfTiny).select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q"), col("embedding").as("qe"))
      val exact = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q"))
        .withColumn("d", expr(
          "aggregate(zip_with(embedding, qe, (x,y) -> (CAST(x AS DOUBLE)-CAST(y AS DOUBLE))*(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))), 0D, (a,v) -> a+v)"))
        .withColumn("rn", row_number().over(Window.partitionBy("q").orderBy(asc("d"), asc("vec_id"))))
        .filter(col("rn") <= 5).select("q", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
      val rs = exact.keys.toSeq.sorted
        .map(k => got.getOrElse(k, Set.empty[Long]).intersect(exact(k)).size / 5.0)
      rs.sum / rs.size
    }
    val frozen = recallOf("q_ann_ivfpq_incr")
    frozen should be >= 0.8 // measured 0.90 (sf0.001) / 0.84 (sf0.1)
    // the frozen-at-index-build codebook costs nothing on iid slices:
    // within 0.1 of the everything-trained index (measured equal or better)
    frozen should be >= recallOf("q_ann_ivfpq") - 0.1
  }

  test("every executed plan in both graph pipelines is cartesian-free") {
    val plans = collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      VectorQueries.vecKnnGraphLsh.query(spark, sfTiny).collect()
      VectorQueries.vecKnnGraphIvf.query(spark, sfTiny).collect()
      // listener delivery is async — poll until the buffer stops growing
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val now = plans.synchronized(plans.size)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      val all = plans.synchronized(plans.toSeq)
      all should not be empty
      all.foreach { p =>
        p should not include "CartesianProduct"
        // the only nested-loop joins allowed are broadcast one-row builds
        // (the codebook crossJoin in the IVF assignment projection)
        if (p.contains("BroadcastNestedLoopJoin")) p should include("BroadcastExchange")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("persisted PQ index artifacts == fresh derivations, row for row (the r16 ivfpq amortization)") {
    import graft.operators.VectorQueries
    import org.apache.spark.sql.functions._
    def strs(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    strs(VectorQueries.pqCodebook(spark, sfTiny)) shouldBe
      strs(VectorQueries.pqCodebookFresh(spark, sfTiny))
    val e = Tables.embeddings(spark, sfTiny).select("vec_id", "embedding")
    strs(VectorQueries.pqCodesPersisted(spark, sfTiny)) shouldBe
      strs(VectorQueries.pqCodes(e, VectorQueries.pqCodebook(spark, sfTiny)))
    val centroidArr = VectorQueries.ivfCodebook(spark, sfTiny)
      .agg(collect_list(struct(col("c_id"), col("c_emb"))).as("cents"))
    strs(VectorQueries.coarseAssignPersisted(spark, sfTiny, 2)) shouldBe
      strs(VectorQueries.nearestCells(e, "embedding", "vec_id", centroidArr, 2))
  }
}
