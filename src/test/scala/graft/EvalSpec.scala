package graft

import graft.operators.{EvalQueries, SearchQueries, VectorQueries}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The registered retrieval-quality metrics must EQUAL the
  * independently-computed (driver-side, set-arithmetic) metrics the
  * specs and probes have always measured — the eval rows are the same
  * truth, priced and oracle-checked, not a parallel definition.
  */
class EvalSpec extends SparkTestBase with Matchers {

  private def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("q_vec_id", "n_vec_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }

  test("q_eval_recall equals the set-arithmetic recall of the registered rankings") {
    val got = EvalQueries.evalRecall.query(spark, sfTiny).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap

    // independent ground truths: brute-force top-5 sets
    val truthCos = topSets(VectorQueries.cosineTopk.query(spark, sfTiny))
    val e = Tables.embeddings(spark, sfTiny).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    val truthL2 = topSets(e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q"))
      .withColumn("dist", round(expr(
        "aggregate(zip_with(embedding, qe, (x,y) -> (CAST(x AS DOUBLE)-CAST(y AS DOUBLE))*(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))), 0D, (a,v) -> a+v)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q").orderBy(asc("dist"), asc("vec_id"))))
      .filter(col("rn") <= 5)
      .select(col("q").as("q_vec_id"), col("vec_id").as("n_vec_id")))

    val lsh = topSets(VectorQueries.annLsh.query(spark, sfTiny))
    val ivf = topSets(VectorQueries.annIvf.query(spark, sfTiny))
    val pq = topSets(VectorQueries.annIvfPq.query(spark, sfTiny))

    got.size shouldBe 30
    for (k <- 0L until 10L) {
      val hLsh = lsh.getOrElse(k, Set.empty).intersect(truthCos.getOrElse(k, Set.empty)).size
      got(("ann_lsh", k)) shouldBe ((hLsh.toLong, hLsh / 5.0))
      val hIvf = ivf.getOrElse(k, Set.empty).intersect(truthCos.getOrElse(k, Set.empty)).size
      got(("ann_ivf", k)) shouldBe ((hIvf.toLong, hIvf / 5.0))
      val hPq = pq.getOrElse(k, Set.empty).intersect(truthL2.getOrElse(k, Set.empty)).size
      got(("ann_ivfpq", k)) shouldBe ((hPq.toLong, hPq / 5.0))
    }
  }

  test("grade table: persisted qrels ≡ fresh derivation") {
    // ndcg and mrr read the PERSISTED grade table (r12, the shared eval
    // artifact) — prove readback ≡ fresh every run, not just at oracle time
    val fresh = EvalQueries.gradeTableFresh(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val persisted = EvalQueries.gradeTablePersisted(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    fresh should not be empty
    persisted shouldBe fresh
  }

  test("run files: every persisted system ranking ≡ its fresh retrieval") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val freshHybrid = asSet(SearchQueries.textHybrid.query(spark, sfTiny))
    freshHybrid should not be empty
    asSet(EvalQueries.hybridRunPersisted(spark, sfTiny)) shouldBe freshHybrid
    asSet(EvalQueries.bm25RunPersisted(spark, sfTiny)) shouldBe
      asSet(EvalQueries.bm25RunFresh(spark, sfTiny))
    asSet(EvalQueries.vecRunPersisted(spark, sfTiny)) shouldBe
      asSet(EvalQueries.vecRunFresh(spark, sfTiny))
  }

  test("q_eval_ndcg equals a driver-side recomputation from the hybrid ranking and the grade rule") {
    val rows = EvalQueries.evalNdcg.query(spark, sfTiny).collect()
    rows.length shouldBe 8

    val qterms = SearchQueries.bm25QueryTerms(spark, sfTiny).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    val docToks = Tables.documents(spark, sfTiny).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    def rel(qid: Long, d: Long): Int = qterms(qid).count(docToks(d).contains)
    def gain(r: Int): Long = (1L << r) - 1
    def disc(rank: Int): Double = 1.0 / (math.log(rank + 1.0) / math.log(2.0))
    def dround(x: Double, p: Int): Double =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble

    val hyb = SearchQueries.textHybrid.query(spark, sfTiny)
      .select("query_id", "rank", "doc_id").collect()
      .groupBy(_.getLong(0))
    for (row <- rows) {
      val qid = row.getLong(0)
      val dcg = dround(hyb(qid).map(h =>
        dround(gain(rel(qid, h.getLong(2))) * disc(h.getInt(1)), 8)).sum, 6)
      val ideal = docToks.keys.map(d => (rel(qid, d), d)).filter(_._1 > 0).toSeq
        .sortBy { case (r, d) => (-r, d) }.take(10)
      val idcg = dround(ideal.zipWithIndex.map { case ((r, _), i) =>
        dround(gain(r) * disc(i + 1), 8) }.sum, 6)
      row.getLong(1) shouldBe docToks.keys.count(d => rel(qid, d) > 0).toLong
      row.getDouble(2) shouldBe dcg +- 1e-9
      row.getDouble(3) shouldBe idcg +- 1e-9
      row.getDouble(4) shouldBe dround(dcg / idcg, 6) +- 1e-9
    }
  }

  test("q_eval_ndcg_ablation: hybrid rows equal q_eval_ndcg; components complete the matrix") {
    val abl = EvalQueries.evalNdcgAblation.query(spark, sfTiny).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    abl.keys.map(_._1).toSet shouldBe Set("hybrid", "bm25", "vec")
    abl.size shouldBe 24 // 3 systems x 8 queries
    // the hybrid ablation rows are the SAME metric q_eval_ndcg registers —
    // one definition, not a parallel one
    val ndcg = EvalQueries.evalNdcg.query(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    for ((qid, v) <- ndcg) abl(("hybrid", qid)) shouldBe v
    // idcg is ranking-independent: identical across systems per query
    for (qid <- ndcg.keys) {
      abl(("bm25", qid))._2 shouldBe abl(("hybrid", qid))._2
      abl(("vec", qid))._2 shouldBe abl(("hybrid", qid))._2
    }
    // the ablation must carry attribution signal: the component rankings
    // are not all identical to the fused one on this fixture
    val differs = ndcg.keys.exists(qid =>
      abl(("bm25", qid))._3 != abl(("hybrid", qid))._3 ||
        abl(("vec", qid))._3 != abl(("hybrid", qid))._3)
    differs shouldBe true
  }

  test("q_eval_mrr equals a driver-side recomputation on the binary-cutoff grade rule") {
    val rows = EvalQueries.evalMrr.query(spark, sfTiny).collect()
    rows.length shouldBe 8
    val qterms = SearchQueries.bm25QueryTerms(spark, sfTiny).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    val docToks = Tables.documents(spark, sfTiny).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    def isRel(qid: Long, d: Long): Boolean = qterms(qid).count(docToks(d).contains) >= 2
    val hyb = SearchQueries.textHybrid.query(spark, sfTiny)
      .select("query_id", "rank", "doc_id").collect().groupBy(_.getLong(0))
    for (row <- rows) {
      val qid = row.getLong(0)
      val ranked = hyb(qid).sortBy(_.getInt(1))
      val frr = ranked.find(h => isRel(qid, h.getLong(2))).map(_.getInt(1)).getOrElse(0)
      row.getInt(1) shouldBe frr
      row.getDouble(2) shouldBe (if (frr == 0) 0.0
        else math.round(1.0 / frr * 1e6) / 1e6)
      val p5 = ranked.filter(_.getInt(1) <= 5).count(h => isRel(qid, h.getLong(2)))
      row.getLong(3) shouldBe p5.toLong
      row.getDouble(4) shouldBe p5 / 5.0
    }
    // the fixture's signal lives in precision@5 — it must actually vary
    rows.map(_.getDouble(4)).distinct.length should be > 1
  }

  test("q_eval_dedup: detector ⊆ truth, recall saturates, and tracks banding theory") {
    val rows = EvalQueries.evalDedup.query(spark, sfTiny).collect()
    rows should not be empty
    rows.foreach { r =>
      val (band, nTrue, nFound) = (r.getInt(0), r.getLong(1), r.getLong(2))
      val (recall, expected) = (r.getDouble(3), r.getDouble(4))
      // the detector exact-verifies candidates: no false positives exist,
      // so per-band found can never exceed truth
      assert(nFound <= nTrue, s"band $band: found $nFound > true $nTrue")
      // 16 bands of 2 hashes: detection prob at J ≥ 0.8 is 1-(1-0.64)^16
      // ≈ 1 - 8e-8 — any miss there means the signature pipeline broke
      if (band >= 8) assert(recall == 1.0, s"band $band recall $recall < 1")
      // measured recall tracks the theory's per-band average within noise
      assert(math.abs(recall - expected) < 0.05,
        s"band $band: recall $recall vs expected $expected")
    }
    // bands must cover the J ≥ 0.5 range the truth join emits
    rows.map(_.getInt(0)).min shouldBe 5
    // the persisted truth/run artifacts equal their fresh derivations
    def strs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    strs(EvalQueries.dedupTruthPersisted(spark, sfTiny)) shouldBe
      strs(graft.operators.DedupQueries.exactJaccardPairsStage(spark, sfTiny))
    strs(EvalQueries.dedupFoundPersisted(spark, sfTiny)) shouldBe
      strs(graft.operators.DedupQueries.nearDupPairsStage(spark, sfTiny)
        .select("doc_id1", "doc_id2"))
  }

  test("q_eval_simhash: exact duplicates always detected, counts consistent, artifacts ≡ fresh") {
    val rows = EvalQueries.evalSimhash.query(spark, sfTiny).collect()
    rows should not be empty
    rows.foreach { r =>
      val (band, nTrue, nFound, recall) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nFound <= nTrue, s"band $band: found $nFound > true $nTrue")
      recall shouldBe (nFound.toDouble / nTrue +- 1e-6)
    }
    // identical texts have identical fingerprints (hamming 0): the J=1.0
    // band can never be missed — a miss there means the fingerprint
    // pipeline broke, not the detector's documented lossiness
    val band10 = rows.find(_.getInt(0) == 10)
    band10.foreach(r => r.getDouble(3) shouldBe 1.0)
    // the persisted found artifact equals the registered detector's output
    def strs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    strs(EvalQueries.simhashFoundPersisted(spark, sfTiny)) shouldBe
      strs(graft.operators.DedupQueries.dedupSimhash.query(spark, sfTiny)
        .select("doc_id1", "doc_id2"))
  }

  test("q_eval_winnow: per-band counts consistent, multi-window pairs detected, artifacts ≡ fresh") {
    import org.apache.spark.sql.functions.{col, count => acount, least => aleast, lit, sum => asum}
    val rows = EvalQueries.evalWinnow.query(spark, sfTiny).collect()
    rows should not be empty
    rows.foreach { r =>
      val (band, nTrue, nFound, recall) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nFound <= nTrue, s"band $band: found $nFound > true $nTrue")
      recall shouldBe (nFound.toDouble / nTrue +- 1e-6)
      // a ≥3-window pair shares a ≥22-token run → many common fingerprints;
      // the ≥2-fp gate cannot miss it unless df-capping ate the passage,
      // which the fixture's passages don't trigger
      if (band >= 2) assert(recall == 1.0, s"band $band recall $recall < 1")
    }
    // the persisted truth/run artifacts equal their fresh derivations
    def strs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val docs = Tables.documents(spark, sfTiny).select("doc_id", "text")
    val freshTruth = graft.operators.TextQueries.sharedWindowMass(
      graft.operators.TextQueries.windowOcc(docs))
    strs(EvalQueries.winnowTruthPersisted(spark, sfTiny)) shouldBe strs(freshTruth)
    strs(EvalQueries.winnowFoundPersisted(spark, sfTiny)) shouldBe
      strs(graft.operators.TextQueries.winnowPairsOn(docs)
        .select("doc_id1", "doc_id2"))
  }
}
