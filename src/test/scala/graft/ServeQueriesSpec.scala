package graft

import graft.operators.{SearchQueries, ServeQueries, TextQueries}
import org.scalatest.matchers.should.Matchers

/** The registered state-served rows must equal their one-shot twins ROW
  * FOR ROW — the claim their shared oracles encode. This pins the
  * QueryDef plumbing itself (the deterministic two-batch state build +
  * serve), on top of the library-level equivalences
  * IncrementalIndexSpec/IncrementalSpanSpec already prove.
  */
class ServeQueriesSpec extends SparkTestBase with Matchers {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).toSeq

  test("q_serve_hybrid_state ≡ q_text_hybrid row for row") {
    val served = rows(ServeQueries.serveHybridState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(SearchQueries.textHybrid.query(spark, sfTiny))
  }

  test("q_serve_spansource_state ≡ q_text_span_source row for row") {
    val served = rows(ServeQueries.serveSpanSourceState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(TextQueries.textSpanSource.query(spark, sfTiny))
    // the build is idempotent: a second QueryDef call serves the same
    // committed state (replay-protected), not a double-landed one
    rows(ServeQueries.serveSpanSourceState.query(spark, sfTiny)) shouldBe served
  }

  test("q_serve_novelty_state ≡ q_text_novelty row for row") {
    val served = rows(ServeQueries.serveNoveltyState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.CurationQueries.textNovelty.query(spark, sfTiny))
  }

  private def oneShotAgg = {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    rows(Tables.events(spark, sfTiny)
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("value").cast(DecimalType(9, 2))).cast(DecimalType(38, 2))
          .cast(DoubleType).as("sum_value"))
      .orderBy("event_type"))
  }

  test("q_serve_agg_state ≡ the one-shot events aggregate row for row") {
    val served = rows(ServeQueries.serveAggState.query(spark, sfTiny))
    served should not be empty
    served shouldBe oneShotAgg
    // idempotent: a second call serves the committed state unchanged
    rows(ServeQueries.serveAggState.query(spark, sfTiny)) shouldBe served
  }

  test("q_serve_agg_state rebuilds a state interrupted after batch 0, then serves it untouched") {
    import org.apache.spark.sql.{functions => F}
    import graft.sources.GraftFs
    import graft.streaming.IncrementalAgg
    // the row's state dir with batch 0 committed and no _SUCCESS marker:
    // a build that died between its two batches
    val base = GraftFs.qualify(spark,
      s"target/graft-state/${GraftFs.scaleTag(spark, sfTiny)}/agg")
    GraftFs.deleteRecursively(spark, base)
    val events = Tables.events(spark, sfTiny)
    IncrementalAgg.processBatch(spark,
      events.filter(F.pmod(F.col("event_id"), F.lit(2)) === 0), base, Some(0L))
    IncrementalAgg.committedBatch(spark, base) shouldBe Some(0L)
    GraftFs.exists(spark, s"$base/_SUCCESS") shouldBe false

    val served = rows(ServeQueries.serveAggState.query(spark, sfTiny))
    served shouldBe oneShotAgg
    IncrementalAgg.committedBatch(spark, base) shouldBe Some(1L)

    // a second call serves the marked state: no rebuild, no new commit
    def stamp(f: String) =
      (GraftFs.readSmallFile(spark, s"$base/$f"), GraftFs.modificationTime(spark, s"$base/$f"))
    val before = Seq(stamp("_CURRENT"), stamp("_SUCCESS"))
    before.foreach(_._1 should not be empty)
    rows(ServeQueries.serveAggState.query(spark, sfTiny)) shouldBe served
    Seq(stamp("_CURRENT"), stamp("_SUCCESS")) shouldBe before
  }

  test("q_serve_neardup_state ≡ q_dedup_near row for row") {
    val served = rows(ServeQueries.serveNeardupState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.DedupQueries.dedupNear.query(spark, sfTiny))
  }

  test("q_serve_mw_state ≡ q_stat_mannwhitney row for row") {
    val served = rows(ServeQueries.serveMwState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.StatQueries.statMannWhitney.query(spark, sfTiny))
  }

  test("q_serve_cdc_state ≡ the one-shot merge (q_cdc_upsert minus disposition)") {
    import org.apache.spark.sql.functions.col
    val served = rows(ServeQueries.serveCdcState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.CdcQueries.cdcUpsert.query(spark, sfTiny)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
  }

  test("q_serve_shards_state ≡ q_pipeline_shards row for row") {
    val served = rows(ServeQueries.serveShardsState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.CurationQueries.pipelineShards.query(spark, sfTiny))
  }

  test("q_serve_scd2_state ≡ q_cdc_scd2 row for row") {
    val served = rows(ServeQueries.serveScd2State.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.CdcQueries.cdcScd2.query(spark, sfTiny))
  }

  test("q_serve_components_state ≡ q_graph_components_lsh row for row") {
    val served = rows(ServeQueries.serveComponentsState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.GraphQueries.graphComponentsLsh.query(spark, sfTiny))
  }

  test("q_serve_rules_state ≡ q_mine_rules row for row") {
    val served = rows(ServeQueries.serveRulesState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.MiningQueries.mineRules.query(spark, sfTiny))
  }

  test("q_serve_trend_state ≡ q_ts_trend row for row") {
    val served = rows(ServeQueries.serveTrendState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.TimeSeriesQueries.tsTrend.query(spark, sfTiny))
  }

  test("q_serve_winnow_state ≡ q_text_winnow_pairs row for row") {
    val served = rows(ServeQueries.serveWinnowState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(TextQueries.textWinnowPairs.query(spark, sfTiny))
  }

  test("q_serve_drift_state ≡ q_text_drift row for row") {
    val served = rows(ServeQueries.serveDriftState.query(spark, sfTiny))
    served should not be empty
    served shouldBe rows(
      graft.operators.TextQueries.textDrift.query(spark, sfTiny))
  }
}
