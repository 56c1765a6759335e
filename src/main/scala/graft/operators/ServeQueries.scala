package graft.operators

import graft.{QueryDef, Tables}
import graft.sources.GraftFs
import graft.streaming.{IncrementalAgg, IncrementalCdc, IncrementalComponents,
  IncrementalDedup, IncrementalDrift, IncrementalIndex, IncrementalMine, IncrementalScd2,
  IncrementalShards, IncrementalSpan, IncrementalStats, IncrementalTrend, IncrementalWinnow}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** The incremental maintainers' SERVE paths as registered, oracle-checked
  * rows (r12) — until now the build→serve loop (IncrementalIndex /
  * IncrementalSpan: micro-batch ingest into a CAS-logged segment state,
  * then answering from state alone) was proven only by specs. These rows
  * put the maintained-state surfaces through the driver's DuckDB hash
  * gate every round: each serves from a state built ONCE per scale dir
  * by a deterministic two- or three-batch ingest (the maintainer specs'
  * replay shapes), and each must be BIT-EQUAL to its one-shot registered
  * twin, so the oracle is the twin's oracle verbatim. A hash mismatch
  * here means the ingest merge, the state protocol, or the serve
  * derivation drifted from the one-shot semantics — exactly the
  * regression a streaming deployment fears and cannot see in one-shot
  * tests.
  *
  * Each state is a build-once [[GraftFs.artifact]] at
  * `target/graft-state/<scaleTag>/<family>`, like every derived layout:
  * the first call per dir runs the ingest under the artifact's per-path
  * lock and marks the state `_SUCCESS`; later calls serve from the
  * committed log. A build that fails part-way leaves no marker, so the
  * next call wipes the partial state and rebuilds it from batch 0 rather
  * than resuming it — the ingest is deterministic, so the rebuilt state
  * is the same.
  */
object ServeQueries {

  /** Serve row state `family` over scale dir `dir`, built once by
    * `ingest(base)`; returns the qualified base.
    */
  private def state(s: SparkSession, dir: String, family: String)(ingest: String => Unit): String =
    GraftFs.artifact(s, dir, tag => s"target/graft-state/$tag/$family")(ingest)

  /** A [[state]] whose ingest splits `frame` into `n` batches by
    * `pmod(key, n)` and lands batch i, with id i, through `process`.
    */
  private def splitState(s: SparkSession, dir: String, family: String, key: Column, n: Int)
      (frame: => DataFrame)(process: (DataFrame, String, Option[Long]) => Any): String =
    state(s, dir, family) { base =>
      val f = frame
      for (i <- 0 until n) process(f.filter(pmod(key, lit(n)) === i), base, Some(i.toLong))
    }

  /** A decimal(12,2) amount as whole cents. */
  private def cents(c: Column): Column = (c.cast(DecimalType(12, 2)) * 100).cast(LongType)

  private def indexStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "index", col("doc_id"), 2)(Tables.documents(s, dir))(
      IncrementalIndex.processBatch(s, _, _, _))

  private def spanStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "span", col("doc_id"), 2)(
      Tables.documents(s, dir).select("doc_id", "text"))(IncrementalSpan.processBatch(s, _, _, _))

  /** RRF hybrid retrieval served ENTIRELY from the maintained inverted-
    * index state (tf from posting segments, df from the stats table,
    * n_docs from the persisted ingest census, fused by the registered
    * query's own hybridFrom tail) — must hash-match q_text_hybrid's
    * oracle because serveHybrid is bit-equal to the one-shot by
    * construction (IncrementalIndexSpec pins it across a 3-batch split,
    * crash replay, and compaction).
    */
  val serveHybridState = QueryDef(
    "q_serve_hybrid_state",
    (s, dir) =>
      IncrementalIndex.serveHybrid(s, indexStateBuilt(s, dir), Tables.embeddings(s, dir)),
    SearchQueries.textHybrid.oracle,
  )

  /** The who-copied-whom provenance audit served from the maintained span
    * state (append-only window-occurrence segments + the associative
    * (cnt, min-holder) stats merge, attributed by the registered query's
    * own spanSourceFromTables tail) — must hash-match q_text_span_source's
    * oracle because state-served ≡ one-shot by construction
    * (IncrementalSpanSpec pins it across batch splits, the concurrent-
    * ingest CAS race, compaction, and replay).
    */
  val serveSpanSourceState = QueryDef(
    "q_serve_spansource_state",
    (s, dir) => IncrementalSpan.serveSpanSource(s, spanStateBuilt(s, dir)),
    TextQueries.textSpanSource.oracle,
  )

  /** Span state holding ONLY the standing slice (doc_id % 5 ≠ 0 — the
    * registered q_text_novelty split), for the admission-question serve.
    */
  private def noveltyStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "novelty", col("doc_id"), 2)(
      Tables.documents(s, dir).select("doc_id", "text").filter(col("doc_id") % 5 =!= 0))(
      IncrementalSpan.processBatch(s, _, _, _))

  /** The admission question served from state — q_text_novelty's "how
    * much new information would this incoming slice add" answered from
    * the maintained standing-window stats WITHOUT re-tokenizing the
    * standing corpus and WITHOUT ingesting the candidate slice (the
    * operator's documented 100 TB path, now driver-gated): must
    * hash-match q_text_novelty's oracle because serveNovelty ≡ the
    * registered split by construction (IncrementalSpanSpec pins it).
    */
  val serveNoveltyState = QueryDef(
    "q_serve_novelty_state",
    (s, dir) =>
      IncrementalSpan.serveNovelty(s, noveltyStateBuilt(s, dir),
        Tables.documents(s, dir).select("doc_id", "text")
          .filter(col("doc_id") % 5 === 0)),
    CurationQueries.textNovelty.oracle,
  )

  private def aggStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "agg", col("event_id"), 2)(Tables.events(s, dir))(
      IncrementalAgg.processBatch(s, _, _, _))

  /** The matview maintainer's SERVE path as a registered row: the
    * per-event-type count/decimal-sum aggregate read from IncrementalAgg's
    * versioned state (built once per dir by a two-batch ingest) — must
    * hash-match the one-shot aggregate over the whole events table because
    * count and decimal-sum partials are associative+commutative
    * (IncrementalAggSpec pins the identity through the foreachBatch
    * wiring). A mismatch means the full-outer merge or the
    * write-new-then-swap pointer discipline double-counted or lost a
    * batch — THE failure mode of materialized-view upkeep.
    */
  val serveAggState = QueryDef(
    "q_serve_agg_state",
    (s, dir) =>
      IncrementalAgg.readState(s, aggStateBuilt(s, dir))
        .select(col("event_type"), col("n"),
          col("sum_value").cast(DoubleType).as("sum_value"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type
    """.trim),
  )

  private def statsStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "stats", col("o_orderkey"), 2)(
      Tables.orders(s, dir).filter(col("o_orderstatus").isin("O", "F"))
        .select(col("o_orderkey"), col("o_orderstatus").as("grp"), cents(col("o_totalprice")).as("v")))(
      (batch, base, id) => IncrementalStats.processBatch(s, batch.select("grp", "v"), base, id))

  /** The stats-histogram maintainer's SERVE path as a registered row:
    * Mann-Whitney U answered from the maintained value-distinct histogram
    * (q_stat_mannwhitney's exact fixture frame ingested in two batches) —
    * must hash-match the one-shot test's oracle because everything
    * downstream of the histogram is exact integer/decimal arithmetic, so
    * serve-from-state ≡ one-shot is an identity, not a tolerance
    * (IncrementalStatsSpec pins all six served statistics).
    */
  val serveMwState = QueryDef(
    "q_serve_mw_state",
    (s, dir) =>
      IncrementalStats.serveMannWhitney(s, statsStateBuilt(s, dir), "O"),
    StatQueries.statMannWhitney.oracle,
  )

  private def neardupStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "neardup", col("doc_id"), 2)(Tables.documents(s, dir))(
      IncrementalDedup.processBatch(s, _, _, _))

  /** The near-dedup maintainer's SERVE path as a registered row: the
    * accumulated verified pair set read from IncrementalDedup's
    * CAS-logged segments (two-batch build once per dir) — must
    * hash-match q_dedup_near's oracle because signatures depend only on
    * document content, so the union of per-batch emissions over any
    * split equals the one-shot pair set exactly (IncrementalDedupSpec
    * pins it across splits, crash replays, and a concurrent CAS race).
    * A mismatch means a batch was double-landed, lost, or the candidate
    * rebase diverged — the nightly-ingest failure modes.
    */
  val serveNeardupState = QueryDef(
    "q_serve_neardup_state",
    (s, dir) =>
      IncrementalDedup.readPairs(s, neardupStateBuilt(s, dir))
        .orderBy("doc_id1", "doc_id2"),
    DedupQueries.dedupNear.oracle,
  )

  private def cdcStateBuilt(s: SparkSession, dir: String): String =
    state(s, dir, "cdc") { base =>
      val orders = Tables.orders(s, dir)
      // batch 0 seeds the snapshot (every snapshot key as an upsert of
      // its own row); batch 1 is q_cdc_upsert's exact derived change
      // set — keys divisible by 5 delete, even keys upsert at +10.00
      val seed = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), lit("U").as("op"),
          col("o_custkey").as("c_custkey"), col("o_totalprice").as("new_price"))
      val changes = orders
        .filter(col("o_orderkey") % 2 === 0 || col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, lit("D")).otherwise(lit("U")).as("op"),
          col("o_custkey").as("c_custkey"),
          (col("o_totalprice") + 10.0).as("new_price"))
      IncrementalCdc.processBatch(s, seed, base, Some(0L))
      IncrementalCdc.processBatch(s, changes, base, Some(1L))
    }

  /** The CDC maintainer's SERVE path as a registered row: the maintained
    * snapshot after seeding + one change batch must hash-match
    * q_cdc_upsert's merge result (minus its audit disposition column —
    * state keeps rows, not change provenance): sequential full-outer
    * merges compose to the one-shot MERGE when each key's changes ride
    * one batch (the documented key-partitioned contract;
    * IncrementalCdcSpec pins the equivalence and the replay no-op).
    */
  val serveCdcState = QueryDef(
    "q_serve_cdc_state",
    (s, dir) =>
      IncrementalCdc.readState(s, cdcStateBuilt(s, dir))
        .orderBy("o_orderkey"),
    Some("""
      WITH snap AS (
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
      changes AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op,
               o_custkey AS c_custkey,
               o_totalprice + 10.0 AS new_price
        FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 5 = 0)
      SELECT COALESCE(s.o_orderkey, c.o_orderkey) AS o_orderkey,
             COALESCE(c.c_custkey, s.o_custkey) AS o_custkey,
             COALESCE(c.new_price, s.o_totalprice) AS o_totalprice
      FROM snap s FULL OUTER JOIN changes c ON s.o_orderkey = c.o_orderkey
      WHERE c.op IS NULL OR c.op = 'U'
      ORDER BY o_orderkey
    """.trim),
  )

  private def shardsStateBuilt(s: SparkSession, dir: String): String =
    state(s, dir, "shards") { base =>
      val docs = Tables.documents(s, dir).select("doc_id", "n_chars", "text")
      // the manifest's feed contract: doc_id-ordered batches (offsets
      // accumulate) — split at the id midpoint, lower half first
      val mid = docs.agg(max("doc_id")).head().getLong(0) / 2
      IncrementalShards.processBatch(s, docs.filter(col("doc_id") <= mid), base, Some(0L))
      IncrementalShards.processBatch(s, docs.filter(col("doc_id") > mid), base, Some(1L))
    }

  /** The shard-manifest maintainer's SERVE path as a registered row: the
    * maintained manifest after a two-batch doc_id-ordered ingest must
    * hash-match q_pipeline_shards' one-shot manifest (same 16 KiB shard
    * constant, same token counter) — byte offsets accumulate across
    * batches, so a lost or double-counted batch shifts every later
    * shard boundary and cannot hide (IncrementalShardsSpec pins the
    * equivalence, the replay no-op, and the suffix-repair path).
    */
  val serveShardsState = QueryDef(
    "q_serve_shards_state",
    (s, dir) =>
      IncrementalShards.readState(s, shardsStateBuilt(s, dir))
        .orderBy("shard_id"),
    CurationQueries.pipelineShards.oracle,
  )

  private def scd2StateBuilt(s: SparkSession, dir: String): String =
    state(s, dir, "scd2") { base =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
            .as("us"))
      // time-ordered terciles (per-user order preserved) — the
      // IncrementalScd2Spec feed shape; percentile_approx with fixed
      // accuracy is deterministic on fixed data
      val b = ev.selectExpr(
        "percentile_approx(us, 0.3333, 10000)",
        "percentile_approx(us, 0.6667, 10000)").head
      val (t1, t2) = (b.getLong(0), b.getLong(1))
      IncrementalScd2.processBatch(s, ev.filter(col("us") <= t1), base, Some(0L))
      IncrementalScd2.processBatch(s, ev.filter(col("us") > t1 && col("us") <= t2), base, Some(1L))
      IncrementalScd2.processBatch(s, ev.filter(col("us") > t2), base, Some(2L))
    }

  /** The SCD2 maintainer's SERVE path as a registered row: the full
    * dimension (closed segments + current table) after a three-batch
    * time-tercile ingest must hash-match q_cdc_scd2's one-shot derivation
    * — including SEAM SUPPRESSION (a batch opening with a user's current
    * value must not cut a new version; IncrementalScd2Spec pins it plus
    * the replay no-op). The dimension build→serve loop is the classic
    * warehouse upkeep a transactional MERGE performs; a mismatch means
    * a version double-landed, a seam leaked, or close/current tore.
    */
  val serveScd2State = QueryDef(
    "q_serve_scd2_state",
    (s, dir) =>
      IncrementalScd2.readDimension(s, scd2StateBuilt(s, dir)),
    CdcQueries.cdcScd2.oracle,
  )

  private def componentsStateBuilt(s: SparkSession, dir: String): String =
    state(s, dir, "components") { base =>
      val edges = GraphQueries.lshUndirectedEdges(s, dir).localCheckpoint()
      val maxId = Tables.embeddings(s, dir).agg(max("vec_id")).head().getLong(0)
      val (cut1, cut2) = (maxId / 3, 2 * maxId / 3)
      def batchOf(c: Column) = when(c <= cut1, 0L).when(c <= cut2, 1L).otherwise(2L)
      val nodes = Tables.embeddings(s, dir)
        .select(col("vec_id").as("node_id"), batchOf(col("vec_id")).as("bid"))
      // an edge lands with its LATER endpoint (the maintainer's
      // deliver-with-endpoints contract)
      val edgesB = edges.withColumn("bid", batchOf(greatest(col("a"), col("b"))))
      for (bid <- 0L to 2L)
        IncrementalComponents.processBatch(s,
          nodes.filter(col("bid") === bid).select("node_id"),
          edgesB.filter(col("bid") === bid).select("a", "b"),
          base, Some(bid))
    }

  /** The connected-components maintainer's SERVE path as a registered
    * row: the maintained label table after batched edge arrival, joined
    * to component sizes in q_graph_components_lsh's exact output shape —
    * must hash-match its recursive-CTE oracle because label contraction
    * over any edge-arrival order converges to the same min-label fixpoint
    * (IncrementalComponentsSpec pins monotone coarsening + the one-shot
    * identity + replay no-op).
    */
  val serveComponentsState = QueryDef(
    "q_serve_components_state",
    (s, dir) => {
      val labels = IncrementalComponents
        .readState(s, componentsStateBuilt(s, dir))
      val sizes = labels.groupBy("component").agg(count(lit(1)).as("component_size"))
      labels.join(broadcast(sizes), "component")
        .select(col("node_id").as("vec_id"), col("component"), col("component_size"))
        .orderBy("vec_id")
    },
    GraphQueries.graphComponentsLsh.oracle,
  )

  private def mineStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "mine", hash(col("ok")), 3)(
      Tables.lineitem(s, dir).select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))(
      IncrementalMine.processBatch(s, _, _, _))

  /** The mining maintainer's SERVE path as a registered row: association
    * rules answered from the maintained (item supports, pair supports,
    * basket census) state after a three-batch basket-hash split — must
    * hash-match q_mine_rules' oracle because support counts are
    * associative partials and the rule arithmetic is exact integer
    * ratios (IncrementalMineSpec pins rules + recs including the
    * below-threshold-in-every-batch accumulation case and replay).
    */
  val serveRulesState = QueryDef(
    "q_serve_rules_state",
    (s, dir) =>
      IncrementalMine.serveRules(s, mineStateBuilt(s, dir)),
    MiningQueries.mineRules.oracle,
  )

  /** trend_v4: the family name is bumped whenever the maintainer adds a
    * state table (v2 `slopes`, v3/v4 `vals`/`moments`/`slopes_cum`), so
    * a state an older writer built is never served mixed.
    */
  private def trendStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "trend_v4", hash(col("event_id")), 3)(
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          col("event_type").as("g"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"),
          cents(col("value")).as("x"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
          cents(col("value")).as("m")))(
      IncrementalTrend.processBatch(s, _, _, _))

  /** The trend maintainer's SERVE path as a registered row: Mann-Kendall/
    * Sen trend answered from the maintained hourly moments after a
    * three-batch event-hash split — must hash-match q_ts_trend's oracle
    * because the hourly aggregation is associative and everything
    * downstream is the one-shot's exact arithmetic (IncrementalTrendSpec
    * pins trend + rfm + replay).
    */
  val serveTrendState = QueryDef(
    "q_serve_trend_state",
    (s, dir) =>
      IncrementalTrend.serveTrend(s, trendStateBuilt(s, dir)),
    TimeSeriesQueries.tsTrend.oracle,
  )

  private def winnowStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "winnow", col("doc_id"), 2)(
      Tables.documents(s, dir).select("doc_id", "text"))(IncrementalWinnow.processBatch(s, _, _, _))

  /** The winnow maintainer's SERVE path as a registered row: the MOSS
    * match step answered from the maintained fingerprint segments after
    * a two-batch parity split — must hash-match q_text_winnow_pairs'
    * oracle because fingerprints are content-only (extraction runs once
    * per doc ever) and the df-cap/match tail is the registered query's
    * verbatim over the same distinct fp relation
    * (IncrementalWinnowSpec pins split-equality, replay no-ops, and the
    * two-writer CAS race).
    */
  val serveWinnowState = QueryDef(
    "q_serve_winnow_state",
    (s, dir) =>
      IncrementalWinnow
        .serveWinnowPairs(s, winnowStateBuilt(s, dir))
        .orderBy("doc_id1", "doc_id2"),
    TextQueries.textWinnowPairs.oracle,
  )

  private def driftStateBuilt(s: SparkSession, dir: String): String =
    splitState(s, dir, "drift", col("doc_id"), 3)(
      Tables.documents(s, dir).select("doc_id", "source", "text"))(
      IncrementalDrift.processBatch(s, _, _, _))

  /** The drift maintainer's SERVE path as a registered row: the top-30
    * Dunning-G² source-drift tokens answered from the maintained
    * (source, token, n) counts after a three-batch split — must
    * hash-match q_text_drift's oracle because count partials merge
    * associatively and the G² arithmetic is the one-shot's verbatim
    * (IncrementalDriftSpec pins equality, replay, and the tag-preserving
    * no-id call).
    */
  val serveDriftState = QueryDef(
    "q_serve_drift_state",
    (s, dir) =>
      IncrementalDrift.driftFromState(s, driftStateBuilt(s, dir)),
    TextQueries.textDrift.oracle,
  )

  def defs: Seq[QueryDef] = Seq(serveHybridState, serveSpanSourceState,
    serveNoveltyState, serveAggState, serveMwState, serveNeardupState,
    serveCdcState, serveShardsState, serveScd2State, serveComponentsState,
    serveRulesState, serveTrendState, serveDriftState, serveWinnowState)
}
