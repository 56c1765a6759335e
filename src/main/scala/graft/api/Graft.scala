package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.{GraftFunctions, Tokenize, VectorOps}
import graft.multimodal.{ContainerOps, PackStore}
import graft.operators.DedupQueries
import graft.streaming.PackSubscribe

/** The user-facing library surface — the step from "query tree the driver
  * runs" to "library a user adopts". One import exposes the engine's
  * flagship families over the caller's OWN DataFrames and paths:
  *
  * {{{
  * import graft.api.implicits._
  *
  * val docs  = spark.read.parquet("s3://corpus/documents")
  * val pairs = docs.graft.nearDupPairs()                  // MinHash-LSH + exact gate
  * val kept  = docs.graft.nearDedup()                     // one survivor per near-dup cluster
  * val store = spark.graft.packStore("s3://corpus/media") // snapshotted object store
  * }}}
  *
  * Every method delegates to the same oracle-checked operator internals the
  * registered query tree runs — the facade adds column-name parameterization
  * and nothing else, so its results inherit the tree's correctness gates.
  */
object implicits {
  implicit class GraftSessionOps(private val spark: SparkSession) extends AnyVal {
    def graft: GraftSession = new GraftSession(spark)
  }
  implicit class GraftFrameOps(private val df: DataFrame) extends AnyVal {
    def graft: GraftFrame = new GraftFrame(df)
  }
}

/** Session-scoped entry points (catalog-level resources). Construction
  * registers the engine's native functions and plan rules idempotently,
  * so a facade user never needs the internal registration call.
  */
final class GraftSession(val spark: SparkSession) {
  GraftFunctions.ensureRegistered(spark)

  /** A snapshotted, multi-writer-safe packfile object store at `base`
    * (time travel, tombstone deletes, changelog subscription — see
    * [[graft.multimodal.PackStore]] for the format contract).
    */
  def packStore(base: String): PackStoreHandle = new PackStoreHandle(spark, base)

  /** Handle over one IncrementalStats histogram state base — the
    * accreting value-distinct state that serves the statistical-test
    * family exactly (see [[graft.streaming.IncrementalStats]]).
    */
  def statsState(base: String): StatsStateHandle = new StatsStateHandle(spark, base)

  /** Handle over one IncrementalMine basket-mining state base — the
    * unfiltered co-occurrence state that serves association rules and
    * item-item recommendations exactly (see
    * [[graft.streaming.IncrementalMine]]).
    */
  def mineState(base: String): MineStateHandle = new MineStateHandle(spark, base)

  /** Handle over one IncrementalTrend state base — the hourly trend
    * grain + per-user RFM triple that serve MK/Sen trend and RFM
    * segmentation exactly (see [[graft.streaming.IncrementalTrend]]).
    */
  def trendState(base: String): TrendStateHandle = new TrendStateHandle(spark, base)

  /** Handle over one IncrementalIndex inverted-index state base — the
    * append-only posting segments + merged stats that serve search
    * heads, BM25, and the RRF hybrid exactly (see
    * [[graft.streaming.IncrementalIndex]]).
    */
  def indexState(base: String): IndexStateHandle = new IndexStateHandle(spark, base)

  /** Handle over one IncrementalSpan state base — the append-only window
    * occurrences + merged (count, min-holder) stats that serve the span
    * provenance audit exactly (see [[graft.streaming.IncrementalSpan]]).
    */
  def spanState(base: String): SpanStateHandle = new SpanStateHandle(spark, base)
}

/** Handle over one span-provenance state. `ingest` lands a micro-batch
  * of documents (each doc_id exactly once across batches); [[provenance]]
  * answers from state alone and equals the registered q_text_span_source
  * bit-for-bit (IncrementalSpanSpec).
  */
final class SpanStateHandle(val spark: SparkSession, val base: String) {
  import graft.streaming.IncrementalSpan

  /** Land one batch of (id, text) documents; `batchId` enables replay
    * protection (at-least-once without one).
    */
  def ingest(df: DataFrame, id: String = "doc_id", text: String = "text",
      batchId: Option[Long] = None): Unit =
    IncrementalSpan.processBatch(spark,
      df.select(col(id).as("doc_id"), col(text).as("text")), base, batchId)

  /** The full who-copied-whom audit over everything ingested. */
  def provenance: DataFrame = IncrementalSpan.serveSpanSource(spark, base)

  /** Novelty of a candidate (id, text) slice against the ingested
    * corpus — the admission question asked from state, WITHOUT ingesting
    * the slice (q_text_novelty's 100 TB path).
    */
  def noveltyOf(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    IncrementalSpan.serveNovelty(spark, base,
        df.select(col(id).as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** Fold the per-batch occ/docs segments into one dir each (content
    * unchanged; r12 — the indexState compact discipline applied to span
    * state). Safe to run concurrently with ingest.
    */
  def compact(): Unit = IncrementalSpan.compactSegments(spark, base)
}

/** Handle over one inverted-index state. `ingest` lands a micro-batch of
  * documents append-only (each doc_id exactly once across batches — the
  * corpus-ingest contract); the serve verbs answer from state alone and
  * equal their one-shot registered twins bit-for-bit
  * (IncrementalIndexSpec): [[searchHeads]] ≡ q_text_index, [[bm25]] ≡
  * the facade bm25, [[hybrid]] ≡ q_text_hybrid.
  */
final class IndexStateHandle(val spark: SparkSession, val base: String) {
  import graft.streaming.IncrementalIndex

  /** Land one batch of (id, text) documents. Pass the caller's
    * monotonically-increasing `batchId` for replay protection; the
    * streaming path ([[attachStream]]) supplies it automatically.
    */
  def ingest(df: DataFrame, id: String = "doc_id", text: String = "text",
      batchId: Option[Long] = None): Unit =
    IncrementalIndex.processBatch(spark,
      df.select(col(id).as("doc_id"), col(text).as("text")), base, batchId)

  /** Attach a streaming documents frame: one micro-batch = one posting
    * segment, exactly-once per batchId. Caller sets checkpoint/trigger.
    */
  def attachStream(stream: DataFrame): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    IncrementalIndex.attach(stream, base)

  /** q_text_index's df-filtered posting heads, served from state. */
  def searchHeads(minDf: Long = 5L, k: Int = 5): DataFrame =
    IncrementalIndex.searchHeads(spark, base, minDf, k)

  /** BM25 top-k over the indexed corpus for a (query_id, query_text)
    * frame, served from state.
    */
  def bm25(queries: DataFrame, k: Int = 5): DataFrame =
    IncrementalIndex.bm25(spark, base, queries, k)

  /** RRF hybrid retrieval (state-served lexical ranking fused with the
    * cosine scan of `embeddings`), bit-equal to q_text_hybrid.
    */
  def hybrid(embeddings: DataFrame): DataFrame =
    IncrementalIndex.serveHybrid(spark, base, embeddings)

  /** Fold all live posting segments into one (the LSM compaction). */
  def compact(): Unit = IncrementalIndex.compactSegments(spark, base)
}

/** Handle over one basket-mining state. `ingest` merges a micro-batch
  * of WHOLE baskets (basket atomicity contract); the serve verbs answer
  * from state alone and equal the registered q_mine_rules / q_mine_recs
  * bit-for-bit (IncrementalMineSpec).
  */
final class MineStateHandle(val spark: SparkSession, val base: String) {
  import graft.streaming.IncrementalMine

  /** Merge one batch of (basket, item) rows. Pass the caller's
    * monotonically-increasing `batchId` (e.g. foreachBatch's) to get the
    * streaming path's replay protection — a retried/double-called ingest
    * with the same id is skipped instead of double-counting every
    * support and pair. Callers without one get at-least-once semantics.
    */
  def ingest(df: DataFrame, basket: String, item: String,
      batchId: Option[Long] = None): Unit =
    IncrementalMine.processBatch(spark,
      df.select(col(basket).as("ok"), col(item).as("pk")), base, batchId)

  def rules: DataFrame = IncrementalMine.serveRules(spark, base)
  def recommendations: DataFrame = IncrementalMine.serveRecs(spark, base)
}

/** Handle over one trend/RFM state. `ingest` merges a micro-batch of
  * raw events; the serve verbs answer from state alone and equal the
  * registered q_ts_trend / q_events_rfm bit-for-bit
  * (IncrementalTrendSpec).
  */
final class TrendStateHandle(val spark: SparkSession, val base: String) {
  import graft.streaming.IncrementalTrend

  /** Merge one batch of events: `group` the series key, `ts` the event
    * time, `value` a numeric quantized to cents. Pass the caller's
    * monotonically-increasing `batchId` (e.g. foreachBatch's) to get the
    * streaming path's replay protection — a retried/double-called ingest
    * with the same id is skipped instead of double-counting every hourly
    * x and per-user f/m. Callers without one get at-least-once semantics.
    */
  def ingest(df: DataFrame, subject: String, group: String, ts: String,
      value: String, batchId: Option[Long] = None): Unit = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    IncrementalTrend.processBatch(spark,
      df.select(col(subject).as("user_id"), col(group).as("g"),
        expr(s"unix_micros(cast($ts as timestamp)) div 3600000000").as("h"),
        (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("x"),
        expr(s"unix_micros(cast($ts as timestamp))").as("ts_us"),
        (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("m")),
      base, batchId)
  }

  def trend: DataFrame = IncrementalTrend.serveTrend(spark, base)
  def rfm: DataFrame = IncrementalTrend.serveRfm(spark, base)
}

/** Handle over one statistical-test histogram state. `ingest` merges a
  * (grp, v) micro-batch; the serve verbs answer from state alone and
  * equal their one-shot [[GraftFrame]] twins bit-for-bit
  * (IncrementalStatsSpec).
  */
final class StatsStateHandle(val spark: SparkSession, val base: String) {
  import graft.streaming.IncrementalStats

  /** Merge one batch of observations: `group` is the sample label,
    * `value` a numeric quantized to cents (the family's discipline).
    * Pass the caller's monotonically-increasing `batchId` to get the
    * streaming path's replay protection; callers without one get
    * at-least-once semantics.
    */
  def ingest(df: DataFrame, group: String, value: String,
      batchId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    IncrementalStats.processBatch(spark,
      df.select(col(group).as("grp"),
        (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("v")),
      base, batchId)
  }

  /** The current histogram (grp, v cents, t). */
  def state: DataFrame = IncrementalStats.readState(spark, base)

  def mannWhitney(sample1: String): DataFrame =
    IncrementalStats.serveMannWhitney(spark, base, sample1)
  def ksTest(sample1: String): DataFrame =
    IncrementalStats.serveKs(spark, base, sample1)
  def kruskal: DataFrame = IncrementalStats.serveKruskal(spark, base)
  def ttest(sample1: String): DataFrame =
    IncrementalStats.serveTtest(spark, base, sample1)
  def anova: DataFrame = IncrementalStats.serveAnova(spark, base)
  def mad: DataFrame = IncrementalStats.serveMad(spark, base)
}

/** Handle over one pack-store base. Thin delegation — the format and
  * concurrency contracts live on [[graft.multimodal.PackStore]].
  */
final class PackStoreHandle(val spark: SparkSession, val base: String) {

  /** First publish: the whole batch becomes the base generation.
    * `meta` attaches record-level metadata (media_id + typed columns)
    * to the component — the queryable index behind [[scanWhere]].
    */
  def init(objects: Dataset[(Long, Array[Byte])], nPacks: Int = 32,
      meta: Option[DataFrame] = None): Unit =
    PackStore.initBase(spark, base, objects, nPacks, meta)

  /** Land one ingest batch as a delta component (optimistic publish —
    * concurrent appenders all land).
    */
  def append(objects: Dataset[(Long, Array[Byte])], nPacks: Int = 1,
      meta: Option[DataFrame] = None): Unit =
    PackStore.appendDelta(spark, base, objects, nPacks, meta = meta)

  /** Tombstone-delete ids: scans subtract them, pre-delete snapshots keep
    * them, the next compaction drops them physically.
    */
  def delete(ids: Dataset[Long]): Unit = PackStore.deleteIds(spark, base, ids)

  /** Atomic replace-or-insert: ONE publish carries both the tombstone
    * for the batch's ids and their new versions — readers see old or
    * new, never a mix or a gap; changelog consumers get retractions +
    * adds in the same poll (apply deletes first).
    */
  def upsert(objects: Dataset[(Long, Array[Byte])], nPacks: Int = 1,
      meta: Option[DataFrame] = None): Unit =
    PackStore.upsert(spark, base, objects, nPacks, meta = meta)

  /** Live record-level metadata (publishes' `meta` frames, version-
    * tracked exactly like the bytes).
    */
  def meta(): DataFrame = PackStore.scanMeta(spark, base)

  /** Metadata-pruned byte scan: fetch only objects whose live metadata
    * row satisfies `pred` — packs with no qualifying object are never
    * opened.
    */
  def scanWhere(pred: Column): Dataset[(Long, Array[Byte])] =
    PackStore.scanBytesWhere(spark, base, pred)

  /** Live bytes (tombstones subtracted), optionally id-range pruned. */
  def scan(idRange: Option[(Long, Long)] = None): Dataset[(Long, Array[Byte])] =
    PackStore.scanBytes(spark, base, idRange)

  /** Bytes exactly as snapshot `id` published them (time travel); typed
    * failure if the snapshot was vacuumed away.
    */
  def scanAt(id: Long): Dataset[(Long, Array[Byte])] =
    PackStore.scanBytes(spark, base, snapshot = Some(id))

  /** Live corpus parsed as media containers (PNG/JPEG/WAV/MP4 metadata
    * from the bytes; malformed payloads surface as typed error rows).
    */
  def parseContainers(): Dataset[ContainerOps.ContainerRow] = PackStore.scan(spark, base)

  /** Pin snapshot `id` under an immutable name (Iceberg tag semantics):
    * a tagged snapshot — and every component it references — survives
    * [[vacuum]] regardless of the retention window until [[dropTag]].
    */
  def createTag(name: String, id: Long): Unit = PackStore.createTag(spark, base, name, id)

  /** Bytes exactly as the tagged snapshot published them. */
  def scanTag(name: String): Dataset[(Long, Array[Byte])] =
    PackStore.scanBytes(spark, base, snapshot = Some(PackStore.resolveTag(spark, base, name)))

  /** All readable tags, name-sorted. */
  def listTags(): Seq[(String, Long)] = PackStore.listTags(spark, base)

  /** Remove the pin; the snapshot then expires under normal retention. */
  def dropTag(name: String): Unit = PackStore.dropTag(spark, base, name)

  /** Fork the current tip (or snapshot `at`) as writable branch `name`
    * (Iceberg branch semantics) and return its handle — every store verb
    * works on it, isolated from this store until [[mergeBranch]].
    */
  def createBranch(name: String, at: Option[Long] = None): PackStoreHandle = {
    PackStore.createBranch(spark, base, name, at)
    branch(name)
  }

  /** Handle on an existing branch's store. */
  def branch(name: String): PackStoreHandle =
    new PackStoreHandle(spark, PackStore.branchBase(base, name))

  /** All readable branches, name-sorted, with their fork snapshot ids. */
  def listBranches(): Seq[(String, Long)] = PackStore.listBranches(spark, base)

  /** Strict fast-forward merge of branch `name` back into this store;
    * typed refusal if this store's content moved since the fork.
    */
  def mergeBranch(name: String): Long = PackStore.mergeBranch(spark, base, name)

  /** Delete the branch; typed refusal while merged-but-not-yet-compacted
    * components under it are still referenced by this store.
    */
  def dropBranch(name: String): Unit = PackStore.dropBranch(spark, base, name)

  /** Newest published snapshot id, None for an empty store. */
  def tip: Option[Long] = PackStore.latestSnapshotId(spark, base)

  /** Changelog poll: adds + delete retractions published in snapshots
    * (`cursor`, tip], each exactly once, and the cursor to persist.
    */
  def poll(cursor: Long): PackSubscribe.Changes = PackSubscribe.poll(spark, base, cursor)

  /** Merge live components into one fresh generation (validated
    * optimistic commit; concurrent deltas are never lost).
    */
  def compact(nPacks: Int = 32): Unit = PackStore.compact(spark, base, nPacks)

  /** Fold the trailing delta/tombstone run into one delta WITHOUT
    * rewriting the base generation — cost tracks the tail (the day's
    * ingest), not the corpus; the physical drop of tombstoned bytes
    * stays with full [[compact]].
    */
  def compactTail(nPacks: Int = 1): Unit = PackStore.compactTail(spark, base, nPacks)

  /** Expire all but the newest `retainSnapshots` snapshots and reclaim
    * unreferenced dirs + orphaned task-attempt files.
    */
  def vacuum(retainSnapshots: Int = 1): Unit =
    PackStore.vacuum(spark, base, retainSnapshots)

  /** One-row operational snapshot of the store — the numbers an
    * operator checks before/after a compaction or vacuum: live
    * component counts by family (base packs / deltas / tombstones),
    * tombstoned id mass, live id range, snapshot tip and retained
    * snapshot count. Driver-side listing of the snapshot metadata only
    * (component dirs are never opened except tombstone manifests, whose
    * row counts are parquet-footer reads).
    */
  def stats(): DataFrame = {
    import spark.implicits._
    val tip = PackStore.latest(spark, base)
    val (tombs, data) = tip.comps.partition(_.dir.contains("/tombs/"))
    val tombIds =
      if (tombs.isEmpty) 0L
      else tombs.map(c => spark.read.parquet(c.dir).count()).sum
    Seq((
      tip.version,
      PackStore.snapshotIds(spark, base).size.toLong,
      data.count(_.dir.contains("/packs/")).toLong,
      data.count(_.dir.contains("/deltas/")).toLong,
      tombs.size.toLong,
      tombIds,
      if (data.isEmpty) -1L else data.map(_.minId).min,
      if (data.isEmpty) -1L else data.map(_.maxId).max,
      PackStore.listTags(spark, base).size.toLong,
      PackStore.listBranches(spark, base).size.toLong,
    )).toDF("tip", "retained_snapshots", "base_components", "delta_components",
      "tombstone_components", "tombstoned_ids", "min_id", "max_id",
      "tags", "branches")
  }

  /** SQL access: register the store's live views in the session catalog
    * as `<prefix>_bytes` (media_id, payload), `<prefix>_meta` (the
    * record-level metadata), and `<prefix>_containers` (the parsed
    * container fields) — `spark.sql("SELECT ... FROM media_meta WHERE
    * sample_rate >= 16000")` sees exactly what the DataFrame scans see,
    * through the same plans (tombstone subtraction, version tracking and
    * all; deliberately NOT a custom DataSource — that would re-implement
    * the scan outside Catalyst and hide its joins from the optimizer).
    * Views pin the component set read at registration time — a
    * consistent snapshot; re-register to observe later publishes.
    */
  def createViews(prefix: String): Unit = {
    scan().toDF("media_id", "payload").createOrReplaceTempView(s"${prefix}_bytes")
    meta().createOrReplaceTempView(s"${prefix}_meta")
    parseContainers().toDF().createOrReplaceTempView(s"${prefix}_containers")
  }

  /** Push-based changelog subscription: a Structured Streaming query
    * over the snapshots directory (each publish is a new file; the file
    * source's checkpointed listing is the cursor). The handler receives
    * each batch's Changes — at-least-once on crash-replay, exactly-once
    * for idempotent handlers. Caller sets checkpoint/trigger and starts.
    */
  def followStream(handler: PackSubscribe.Changes => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    PackSubscribe.follow(spark, base)(handler)

  /** Attach a streaming (media_id, payload) frame to this store: one
    * micro-batch = one delta publish, exactly-once per batchId (the id
    * is committed inside the atomically-swapped snapshot pointer, so
    * replays are detected and skipped), compaction + retention vacuum on
    * a delta-count cadence. `upsertMode` lands each batch as an atomic
    * upsert instead — re-emitted ids REPLACE their old versions (CDC
    * ingest). Caller sets checkpoint/trigger and starts the returned
    * writer; one query owns a store.
    */
  def attachStream(stream: DataFrame, nPacks: Int = 1, maxDeltas: Int = 4,
      retainSnapshots: Int = 2, upsertMode: Boolean = false): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.streaming.PackIngest.attach(stream, base, nPacks, maxDeltas, retainSnapshots, upsertMode)
}

/** DataFrame-scoped operators, parameterized over the caller's column
  * names. Defaults match the fixture schema (`doc_id`, `text`, `lang`,
  * `vec_id`, `embedding`) so fixture-shaped frames work with zero
  * arguments.
  */
final class GraftFrame(val df: DataFrame) {
  // the frame path must be self-sufficient too — a user who never touches
  // spark.graft still gets the native expressions and plan rules
  GraftFunctions.ensureRegistered(df.sparkSession)

  // ---------- text analysis ----------

  /** Append a whitespace token count column (the engine's canonical
    * length estimator — same segmentation as every dedup/text operator).
    */
  def withTokenCount(text: String = "text", out: String = "n_tokens"): DataFrame =
    df.withColumn(out, Tokenize.tokenCount(col(text)))

  /** Append the engine's document quality score (type-token ratio,
    * stopword ratio, length saturation — the q_text_quality formula).
    */
  def withQualityScore(text: String = "text", out: String = "quality_score"): DataFrame = {
    val toks = Tokenize.tokens(col(text))
    val nTok = size(toks).cast(DoubleType)
    val nDis = size(array_distinct(toks)).cast(DoubleType)
    val nStop = size(filter(toks,
      t => t.isin("the", "a", "of", "and", "in", "to"))).cast(DoubleType)
    df.withColumn(out, round(
      lit(0.3) * (nDis / nTok)
        + lit(0.5) * (lit(1.0) - nStop / nTok)
        + lit(0.2) * least(lit(1.0), nTok / lit(100.0)), 6))
  }

  // ---------- deduplication ----------

  /** EXACT dedup: one surviving row per distinct `text` (the minimum-`id`
    * row). One hash shuffle on the text + an id semi-join — no windows
    * over the full corpus.
    */
  def exactDedup(id: String = "doc_id", text: String = "text"): DataFrame = {
    val keep = df.groupBy(col(text).as("__g_text"))
      .agg(min(col(id)).as("__g_keep"))
      .select(col("__g_keep"))
    df.join(keep, df(id) === keep("__g_keep"), "left_semi")
  }

  /** NEAR-dup pairs at Jaccard ≥ num/den over whitespace token sets:
    * per-row MinHash signatures (zero shuffle), one banded-LSH shuffle
    * for candidates, then the exact verify gate (size-band + early-exit
    * sorted intersect) — precision 1.0 by construction, recall bounded by
    * the banding (≈0.99 at J = 0.5 with the 16×2 default). `lang = None`
    * treats the corpus as one block; naming a language column restricts
    * candidate generation within it.
    */
  def nearDupPairs(id: String = "doc_id", text: String = "text",
      lang: Option[String] = Some("lang"), num: Int = 1, den: Int = 2,
      bands: Int = 16, nHashes: Int = 32): DataFrame = {
    val langCol = lang.fold(lit(""): Column)(col)
    val sets = df.select(col(id).as("doc_id"), langCol.as("lang"),
      Tokenize.tokenSet(col(text)).as("toks"))
    val cands = DedupQueries.minhashBandCandidatesSkewSafe(sets, bands, nHashes)
    val hashed = df.select(col(id).as("doc_id"), Tokenize.hashedTokenSet(col(text)).as("toksh"))
    DedupQueries.verifyJaccard(cands, hashed, num, den)
      .withColumnRenamed("doc_id1", s"${id}_1").withColumnRenamed("doc_id2", s"${id}_2")
  }

  /** Containment pairs at |A∩B|/|A| ≥ num/den where A is the smaller
    * token set — the ASYMMETRIC duplication mode (short doc quoted
    * inside a long one) Jaccard-gated dedup misses. Candidates come
    * from the lossless AllPairs prefix filter (each doc's rarest
    * (1−t)·|A|+1 tokens joined against full posting lists — never all
    * pairs), then the exact integer-threshold verify. Returns
    * (contained_id, container_id, containment).
    */
  def containmentPairs(id: String = "doc_id", text: String = "text",
      lang: Option[String] = Some("lang"), num: Int = 4, den: Int = 5): DataFrame = {
    val langCol = lang.fold(lit(""): Column)(col)
    val t = df.select(col(id).as("doc_id"), langCol.as("lang"),
        Tokenize.hashedTokenSet(col(text)).as("toksh"))
      .withColumn("sz", size(col("toksh")))
      .localCheckpoint()
    DedupQueries.verifyContainment(
        DedupQueries.containmentPrefixCandidates(t, num, den), t, num, den)
      .withColumnRenamed("contained_id", s"${id}_contained")
      .withColumnRenamed("container_id", s"${id}_container")
  }

  /** Transitive near-dup clusters: verified pairs → pointer-jumping
    * connected components (log₂-diameter rounds, never the quadratic
    * pair space). Returns (`id`, cluster) where cluster = the minimum
    * member id.
    */
  def dedupClusters(id: String = "doc_id", text: String = "text",
      lang: Option[String] = Some("lang"), num: Int = 1, den: Int = 2,
      bands: Int = 16, nHashes: Int = 32): DataFrame = {
    val pairs = nearDupPairs(id, text, lang, num, den, bands, nHashes)
      .select(col(s"${id}_1").as("doc_id1"), col(s"${id}_2").as("doc_id2"))
    val labels = DedupQueries.connectedComponents(df.select(col(id).as("doc_id")), pairs)
    labels.select(col("doc_id").as(id), col("cluster_id").as("cluster"))
  }

  /** NEAR dedup: one surviving row per near-dup cluster (the minimum-`id`
    * member), singletons untouched.
    */
  def nearDedup(id: String = "doc_id", text: String = "text",
      lang: Option[String] = Some("lang"), num: Int = 1, den: Int = 2,
      bands: Int = 16, nHashes: Int = 32): DataFrame = {
    val labels = dedupClusters(id, text, lang, num, den, bands, nHashes)
      .filter(col(id) === col("cluster")).select(col(id).as("__g_keep"))
    df.join(labels, df(id) === labels("__g_keep"), "left_semi")
  }

  /** NEAR dedup keeping the BEST copy per cluster instead of the
    * min-id one: the surviving row maximizes `by` (ties → lowest `id`) —
    * e.g. `by = "quality"` after [[withQualityScore]], or a length
    * column, so the cluster representative is the most complete copy.
    * One `max_by` hash aggregate per cluster (partial-aggregated; a
    * million-member cluster never funnels through one task).
    */
  def nearDedupBest(by: String, id: String = "doc_id", text: String = "text",
      lang: Option[String] = Some("lang"), num: Int = 1, den: Int = 2,
      bands: Int = 16, nHashes: Int = 32): DataFrame = {
    val labels = dedupClusters(id, text, lang, num, den, bands, nHashes)
    val keep = df.select(col(id), col(by))
      .join(labels, id)
      .groupBy("cluster")
      .agg(max_by(col(id), struct(col(by), -col(id))).as("__g_keep"))
      .select("__g_keep")
    df.join(keep, df(id) === keep("__g_keep"), "left_semi")
  }

  /** The composed nightly curation pipeline as one declarative plan:
    * quality gate at `minQuality` → exact dedup (min-id representative
    * per identical text) → near-dedup (drop any doc with a lower-id
    * quality-surviving near-twin at Jaccard ≥ num/den; LSH candidates +
    * exact verify, never all-pairs). Returns surviving rows with
    * `n_tokens` and `quality_score` attached. The J ≥ 0.8 / 0.5-gate
    * instance is oracle-checked end-to-end as q_pipeline_curate.
    */
  def curate(id: String = "doc_id", text: String = "text",
      lang: Option[String] = Some("lang"), minQuality: Double = 0.5,
      num: Int = 4, den: Int = 5): DataFrame = {
    val langCol = lang.fold(lit(""): Column)(col)
    val canonical = df.select(col(id).as("doc_id"), langCol.as("lang"), col(text).as("text"))
    graft.operators.CurationPipeline.curateSurvivors(canonical, minQuality, num, den)
      .select(col("doc_id").as(id), col("lang"), col("n_tokens"), col("quality_score"))
  }

  // ---------- temporal ----------

  /** Native as-of join: for each row of this frame, the latest `right`
    * row with `rightTs` ≤ `leftTs` within equal keys (the
    * sort-merge-without-pair-blowup operator behind q_join_asof_native;
    * one co-partitioned sort, no exchange when inputs are already
    * key-partitioned). The right side's columns must not share attribute
    * names with this frame — alias them first, as with a Spark
    * self-join.
    */
  def asofJoin(right: DataFrame, leftOn: Seq[String], rightOn: Seq[String],
      leftTs: String, rightTs: String): DataFrame =
    graft.plans.AsOfJoin.asof(df, right, leftOn, rightOn, leftTs, rightTs)

  /** Gap sessionization over a numeric time column: a silence longer
    * than `gap` (same unit as `ts`) starts a new session. Emits one row
    * per (key, session) with count and start/end. One shuffle on `key`;
    * both window passes share the sort. Pass `tieBreak` columns when
    * `ts` can repeat within a key, so session numbering is
    * deterministic.
    */
  def sessionize(key: String = "user_id", ts: String = "ts_us",
      gap: Long = 1800000000L, tieBreak: Seq[String] = Nil): DataFrame = {
    val order = col(ts) +: tieBreak.map(col)
    val w = Window.partitionBy(key).orderBy(order: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev_ts", lag(col(ts), 1).over(w))
      .withColumn("__new_sess",
        when(col("__prev_ts").isNull || col(ts) - col("__prev_ts") > gap, 1L)
          .otherwise(0L))
      .withColumn("session", sum("__new_sess").over(run))
      .groupBy(col(key), col("session"))
      .agg(count(lit(1)).as("n_events"),
        min(col(ts)).as(s"${ts}_start"), max(col(ts)).as(s"${ts}_end"))
  }

  // ---------- similarity search ----------

  /** Brute-force cosine top-k of this frame (the corpus) for each row of
    * `queries` (broadcast — keep the query side small; for corpus-sized
    * query sets use the LSH/IVF graph operators). Emits
    * (q_<id>, rank, <id>, cos), self-matches excluded.
    */
  def cosineTopK(queries: DataFrame, k: Int = 5,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val q = queries.select(col(id).as(s"q_$id"), col(vec).as("__q_vec"))
    val scored = df.select(col(id), col(vec).as("__c_vec"))
      .crossJoin(broadcast(q))
      .filter(col(s"q_$id") =!= col(id))
      .withColumn("cos", round(VectorOps.cosine(col("__q_vec"), col("__c_vec")), 6))
    val w = Window.partitionBy(s"q_$id").orderBy(desc("cos"), asc(id))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(s"q_$id"), col("rank"), col(id), col("cos"))
  }

  /** Inverted-index posting heads + per-token stats (q_text_index's
    * shape over any (id, text) frame): (token, df, cf, rn, id, tf) for
    * tokens with df ≥ `minDf`, top-`k` postings by tf. One tokenize +
    * one (id, token) aggregate + one token shuffle (stats fold into the
    * posting window partition — the single-scan build).
    */
  def invertedIndex(id: String = "doc_id", text: String = "text",
      minDf: Long = 5L, k: Int = 5): DataFrame = {
    val tf = df.select(col(id), explode(Tokenize.tokens(col(text))).as("token"))
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    val wOrd = Window.partitionBy("token").orderBy(desc("tf"), asc(id))
    val wAll = Window.partitionBy("token")
    tf.withColumn("rn", row_number().over(wOrd))
      .withColumn("df", count(lit(1)).over(wAll))
      .withColumn("cf", sum("tf").over(wAll))
      .filter(col("rn") <= k && col("df") >= minDf)
      .select(col("token"), col("df"), col("cf"), col("rn"), col(id), col("tf"))
  }

  /** BM25 ranked retrieval of this corpus against a queries frame
    * (`qid`, `qtext` — each row one query, its whitespace tokens the
    * terms): top-`k` docs per query by the Robertson-idf BM25 score.
    * The query term set broadcasts; corpus joins carry matching
    * postings only (q_text_bm25's plan over arbitrary frames).
    */
  def bm25(queries: DataFrame, k: Int = 5,
      id: String = "doc_id", text: String = "text",
      qid: String = "query_id", qtext: String = "query_text",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = df.select(col(id), explode(Tokenize.tokens(col(text))).as("token"))
    val tf = toks.groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val docs = df.select(col(id), Tokenize.tokenCount(col(text)).cast("long").as("dl"))
    val glob = docs.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val qterms = queries.select(col(qid),
      explode(array_distinct(Tokenize.tokens(col(qtext)))).as("token"))
    val contrib = tf.join(broadcast(qterms), "token")
      .join(dfRel, "token").join(docs, id).crossJoin(broadcast(glob))
      .withColumn("__c",
        round(log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)))
          * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl"))),
          8).cast(org.apache.spark.sql.types.DecimalType(18, 8)))
    val scores = contrib.groupBy(col(qid), col(id))
      .agg(count(lit(1)).as("n_terms"), round(sum("__c").cast("double"), 6).as("score"))
    val w = Window.partitionBy(qid).orderBy(desc("score"), asc(id))
    scores.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qid), col("rank"), col(id), col("n_terms"), col("score"))
  }

  /** TextRank corpus keywords: top-`k` tokens by PageRank over the
    * symmetrized adjacent-token co-occurrence graph (q_text_textrank
    * over any text frame; node ids are portable char-fold hashes).
    */
  def keywords(k: Int = 10, text: String = "text"): DataFrame = {
    val toks = df.select(Tokenize.tokens(col(text)).as("toks"))
    val bg = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS t1, toks[i] AS t2))"))
        .as("b"))
      .select(col("b.t1").as("t1"), col("b.t2").as("t2"))
      .filter(col("t1") =!= col("t2")).distinct()
    val nodes = toks.select(explode(col("toks")).as("token")).distinct()
      .select(col("token"), graft.functions.PortableHash.tokenHash(col("token")).as("vec_id"))
    val e1 = bg
      .join(nodes.select(col("token").as("t1"), col("vec_id").as("src")), "t1")
      .join(nodes.select(col("token").as("t2"), col("vec_id").as("dst")), "t2")
      .select("src", "dst")
    val edges = e1.union(e1.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val pr = graft.operators.VectorQueries.pagerankOnEdges(nodes.select("vec_id"), edges)
    val w = Window.orderBy(desc("pr"), asc("token"))
    pr.join(nodes, "vec_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("rank", "token", "pr")
  }

  /** k-center greedy diversity selection over an embeddings frame
    * (Gonzalez 2-approximation, q_vec_coreset's rounds): `(rank, id,
    * dist_to_set)` for `k` maximally-spread exemplars. Each round is one
    * broadcast scan + a 1-row driver read — O(k·N), never a pair matrix.
    */
  def coreset(k: Int = 10, id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val e = df.select(col(id), col(vec)).localCheckpoint()
    import df.sparkSession.implicits._
    // fewer rows than k: return the available exemplars instead of blowing
    // up with NoSuchElementException after k' rounds of work
    e.orderBy(id).limit(1).collect().headOption match {
      case None => Seq.empty[(Int, Long, Double)].toDF("rank", id, "dist_to_set")
      case Some(first) =>
        var picked = Seq((1, first.getLong(0), 0.0))
        var md = e.withColumn("__md",
          round(lit(1.0) - VectorOps.cosine(col(vec), typedlit(first.getSeq[Float](1))), 6))
        var exhausted = false
        for (r <- 2 to k if !exhausted) {
          md.filter(!col(id).isInCollection(picked.map(_._2)))
            .orderBy(desc("__md"), asc(id)).limit(1)
            .select(col(id), col(vec), col("__md")).collect().headOption match {
            case None => exhausted = true
            case Some(p) =>
              picked = picked :+ ((r, p.getLong(0), p.getDouble(2)))
              md = md.withColumn("__md", least(col("__md"),
                round(lit(1.0) - VectorOps.cosine(col(vec), typedlit(p.getSeq[Float](1))), 6)))
          }
        }
        picked.toDF("rank", id, "dist_to_set")
    }
  }

  /** EXACT heavy hitters of column `c`: values with count > N/`fraction`
    * via the two-phase Misra–Gries discipline (q_agg_heavyhitters):
    * constant-memory per-partition summaries provably cover every heavy
    * value, a broadcast recount filters exactly.
    */
  def heavyHitters(c: String, fraction: Int = 64, buffer: Int = 128): DataFrame = {
    import df.sparkSession.implicits._
    val vals = df.select(col(c).cast("string").as("__hh"))
    val cands = vals.as[String]
      .mapPartitions(graft.operators.AggQueries.mgCandidates(_, buffer))
      .toDF("__hh").distinct()
    val total = vals.agg(count(lit(1)).as("__total"))
    vals.join(broadcast(cands), "__hh")
      .groupBy("__hh").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * fraction > col("__total"))
      .select(col("__hh").as(c), col("n"))
  }

  /** Deterministic k-per-stratum uniform sample (q_sample_reservoir's
    * hash-priority reservoir): `(stratum cols..., rank, id)` for the k
    * smallest composed-PortableHash priorities of `id` per stratum —
    * reproducible across runs and engines, unlike rand()-based sampling.
    */
  def reservoirSample(k: Int = 20, id: String = "doc_id",
      strata: Seq[String] = Seq("lang")): DataFrame = {
    val ph = graft.functions.PortableHash
    val pr = ((ph.idMod(col(id)) * ph.Scramble1Mul + ph.Scramble1Add) % ph.SeedMod
      * ph.Scramble2Mul + ph.Scramble2Add) % ph.SeedMod
    val w = Window.partitionBy(strata.map(col): _*).orderBy(asc("__pri"), asc(id))
    df.withColumn("__pri", pr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("__pri")
  }

  /** Per-token Dunning G² drift vs another corpus slice (q_text_drift's
    * core over arbitrary frames): top-`k` most-drifted tokens between
    * THIS frame and `other`, with both counts. minTotal filters the
    * noise floor.
    */
  def drift(other: DataFrame, k: Int = 30, text: String = "text",
      minTotal: Long = 10L): DataFrame = {
    val a = df.select(explode(graft.functions.Tokenize.tokens(col(text))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("ka"))
    val b = other.select(explode(graft.functions.Tokenize.tokens(col(text))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("kb"))
    val counts = a.join(b.withColumnRenamed("token", "t2"),
        col("token") === col("t2"), "full_outer")
      .select(coalesce(col("token"), col("t2")).as("token"),
        coalesce(col("ka"), lit(0L)).as("ka"), coalesce(col("kb"), lit(0L)).as("kb"))
      .filter(col("ka") + col("kb") >= minTotal)
    val tot = counts.agg(sum("ka").as("na"), sum("kb").as("nb"))
    def term(kc: Column, nc: Column): Column = {
      val e = nc.cast("double") * (col("ka") + col("kb")) / (col("na") + col("nb"))
      when(kc > 0, round(kc.cast("double") * log(kc.cast("double") / e), 8)
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)))
        .otherwise(lit(0.0).cast(org.apache.spark.sql.types.DecimalType(18, 8)))
    }
    val w = Window.orderBy(desc("g2"), asc("token"))
    counts.crossJoin(broadcast(tot))
      .withColumn("g2", round((term(col("ka"), col("na"))
        + term(col("kb"), col("nb"))).cast("double") * 2.0, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("rank", "token", "ka", "kb", "g2")
      .orderBy("rank")
  }

  /** First-order Markov transition matrix over an ordered-per-key event
    * frame (q_events_markov's core): `(from_type, to_type, n, p)`.
    */
  def markov(key: String = "user_id", typ: String = "event_type",
      order: Seq[String] = Seq("ts_us", "event_id")): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order.map(col): _*)
    val pairs = df.withColumn("__to", lead(typ, 1).over(w))
      .filter(col("__to").isNotNull)
      .groupBy(col(typ).as("from_type"), col("__to").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("__ft"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__ft"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Frequent item pairs over this frame's (basket, item) columns —
    * q_mine_itemsets' apriori-prefiltered core: `(p1, p2, support)`.
    * Thresholds are absolute basket counts.
    */
  def frequentPairs(basket: String = "ok", item: String = "pk",
      minItemSup: Long = 25, minPairSup: Long = 2,
      maxBasket: Option[Int] = None): DataFrame = {
    val bi = df.select(col(basket).as("ok"), col(item).as("pk")).distinct()
    maxBasket match {
      case Some(cap) =>
        graft.operators.MiningQueries.frequentPairsCappedOn(bi, minItemSup, minPairSup, cap)
      case None =>
        graft.operators.MiningQueries.frequentPairsOn(bi, minItemSup, minPairSup)
    }
  }

  /** Association rules from this frame's frequent pairs — q_mine_rules'
    * core: `(ant, cons, support, confidence, lift)`.
    */
  def associationRules(basket: String = "ok", item: String = "pk",
      minItemSup: Long = 25, minPairSup: Long = 2, minConf: Double = 0.10): DataFrame =
    graft.operators.MiningQueries.rulesOn(
      df.select(col(basket).as("ok"), col(item).as("pk")).distinct(),
      minItemSup, minPairSup, minConf)

  /** Edit-distance (≤ 3) near-pairs on 40-char text prefixes —
    * q_sim_editdist's PassJoin core: `(doc_id1, doc_id2, dist)`. Rows
    * whose text is shorter than the prefix are excluded (the pigeonhole
    * segmentation needs fixed length).
    */
  def fuzzyPairs(id: String = "doc_id", text: String = "text"): DataFrame = {
    val mq = graft.operators.MiningQueries
    mq.editDistancePairsOn(
      df.filter(length(col(text)) >= mq.PrefixLen)
        .select(col(id).as("doc_id"), substring(col(text), 1, mq.PrefixLen).as("p")))
  }

  /** Per-key Shannon entropy (bits) of a categorical column —
    * q_agg_entropy's core (8dp-rounded log2 terms before the order-free
    * decimal sum): `(<key>, n_events, entropy)`.
    */
  def entropy(key: String = "user_id", cat: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val counts = df.groupBy(col(key).as("k"), col(cat).as("c0")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("k").agg(sum("c").as("n"))
    counts.join(totals, "k")
      .withColumn("p", col("c").cast(DoubleType) / col("n"))
      .withColumn("term", round(-col("p") * log2(col("p")), 8).cast(DecimalType(18, 8)))
      .groupBy("k")
      .agg(max(col("n")).as("n_events"),
        round(sum("term").cast(DoubleType), 6).as("entropy"))
      .withColumnRenamed("k", key)
      .orderBy(key)
  }

  /** Per-group Gini coefficient of a non-negative numeric column —
    * q_agg_gini's all-integer sorted-rank core: `(<by>, n, gini)`.
    * `value` is cents-quantized at 2dp.
    */
  def gini(value: String, by: String, tieBreak: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val w = Window.partitionBy("g").orderBy(asc("cents"), asc("tb"))
    df.select(col(by).as("g"), col(tieBreak).as("tb"),
        (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("cents"))
      .withColumn("i", row_number().over(w))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("cents").as("sx"),
        sum(col("i") * col("cents")).as("six"))
      .select(col("g").as(by), col("n"),
        ((lit(2L) * col("six") - (col("n") + 1) * col("sx")).cast(DoubleType) /
          (col("n") * col("sx"))).as("gini"))
      .orderBy(by)
  }

  /** 2-D Pareto skyline per group: rows no same-group row beats on BOTH
    * `cost` (≤) and `gain` (≥, one strict) — q_win_skyline's sweep core
    * (one aggregate + one window over distinct costs + one join back;
    * never a pair join). All original columns survive.
    */
  def skyline(cost: String, gain: String, by: String): DataFrame = {
    val renamed = df.withColumnRenamed(by, "grp")
      .withColumnRenamed(cost, "cost").withColumnRenamed(gain, "gain")
    graft.operators.WindowQueries.skylineOn(renamed)
      .withColumnRenamed("grp", by)
      .withColumnRenamed("cost", cost).withColumnRenamed("gain", gain)
  }

  /** Attach the Morton z-order key of two non-negative integral columns
    * as a `z` column — q_layout_zorder's core. Hand the result to
    * `repartitionByRange($"z")` + sortWithinPartitions before a write and
    * per-file min/max footers prune on BOTH columns at once.
    */
  def zorderKey(x: String, y: String): DataFrame =
    graft.operators.LayoutQueries.withZKey(df, x, y)

  /** Attach the Hilbert-curve key of two non-negative integral columns as
    * an `h` column — q_layout_hilbert's core, the tighter-locality
    * alternative to [[zorderKey]] (consecutive key values are ADJACENT
    * grid cells, so equal-count key ranges cut smaller bounding boxes).
    * Same write-side contract: `repartitionByRange($"h")` +
    * sortWithinPartitions before a write.
    */
  def hilbertKey(x: String, y: String): DataFrame =
    graft.operators.LayoutQueries.withHKey(df, x, y)

  /** Two-sided CUSUM changepoint alarms per series — q_ts_changepoint's
    * closed-form core: `(<key>, <rid>, cusum, drift)`. `slack` (κ) and
    * `h` are in value units; `value` is exact-decimal quantized at 2dp.
    */
  def cusum(key: String = "user_id", rid: String = "event_id",
      value: String = "value", order: Seq[String] = Seq("ts", "event_id"),
      slack: Int = 25, h: Int = 250): DataFrame =
    graft.operators.TimeSeriesQueries.cusumOn(
        df.select(Seq(col(key).as("k"), col(rid).as("rid"),
          col(value).cast("decimal(9,2)").as("v")) ++
          order.filterNot(c => c == rid || c == key).map(col): _*),
        order.map(c => if (c == rid) asc("rid") else asc(c)),
        slack, h)
      .withColumnsRenamed(Map("k" -> key, "rid" -> rid))

  /** Poisson-bootstrap 95% CI for the mean of `value` per `group` —
    * q_stat_bootstrap's core: one row per group
    * `(<group>, n, mean_qty, boot_lo, boot_hi)`. All 40 replicates
    * reduce in one scan (deterministic per-(row, replicate) Poisson(1)
    * weights keyed on `key`, which must be a unique integral row id);
    * values are cents-quantized at 2dp, so replicate sums are exact
    * longs and the CI order statistics engine-exact.
    */
  def bootstrapCI(group: String, value: String, key: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    graft.operators.ResampleQueries.bootstrapFrom(
        df.select(col(group).as("l_returnflag"),
          (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("qc"),
          col(key).cast(LongType).as("k")))
      .withColumnRenamed("l_returnflag", group)
  }

  /** Hash-randomization significance test for the mean difference of
    * `value` between the `sampleA` and `sampleB` groups —
    * q_stat_permutation's core: one row `(n_a, n_r, mean_a, mean_r,
    * obs_diff, n_extreme, p_value)` with the add-one p estimate.
    */
  def permutationTest(group: String, value: String, key: String,
      sampleA: String, sampleB: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    graft.operators.ResampleQueries.permutationFrom(
      df.filter(col(group).isin(sampleA, sampleB))
        .select(when(col(group) === sampleA, "A").otherwise("R").as("l_returnflag"),
          (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("qc"),
          col(key).cast(LongType).as("k")))
  }

  /** Winnowing fingerprints of a (id, text) frame — q_text_winnow's core:
    * one row per selected `(<id>, fp_pos, fp_hash)` (Schleimer et al.
    * 2003: any shared run of ≥ w+k−1 tokens yields a common fingerprint
    * at ~2/(w+1) index density).
    */
  def winnow(id: String = "doc_id", text: String = "text"): DataFrame =
    graft.operators.TextQueries.winnowOn(
        df.select(col(id).as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** The MOSS match step over winnowed fingerprints — q_text_winnow_pairs'
    * core: doc pairs sharing ≥2 fingerprints, df-capped against
    * ubiquitous grams, scored n_shared / min(n1, n2).
    */
  def winnowPairs(id: String = "doc_id", text: String = "text"): DataFrame =
    graft.operators.TextQueries.winnowPairsOn(
        df.select(col(id).as("doc_id"), col(text).as("text")))
      .withColumnsRenamed(Map("doc_id1" -> s"${id}1", "doc_id2" -> s"${id}2"))

  /** Blocked fuzzy entity matching — q_sim_jarowinkler's core: within
    * each `blockCols` equi-join block, id pairs whose `name` strings
    * score ≥ `threshold` under the native codegen'd Jaro-Winkler
    * comparator: `(<id>1, <id>2, name1, name2, jw)`. The comparator only
    * runs inside blocks — choose block keys so the worst block stays
    * bounded at your scale.
    */
  def fuzzyMatch(id: String, name: String, blockCols: Seq[String],
      threshold: Double = 0.85): DataFrame =
    graft.operators.MiningQueries.jaroWinklerPairsOn(
        df.select(col(id).as("id") +: col(name).as("name") +: blockCols.map(col): _*),
        blockCols, threshold)
      .withColumnsRenamed(Map("id1" -> s"${id}1", "id2" -> s"${id}2"))

  /** Winnow-gated passage attribution — q_text_winnow_spans' core: for
    * every winnow-matched pair, the exact shared 20-token window mass and
    * its fraction of the smaller doc, with both docs' `source` labels
    * carried (cross-source contamination attribution). The quadratic
    * window pass is gated to matched docs.
    */
  def winnowSpans(id: String = "doc_id", text: String = "text",
      source: String = "source"): DataFrame =
    graft.operators.TextQueries.winnowSpansOn(
        df.select(col(id).as("doc_id"), col(text).as("text"),
          col(source).as("source")))
      .withColumnsRenamed(Map("doc_id1" -> s"${id}1", "doc_id2" -> s"${id}2"))

  /** Population stability index between the even- and odd-`key` halves
    * of a numeric column — q_dq_psi's core: one row per bin
    * `(bin, n_ref, n_cur, p_ref, p_cur, psi_term, psi)` with the shared
    * PSI total (≥ 0.25 = major drift by the standard rule of thumb).
    * Values are cents-quantized at 2dp; bins are all-integer over the
    * global domain; probabilities are add-one smoothed.
    */
  def psi(key: String, value: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    graft.operators.MoreQueries.psiFrom(
      df.select(col(key).cast(LongType).as("k"),
        (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("xc")))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between two samples of a numeric
    * column — q_stat_mannwhitney's core: one row
    * `(n1, n2, u1, u2, z)`. `sample1` names the `group` value forming
    * sample 1; every other value is sample 2. Values are cents-quantized
    * at 2dp (the gini discipline) so midranks are exact integers.
    */
  def mannWhitney(group: String, value: String, sample1: String): DataFrame =
    graft.operators.StatQueries.mannWhitneyOn(statBase(group, value), sample1)

  /** Two-sample Kolmogorov-Smirnov D — q_stat_ks's core: one row
    * `(n1, n2, d_num, d)` with d = d_num/(n1·n2) exact.
    */
  def ksTest(group: String, value: String, sample1: String): DataFrame =
    graft.operators.StatQueries.ksOn(statBase(group, value), sample1)

  /** Kruskal-Wallis H across the groups of `group` —
    * q_stat_kruskal's core: per-group `(grp, n_g, r_g, h, h_adj)`.
    */
  def kruskal(group: String, value: String): DataFrame =
    graft.operators.StatQueries.kruskalOn(statBase(group, value))

  /** Spearman rank correlation between two numeric columns —
    * q_stat_spearman's core: one row `(n, sxy, sxx, syy, rho)` with the
    * centered-rank moments exact longs. `x` is integer-cast; `y` is
    * cents-quantized at 2dp.
    */
  def spearman(x: String, y: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    graft.operators.StatQueries.spearmanOn(
      df.select(col(x).cast(LongType).as("x"),
        (col(y).cast(DecimalType(12, 2)) * 100).cast(LongType).as("y")))
  }

  /** Chi-square test of independence between two categorical columns —
    * q_stat_chisq's core: one row `(n, dof, chisq, cramers_v)`.
    */
  def chisq(a: String, b: String): DataFrame =
    graft.operators.StatQueries.chisqOn(df.select(col(a).as("a"), col(b).as("b")))

  /** Per-group simple OLS of `y` (cents-quantized at 2dp) on integer `x`
    * — q_stat_ols's core: per-group `(grp, n, slope, intercept, r2)`,
    * slope in cents of y per unit x, everything exact integer arithmetic
    * until the final 1e6-scaled display divisions.
    */
  def ols(group: String, x: String, y: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    graft.operators.StatQueries.olsOn(
      df.select(col(group).as("grp"), col(x).cast(LongType).as("x"),
        (col(y).cast(DecimalType(12, 2)) * 100).cast(LongType).as("y")))
  }

  /** Welch two-sample t-test between `sample1` and `sample2` values of
    * `group` on a numeric column — q_stat_ttest's core: one row
    * `(n1, n2, mean_diff, t, df)`, mean_diff in the column's units,
    * df by Welch–Satterthwaite. Exact integer moments; see the
    * StatQueries magnitude audit.
    */
  def ttest(group: String, value: String, sample1: String, sample2: String): DataFrame =
    graft.operators.StatQueries.ttestOn(
      statBase(group, value).filter(col("grp").isin(sample1, sample2)), sample1)

  /** One-way ANOVA of a numeric column across the groups of `group` —
    * q_stat_anova's core: one row `(k, n, f, eta2)` on the floored-SS
    * definition (exact integers end-to-end).
    */
  def anova(group: String, value: String): DataFrame =
    graft.operators.StatQueries.anovaOn(statBase(group, value))

  /** Kaplan-Meier churn survival — q_stat_survival's core: treat each
    * `subject`'s activity span at hour grain as a lifetime, mark
    * subjects idle for more than `churnHours` before the corpus's last
    * activity as churned (observed), the rest right-censored, and emit
    * the life table `(dur, n_risk, n_event, n_censor, log2_surv)` at
    * event durations. `ts` must be a timestamp column.
    */
  def kaplanMeier(subject: String, ts: String, churnHours: Int = 24): DataFrame = {
    val hours = df.select(col(subject).as("s"),
      expr(s"unix_micros(cast($ts as timestamp)) div 3600000000").as("h"))
    val u = hours.groupBy("s").agg(min("h").as("fh"), max("h").as("lh"))
    val m = u.agg(max("lh").as("mh"))
    graft.operators.StatQueries.kaplanMeierOn(
      u.crossJoin(broadcast(m))
        .select((col("lh") - col("fh")).as("dur"),
          when(col("mh") - col("lh") > churnHours, 1L).otherwise(0L).as("event")))
  }

  /** Autocorrelation at lags 1..maxLag of each group's hourly series of
    * summed `value` (cents-quantized) — q_ts_acf's core:
    * `(event_type, lag, n_pairs, acf)` with exact integer
    * mean-centering (y = n·x − S) and a gap-correct lag equi-join.
    */
  def acf(group: String, ts: String, value: String, maxLag: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    graft.operators.TimeSeriesQueries.acfOn(
      df.select(col(group).as("g"),
        expr(s"unix_micros(cast($ts as timestamp)) div 3600000000").as("h"),
        (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("x"))
        .groupBy("g", "h").agg(sum("x").as("x")), maxLag)
  }

  /** Equi-depth histogram of a numeric column (cents-quantized), the
    * ANALYZE-style optimizer statistic — q_agg_histogram_eqdepth's
    * core: per bucket exact `(bucket, lo, hi, n_rows, n_distinct)`.
    */
  def equiDepthHistogram(value: String, buckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    graft.operators.StatQueries.eqdepthOn(
      df.select((col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("v"))
        .groupBy("v").agg(count(lit(1)).as("t")), buckets)
  }

  /** Zipf exponent of the whitespace-token vocabulary of a text column —
    * q_text_zipf's core: one row `(n_types, slope, intercept)` from a
    * weighted OLS of log2(freq) on log2(rank) over distinct frequencies.
    */
  def zipf(text: String): DataFrame =
    graft.operators.TextQueries.zipfOn(
      df.select(explode(graft.functions.Tokenize.tokens(col(text))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("f")))

  private def statBase(group: String, value: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    df.select(col(group).as("grp"),
      (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("v"))
  }

  /** Per-group median absolute deviation + Hampel 3-MAD outlier counts
    * (cents-quantized) — q_stat_mad's core: `(grp, n, median, mad,
    * n_outliers)`, all-integer exact medians (doubled/quadrupled units).
    */
  def mad(group: String, value: String): DataFrame =
    graft.operators.StatQueries.madOn(statBase(group, value))

  /** RFM segmentation of this frame's events (cents-quantized) —
    * q_events_rfm's core: `(user_id, r_days, f, m, r/f/m_score,
    * segment)` with exact integer rank quintiles.
    */
  def rfm(subject: String, ts: String, value: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    graft.operators.EventQueries.rfmFromUsers(
      df.select(col(subject).as("user_id"),
        expr(s"unix_micros(cast($ts as timestamp))").as("ts_us"),
        (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("cents"))
        .groupBy("user_id")
        .agg(max("ts_us").as("last_us"), count(lit(1)).as("f"),
          sum("cents").as("m")))
  }

  /** Mann-Kendall trend + Sen slope of each group's hourly value series
    * (cents-quantized) — q_ts_trend's core:
    * `(event_type, n, n_pairs, s, z, sen_slope)`.
    */
  def trend(group: String, ts: String, value: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    graft.operators.TimeSeriesQueries.trendFromHourly(
      df.select(col(group).as("g"),
        expr(s"unix_micros(cast($ts as timestamp)) div 3600000000").as("h"),
        (col(value).cast(DecimalType(12, 2)) * 100).cast(LongType).as("x"))
        .groupBy("g", "h").agg(sum("x").cast(LongType).as("x")))
  }

  /** Span provenance over this frame's (id, text): per document, how
    * much of its stride-1 20-token window mass is copied from
    * earlier-id documents and the top contaminating source —
    * q_text_span_source's core (canonical source = min id holding the
    * window).
    */
  def spanProvenance(id: String = "doc_id", text: String = "text"): DataFrame =
    graft.operators.TextQueries.spanSourceOn(
        df.select(col(id).as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** Novelty of THIS frame's documents against a standing corpus frame —
    * q_text_novelty's core over caller frames: per doc of this frame,
    * the fraction of its stride-1 20-token windows absent from `other`.
    */
  def novelty(other: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val inc = df.select(col(id).as("doc_id"), col(text).as("text"))
      .withColumn("__new", lit(true))
    val standing = other.select(col(id).as("doc_id"), col(text).as("text"))
      .withColumn("__new", lit(false))
    // the slice predicate rides as a column, so the two frames stay
    // apart even when their ids collide (an id present in both sides is
    // scored only on THIS frame's windows, against other's window set)
    graft.operators.CurationQueries.noveltyOn(
        standing.unionByName(inc), col("__new"))
      .withColumnRenamed("doc_id", id)
  }

  /** eps-DP Laplace-noised group counts of `by` — q_dq_dpnoise's core:
    * `(by..., noised_count, released)` with deterministic per-key noise
    * (concatenate a release nonce into a group column to re-randomize).
    * NULL group values are encoded EXPLICITLY in the noise key (a
    * reserved sentinel per component) — concat_ws silently skips NULLs,
    * which would collide distinct groups like (NULL,'x') / ('x',NULL) /
    * ('x') onto one key and hand them identical correlated Laplace
    * draws, weakening the release for nullable group columns. A literal
    * cell equal to the sentinel still collides with NULL — acceptable
    * for the U+0000-prefixed sentinel, which no real category contains.
    */
  def noisedCounts(by: Seq[String], eps: Double = 1.0): DataFrame = {
    val g = df.groupBy(by.map(col): _*).agg(count(lit(1)).as("n"))
    val key = concat_ws("|",
      by.map(c => coalesce(col(c).cast("string"), lit("\u0000NULL"))): _*)
    g.withColumn("noise", graft.operators.MoreQueries.laplaceNoise(key, eps))
      .select(by.map(col) ++ Seq(
        round(col("n") + col("noise"), 6).as("noised_count"),
        round(greatest(col("n") + col("noise"), lit(0.0)), 6).as("released")): _*)
      .orderBy(by.map(col): _*)
  }

  /** Next-event distribution conditioned on frequent mined patterns —
    * q_events_nextstep's core on this frame's events:
    * `(pattern, next_sym, support, pair_support, p)`.
    */
  def nextStep(subject: String, ts: String, symbol: String,
      windowDays: Int = 7, minSupFloor: Int = 2, supDivisor: Int = 20): DataFrame =
    graft.operators.EventQueries.nextstepOn(
      df.select(col(subject).as("user_id"),
        expr(s"unix_micros(cast($ts as timestamp)) div ${windowDays * 86400000000L}").as("day"),
        col(symbol).as("sym"),
        expr(s"unix_micros(cast($ts as timestamp))").as("ts_us")),
      minSupFloor, supDivisor)

  /** GSP-style frequent subsequences of a symbol column within
    * (subject, window) sessions — q_events_seqmine's core:
    * `(pattern, len, support)` at minsup = max(#sessions/supDivisor,
    * minSupFloor); supports computed on the alphabet-bounded
    * (session, symbol) first/last grain.
    */
  def seqmine(subject: String, ts: String, symbol: String,
      windowDays: Int = 7, minSupFloor: Int = 2, supDivisor: Int = 20): DataFrame =
    graft.operators.EventQueries.seqmineOn(
      df.select(col(subject).as("user_id"),
        expr(s"unix_micros(cast($ts as timestamp)) div ${windowDays * 86400000000L}").as("day"),
        col(symbol).as("sym"),
        expr(s"unix_micros(cast($ts as timestamp))").as("ts_us")),
      minSupFloor, supDivisor)

  /** Treat this frame as an EDGE LIST and open the graph-analytics
    * family over it (q_graph_* / q_vec_dbscan's edge-source-agnostic
    * cores): components, LPA communities, modularity, triangle census,
    * link prediction, PageRank, DBSCAN roles, landmark closeness. Node
    * ids must be integral (LONG); `nodes` widens the vertex set beyond
    * the edge endpoints (isolated nodes score as singletons/noise).
    *
    * {{{
    * val g = edges.graft.graph(src = "from_id", dst = "to_id")
    * val comp = g.components()       // similarity islands
    * val q    = g.modularity()       // are the LPA communities real?
    * val dense = g.dbscan(minPts = 4) // core/border/noise roles
    * }}}
    */
  def graph(src: String = "src", dst: String = "dst",
      nodes: Option[DataFrame] = None, id: String = "id"): GraphHandle = {
    val edges = df.select(col(src).as("src"), col(dst).as("dst"))
    val nodeDf = nodes.map(n => n.select(col(id).cast("long").as("vec_id")))
      .getOrElse(edges.select(col("src").as("vec_id"))
        .union(edges.select(col("dst").as("vec_id"))).distinct())
    new GraphHandle(edges, nodeDf, id)
  }
}

/** Graph-analytics handle over one edge frame — every verb delegates to
  * the same edge-source-agnostic core its registered oracle-checked
  * query runs (GraphQueries / VectorQueries), so facade results inherit
  * the query tree's correctness gates; the output id columns take the
  * caller's `id` name. Edges are undirected-ized ((min,max), distinct)
  * once per verb except [[pagerank]]/[[personalizedPagerank]], which
  * follow the directed-edge contract of their cores.
  */
final class GraphHandle private[api] (edges: DataFrame, nodes: DataFrame, id: String) {
  import graft.operators.{DedupQueries, GraphQueries}
  import graft.operators.VectorQueries

  private def und = GraphQueries.undirected(edges)

  /** Connected components labeled by min member id, with a size census —
    * (`id`, component, component_size), q_graph_components_lsh's shape.
    */
  def components(): DataFrame = {
    val labels = DedupQueries.connectedComponents(
      nodes.select(col("vec_id").as("doc_id")),
      und.select(col("a").as("doc_id1"), col("b").as("doc_id2")))
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("component_size"))
    labels.join(broadcast(sizes), "cluster_id")
      .select(col("doc_id").as(id), col("cluster_id").as("component"),
        col("component_size"))
      .orderBy(id)
  }

  /** Deterministic synchronous label propagation (Raghavan 2007) —
    * (`id`, community).
    */
  def communities(iters: Int = 3): DataFrame =
    GraphQueries.labelPropOnEdges(nodes, edges, iters)
      .withColumnRenamed("vec_id", id)

  /** Per-community Newman modularity Q_c = e_c/m − (d_c/2m)² over the
    * given (`id`, community) labels — default labels = [[communities]].
    */
  def modularity(labels: Option[DataFrame] = None, iters: Int = 3): DataFrame = {
    val lab = labels.map(_.select(col(id).as("vec_id"), col("community")))
      .getOrElse(GraphQueries.labelPropOnEdges(nodes, edges, iters))
    GraphQueries.modularityOnEdges(und.localCheckpoint(), lab.localCheckpoint())
  }

  /** Triangle census (nodes / edges / wedges / triangles / clustering
    * coefficient), per label when a (`id`, label) frame is given, else
    * one global row (label 0).
    */
  def triangles(labels: Option[DataFrame] = None): DataFrame = {
    val lab = labels.map(_.select(col(id).as("vec_id"), col("label")))
      .getOrElse(nodes.select(col("vec_id"), lit(0L).as("label")))
    GraphQueries.trianglesOnEdges(lab, edges)
  }

  /** Top-k non-adjacent two-hop pairs by neighborhood Jaccard
    * (Liben-Nowell & Kleinberg 2003) — (x, y, common, jaccard).
    */
  def linkPredict(k: Int = 20): DataFrame = GraphQueries.linkpredOnEdges(edges, k)

  /** 3-iteration damped PageRank (d = 0.85) over the DIRECTED edges —
    * (`id`, pr).
    */
  def pagerank(): DataFrame =
    VectorQueries.pagerankOnEdges(nodes, edges).withColumnRenamed("vec_id", id)

  /** Personalized PageRank: teleport mass restricted to the seed node
    * ids (Haveliwala 2002) — (`id`, pr). Seed sets are small by contract
    * (they parameterize the teleport vector), so they ride as a literal
    * IN-list into the codegen'd predicate.
    */
  def personalizedPagerank(seeds: Seq[Long]): DataFrame =
    VectorQueries.personalizedPagerankOnEdges(nodes, edges,
        col("vec_id").isin(seeds: _*))
      .withColumnRenamed("vec_id", id)

  /** DBSCAN roles over the graph (Ester 1996, shared-nearest-neighbor
    * formulation): core = degree ≥ minPts, clusters = min-core-id
    * components of the core subgraph, border = min adjacent core label,
    * noise = −1 — (`id`, role, cluster).
    */
  def dbscan(minPts: Int = 4): DataFrame = {
    val u = und.localCheckpoint()
    GraphQueries.dbscanOnEdges(nodes, u, GraphQueries.dbscanCoreLabels(u, minPts))
      .withColumnRenamed("vec_id", id)
  }

  /** Landmark-approximated harmonic closeness (HyperBall-family scale
    * path): BFS from `landmarks` portable-priority sample nodes, score =
    * Σ 1/d over landmarks reached within `hopCap` — (`id`, n_reached,
    * harmonic).
    */
  def closeness(landmarks: Int = 8, hopCap: Int = 10): DataFrame =
    GraphQueries.closenessOnEdges(nodes, und.localCheckpoint(), landmarks, hopCap)
      .withColumnRenamed("vec_id", id)

  /** HITS hubs & authorities (Kleinberg 1999) over the DIRECTED edges,
    * unnormalized integer iterations (exact, rank-equivalent) with one
    * max-normalization at the end — (`id`, hub, auth, hub_norm,
    * auth_norm).
    */
  def hits(iters: Int = 3): DataFrame =
    GraphQueries.hitsOnEdges(nodes, edges, iters).withColumnRenamed("vec_id", id)
}
