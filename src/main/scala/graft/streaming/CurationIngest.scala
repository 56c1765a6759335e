package graft.streaming

import graft.functions.Tokenize
import graft.operators.{CurationPipeline, DedupQueries}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Session-close-driven curation ingest — the timer ops composed with the
  * batch curation surface into one standing pipeline.
  *
  * A perpetual ingest can't run q_pipeline_curate nightly over everything;
  * it needs a CLOSE SIGNAL ("this slice of the corpus is complete — curate
  * it now") and curation stages that are INCREMENTAL against everything
  * curated before. This module supplies both halves:
  *
  *   1. **Close signal = the quiet-period timer.** `sessionizedIngest` is a
  *      transformWithState processor (processing-time timers, the
  *      [[TtlTimerState]] machinery) that passes arriving docs through
  *      tagged `doc` — so the landing zone fills in the SAME query, no
  *      cross-query race — and, when a shard has seen no docs for
  *      `quietMs` of wall time, emits one `close` record and clears the
  *      shard's state. Because a doc lands in an earlier micro-batch than
  *      any close that depends on it, the close handler always sees the
  *      complete shard.
  *
  *   2. **Incremental curation = per-doc stages + id-anchored dedup state.**
  *      `processClosedShard` runs the batch pipeline's stages over ONE
  *      closed shard: the per-doc quality gate is stateless (shared
  *      verbatim via [[CurationPipeline.scoredDocs]]); exact dedup keeps a
  *      seen-text state (xxhash64(text), ~1e-19 per-pair collision odds —
  *      same documented bound as the engine's other hashed-set ops); and
  *      near-dedup keeps the banded-LSH signature + hashed-token-set state
  *      of every exact-stage survivor, candidate-joining only SHARD ×
  *      (state ∪ shard) — per-close cost scales with the shard, not the
  *      corpus (the [[IncrementalDedup]] shape, at the pipeline's J ≥ 0.8
  *      gate with the pipeline's exact verification expressions).
  *
  * **Feed contract** (same as [[IncrementalShards.processBatch]]):
  * shard_id is monotone in doc_id — shards partition the id space into
  * ranges and arrive in order. Under it, every batch drop rule ("a
  * LOWER-id survivor exists") resolves against docs already in state or
  * in the closing shard, closes fire in shard order (a shard's quiet
  * deadline precedes any later shard's; same-batch ties are processed in
  * shard_id order by the handler), and later shards can never drop
  * earlier docs (the victim of a pair is always the higher id). So the
  * union of per-close emissions over ANY shard split equals the one-shot
  * batch q_pipeline_curate result exactly — CurationIngestSpec asserts
  * row equality against the batch plan on the same corpus.
  *
  * Scale shape: state is narrow append-only parquet segments (1 hash/
  * survivor, 16 signature rows/survivor, 1 hashed set/survivor) under
  * the [[StateLog]] log-record CAS (see [[IngestLog]]); per-close
  * work is one shard-side window + one signature shuffle + the
  * candidate-verify join, all independent of total corpus size except
  * through the state scan (partition-prunable by lang/band at 100 TB).
  */
object CurationIngest {

  /** One committed ingest state, a [[StateLog]] record naming the live
    * segment set and the committed batch id. Segment `<seg>` implies
    * whichever of `landing/<seg>`, `keep/<seg>`, `banded/<seg>`,
    * `hashed/<seg>`, `curated/<seg>` dirs the batch actually wrote
    * (readers existence-filter). Segments are never compacted.
    */
  private[graft] case class IngestLog(version: Long, segs: Seq[String], batch: Option[Long])
      extends StateLog.Committed

  private val stateLog = new StateLog.Log[IngestLog](IngestLog(-1L, Seq.empty, None),
    StateLog.fields(
      st => Seq("segs" -> StateLog.list(st.segs), "batch" -> StateLog.long(st.batch)),
      (v, f) => IngestLog(v, f.list("segs"), f.long("batch"))))

  /** Latest committed state ([[StateLog.Log.current]]). */
  private[graft] def currentState(s: SparkSession, base: String): IngestLog =
    stateLog.current(s, base)

  /** The committed micro-batch id — the replay guard's probe. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    currentState(s, base).batch

  /** (shard_id, doc_id, text, lang) — the streaming input row. */
  private type DocIn = (Long, Long, String, String)

  /** Tagged pass-through: ("doc", shard, doc_id, text, lang, 0) for
    * arrivals, ("close", shard, 0, null, null, n_docs) on quiet.
    */
  private type Tagged = (String, Long, Long, String, String, Long)

  private class IngestProcessor(quietMs: Long)
      extends StatefulProcessor[Long, DocIn, Tagged] {
    @transient private var part: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      part = getHandle.getValueState[(Long, Long, Long)]("part",
        Encoders.product[(Long, Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DocIn],
        timerValues: TimerValues): Iterator[Tagged] = {
      var (n, fd, ld) =
        if (part.exists()) part.get() else (0L, Long.MaxValue, Long.MinValue)
      // drain to a strict collection BEFORE the state update below runs
      val out = rows.map { case (shard, docId, text, lang) =>
        n += 1; fd = math.min(fd, docId); ld = math.max(ld, docId)
        ("doc", shard, docId, text, lang, 0L)
      }.toVector
      part.update((n, fd, ld))
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + quietMs)
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Tagged] =
      if (part.exists()) {
        val (n, _, _) = part.get()
        part.clear() // closed shard leaves no stream state behind
        Iterator(("close", key, 0L, null, null, n))
      } else Iterator.empty
  }

  /** Docs stream (shard_id, doc_id, text, lang) → tagged stream of `doc`
    * pass-throughs + one `close` record per shard after `quietMs` of
    * wall-clock inactivity.
    */
  def sessionizedIngest(docs: DataFrame, quietMs: Long): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("shard_id"), col("doc_id"), col("text"), col("lang"))
      .as[DocIn]
      .groupByKey(_._1)
      .transformWithState(new IngestProcessor(quietMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
      .toDF("kind", "shard_id", "doc_id", "text", "lang", "n_docs")
  }

  private val keepSchema = StructType(Seq(StructField("text_h", LongType)))
  private val bandedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("sz", IntegerType), StructField("band", IntegerType),
    StructField("sig", LongType)))
  private val hashedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("th", ArrayType(LongType, containsNull = false), nullable = false)))
  private val landingSchema = StructType(Seq(
    StructField("shard_id", LongType), StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))
  private val curatedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("n_tokens", IntegerType), StructField("quality_score", DoubleType)))

  /** Union of a segment family's existing dirs (a batch writes only the
    * dirs it touched — e.g. a close-only batch lands no docs).
    */
  private def readSegDirs(s: SparkSession, base: String, sub: String,
      schema: StructType, segs: Seq[String]): DataFrame = {
    val dirs = segs.map(n => s"$base/$sub/$n")
      .filter(p => graft.sources.GraftFs.exists(s, p))
    if (dirs.isEmpty) StateLog.emptyFrame(s, schema)
    else s.read.schema(schema).parquet(dirs: _*)
  }

  /** The landed corpus (audit/replay surface), from committed segments. */
  def readLanding(s: SparkSession, base: String): DataFrame =
    readSegDirs(s, base, "landing", landingSchema, currentState(s, base).segs)

  /** All curated rows emitted so far, from committed segments. */
  def readCurated(s: SparkSession, base: String): DataFrame =
    readSegDirs(s, base, "curated", curatedSchema, currentState(s, base).segs)

  /** Curate ONE closed shard against everything curated before: quality
    * gate → exact dedup vs seen-text state → near-dedup vs signature
    * state, then fold the shard's survivors into the BATCH's (as-yet
    * uncommitted) segment dirs. `liveSegs` is the visible state — the
    * committed segments plus the current batch's segment, so a second
    * close in the same batch sees the first close's survivors. Returns
    * the shard's curated rows (doc_id, lang, n_tokens, quality_score) —
    * final immediately, because later shards only ever drop their own
    * docs.
    */
  private def processClosedShard(s: SparkSession, shardDocs: DataFrame,
      base: String, liveSegs: Seq[String], segName: String): DataFrame = {
    val quality = CurationPipeline.scoredDocs(shardDocs)
      .filter(col("quality_score") >= 0.5)
    // exact dedup: min doc_id per text within the shard, then drop any
    // text already kept by an earlier shard
    val shardKeep = quality.withColumn("text_h", xxhash64(col("text")))
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("text_h")))
      .filter(col("doc_id") === col("keep_id"))
    val seen = readSegDirs(s, base, "keep", keepSchema, liveSegs)
    // localCheckpoint: materialize every batch-side derivation BEFORE the
    // appends below mutate the state dirs they were computed against
    val exact = shardKeep.join(seen, Seq("text_h"), "left_anti").localCheckpoint()
    val bBanded = DedupQueries.bandedSignatures(
      exact.select(col("doc_id"), col("lang"), col("toks")), bands = 16).localCheckpoint()
    val bHashed = exact.select(col("doc_id"),
      Tokenize.hashedSetOf(col("toks")).as("th")).localCheckpoint()
    val allBanded = readSegDirs(s, base, "banded", bandedSchema, liveSegs).unionByName(bBanded)
    val allHashed = readSegDirs(s, base, "hashed", hashedSchema, liveSegs).unionByName(bHashed)
    // candidates: SHARD signatures × (state ∪ shard) — pairs between two
    // state docs were resolved when the earlier shard closed
    val l = bBanded.select(col("lang"), col("band"), col("sig"), col("doc_id").as("did1"))
    val r = allBanded.select(col("lang").as("lang2"), col("band").as("band2"),
      col("sig").as("sig2"), col("doc_id").as("did2"))
    val cands = l.join(r,
        col("lang") === col("lang2") && col("band") === col("band2")
          && col("sig") === col("sig2") && col("did1") =!= col("did2"))
      .select(least(col("did1"), col("did2")).as("doc_id1"),
        greatest(col("did1"), col("did2")).as("doc_id2"))
      .distinct()
    // exact gate: the batch pipeline's stage-3 expressions, verbatim
    val t1 = allHashed.select(col("doc_id").as("doc_id1"), col("th").as("th1"), size(col("th")).as("sz1"))
    val t2 = allHashed.select(col("doc_id").as("doc_id2"), col("th").as("th2"), size(col("th")).as("sz2"))
    val dropIds = cands.join(t1, "doc_id1").join(t2, "doc_id2")
      .filter(DedupQueries.sizeBand(col("sz1"), col("sz2"), 4, 5))
      .withColumn("inter", DedupQueries.intersectAtLeast(col("th1"), col("th2"),
        expr("CAST((4 * (sz1 + sz2) + 8) div 9 AS INT)")))
      .withColumn("j", col("inter").cast(DoubleType)
        / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("j") >= 0.8)
      .select(col("doc_id2").as("drop_id")).distinct()
    val curated = exact.join(dropIds, col("doc_id") === col("drop_id"), "left_anti")
      .select("doc_id", "lang", "n_tokens", "quality_score")
      .localCheckpoint()
    // fold the shard into the batch's segment (ALL exact-stage survivors,
    // including near-dropped ones — a dropped doc still drops later
    // near-twins, exactly as in the batch pipeline's non-recursive rule);
    // within-batch appends to the UNCOMMITTED segment are crash-safe:
    // liveness is record-defined, an orphaned segment is never read
    exact.select(col("text_h")).write.mode("append").parquet(s"$base/keep/$segName")
    bBanded.write.mode("append").parquet(s"$base/banded/$segName")
    bHashed.write.mode("append").parquet(s"$base/hashed/$segName")
    curated.write.mode("append").parquet(s"$base/curated/$segName")
    curated
  }

  /** foreachBatch handler: land this micro-batch's `doc` rows into the
    * batch's writer-unique segment, curate every shard whose `close`
    * fired (in shard order — ties in one batch are sorted), then commit
    * the segment with ONE log record. A replayed batch id lands nothing;
    * a lost publish race throws (the stream retries the batch, the retry
    * writes a fresh segment against the winner's state, and the orphaned
    * segment is never read — single-writer is the operating mode, the
    * CAS is the safety net).
    */
  def handleBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): Unit = {
    val st0 = currentState(s, base)
    if (st0.covers(batchId)) return
    batch.persist()
    try {
      val segName = StateLog.uniqueName("b", st0.version + 1)
      val liveSegs = st0.segs :+ segName
      val docs = batch.filter(col("kind") === "doc")
        .select("shard_id", "doc_id", "text", "lang")
      val closes = batch.filter(col("kind") === "close")
        .select("shard_id", "n_docs").orderBy("shard_id").collect()
      val hasDocs = !docs.isEmpty
      if (!hasDocs && closes.isEmpty) return // empty tick: no record churn
      if (hasDocs) docs.write.mode("overwrite").parquet(s"$base/landing/$segName")
      closes.foreach { row =>
        val sid = row.getLong(0)
        val shardDocs = readSegDirs(s, base, "landing", landingSchema, liveSegs)
          .filter(col("shard_id") === sid)
        processClosedShard(s, shardDocs, base, liveSegs, segName): Unit
      }
      val next = IngestLog(st0.version + 1, liveSegs, batchId.orElse(st0.batch))
      require(stateLog.publish(s, base, next),
        s"handleBatch: lost the publish race at $base (concurrent writer); " +
          "the stream retry will rebase onto the winner")
    } finally { batch.unpersist(); () }
  }

  /** Wire the whole pipeline onto a docs stream: tagged pass-through +
    * quiet-close signals, landed and curated per close via foreachBatch;
    * the batch id rides the committed record for crash-replay idempotence.
    */
  def attach(docs: DataFrame, quietMs: Long,
      base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sessionizedIngest(docs, quietMs).writeStream.foreachBatch {
      (b: DataFrame, bid: Long) => handleBatch(b.sparkSession, b, base, Some(bid))
    }
}
