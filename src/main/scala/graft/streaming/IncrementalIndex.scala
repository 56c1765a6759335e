package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental inverted-index maintenance — the streaming upkeep of
  * q_text_index's search surface: each arriving micro-batch of documents
  * lands its postings APPEND-ONLY (one parquet dir per batch — postings
  * of a doc never change once written, the immutable-segment property
  * every search engine builds on) and MERGES the bounded per-token stats
  * (df, cf) IncrementalAgg-style (count partials are associative, so
  * state ∘ batch ≡ one-shot over everything seen — the invariant
  * IncrementalIndexSpec replays the fixture to assert). No batch ever
  * re-tokenizes history.
  *
  * State protocol: the [[StateLog]] log-record CAS and segment
  * compaction (family `postings/`). Index-specific: the record also
  * carries the stats dir and the cumulative `ndocs` census. An ingest
  * rebase keeps its stats merge across a compaction (compaction never
  * touches stats) and recomputes it across a foreign ingest.
  *
  * Scale shape: the postings family is the big side and is never
  * rewritten — batches cost O(batch). The stats table is
  * vocabulary-sized (bounded), rewritten per merge. [[searchHeads]]
  * serves q_text_index's df-filtered posting heads STRAIGHT from the
  * maintained state.
  *
  * Contract: each doc_id arrives exactly once (corpus ingest; the
  * exactly-once wrapper is PackIngest's batch-id discipline, reusable
  * upstream of this maintainer). One ingest maintainer per index (the
  * foreachBatch serial contract); compaction may run concurrently with
  * it from any admin thread.
  */
object IncrementalIndex {

  private val statsSchema = StructType(Seq(
    StructField("token", StringType),
    StructField("df", LongType),
    StructField("cf", LongType)))

  private val postingsSchema = StructType(Seq(
    StructField("token", StringType),
    StructField("doc_id", LongType),
    StructField("tf", LongType)))

  /** One committed index state: the `log/v<version>` record. `segs` are
    * dir names under `postings/`; `statsDir` is relative to `base`.
    * `ndocs` is the CUMULATIVE ingested document count (r11 advice: a
    * NULL-text document lands zero postings, so a count reconstructed
    * from postings under-reports n_docs/avgdl and breaks the documented
    * bit-equality of [[serveHybrid]]/[[bm25]] with the registered
    * queries, which count ALL corpus rows). Records written before this
    * field parse with ndocs absent and the serve paths fall back to the
    * postings-derived count. `tombs` await deferred GC ([[StateLog]]);
    * pre-tombs records parse with the field absent.
    */
  private[graft] case class IndexState(version: Long, statsDir: Option[String],
      segs: Seq[String], batch: Option[Long], ndocs: Option[Long] = None,
      tombs: Seq[String] = Seq.empty) extends StateLog.Segmented[IndexState] {
    def swapped(version: Long, segs: Seq[String], tombs: Seq[String]): IndexState =
      copy(version = version, segs = segs, tombs = tombs)
  }

  private val stateLog = new StateLog.Segments[IndexState](
    IndexState(-1L, None, Seq.empty, None),
    st => Seq("stats" -> st.statsDir.getOrElse(""), "segs" -> StateLog.list(st.segs),
      "batch" -> StateLog.long(st.batch), "ndocs" -> StateLog.long(st.ndocs),
      "tombs" -> StateLog.list(st.tombs)),
    (v, f) => IndexState(v, f.str("stats"), f.list("segs"), f.long("batch"),
      f.long("ndocs"), f.list("tombs")),
    families = Seq("postings"))

  /** Latest committed state ([[StateLog.Log.current]]). */
  private[graft] def currentState(s: SparkSession, base: String): IndexState =
    stateLog.current(s, base)

  /** Current per-token stats (empty before the first batch). */
  def readStats(s: SparkSession, base: String): DataFrame =
    readStatsOf(s, base, currentState(s, base))

  private def readStatsOf(s: SparkSession, base: String, st: IndexState): DataFrame =
    st.statsDir match {
      case Some(d) => s.read.schema(statsSchema).parquet(s"$base/$d")
      case None => StateLog.emptyFrame(s, statsSchema)
    }

  /** The LIVE posting segments (token, doc_id, tf) — exactly the dirs the
    * current log record lists, so orphans from a crashed compaction or a
    * not-yet-committed ingest are invisible.
    */
  def readPostings(s: SparkSession, base: String): DataFrame =
    readPostingsOf(s, base, currentState(s, base))

  private def readPostingsOf(s: SparkSession, base: String, st: IndexState): DataFrame =
    if (st.segs.isEmpty) StateLog.emptyFrame(s, postingsSchema)
    else s.read.schema(postingsSchema).parquet(st.segs.map(n => s"$base/postings/$n"): _*)

  /** The (n_docs, avgdl) singleton for scoring: n_docs is the record's
    * persisted ingest census when present (exact even when NULL-text
    * documents landed zero postings — they count toward n_docs and
    * dilute avgdl, exactly as the registered queries' all-rows
    * derivation does), else the postings-derived count (pre-ndocs
    * records; exact for corpora where every doc yields ≥ 1 posting).
    */
  private def globOf(st: IndexState, docs: DataFrame): DataFrame = st.ndocs match {
    case Some(n) if n > 0 =>
      docs.agg(lit(n).as("n_docs"),
        (sum("dl").cast(DoubleType) / lit(n.toDouble)).as("avgdl"))
    case _ =>
      docs.agg(count(lit(1)).as("n_docs"),
        (sum("dl").cast(DoubleType) / count(lit(1))).as("avgdl"))
  }

  private def batchTf(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
        explode(graft.functions.Tokenize.tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))

  /** Land one micro-batch: write its posting segment and merged stats,
    * then CAS-publish the next state record. Batch cost is O(batch) — the
    * posting history is never touched. A replayed micro-batch (its id ≤
    * the committed tag) is skipped; a call WITHOUT a batch id carries the
    * previously committed tag forward, so mixing manual calls into an
    * attach()-driven stream's state cannot erase replay protection.
    *
    * INGEST CONTRACT: each document must arrive at most once across
    * batch IDS (exactly-once per doc — what a checkpointed foreachBatch
    * topology provides). A doc re-emitted under a NEW id would double
    * its postings, df/cf census, and n_docs; unlike IncrementalSpan/
    * IncrementalDedup (whose doc-grain state makes a first-write-wins
    * anti-join skinny), guarding here would cost a postings-relation
    * doc-id scan per batch — a violation of the O(batch) cost contract —
    * so the contract is documented rather than silently paid.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): Unit = {
    val st0 = currentState(s, base)
    if (st0.covers(batchId)) return
    val tf = batchTf(batch).localCheckpoint()
    val partial = tf.groupBy("token")
      .agg(count(lit(1)).as("df2"), sum("tf").as("cf2"))
    // cumulative doc count rides in the record (NULL-text docs land no
    // postings but DO count toward n_docs/avgdl — the serveHybrid/bm25
    // contract); pure batch data, so rebases reuse it
    val batchDocs = batch.select("doc_id").distinct().count()
    var seg: Option[String] = None
    var statsOf: Option[(String, String)] = None // (writtenDir, mergedFromStatsDir)
    stateLog.append(s, base, st0, batchId) { st =>
      val v = st.version + 1
      val segName = seg.getOrElse {
        // writer-unique, so the ambiguous-CAS readback proves ownership
        val n = StateLog.uniqueName("b", v)
        tf.write.mode("overwrite").parquet(s"$base/postings/$n")
        seg = Some(n); n
      }
      // stats partials merge against a SPECIFIC stats version; reuse the
      // written merge only while the committed stats dir hasn't moved
      // (compaction never moves it — an ingest rebase across a compaction
      // keeps the merge; across a foreign ingest it recomputes).
      val statsName = statsOf match {
        case Some((written, from)) if st.statsDir.contains(from) || (st.statsDir.isEmpty && from.isEmpty) =>
          written
        case _ =>
          val merged = readStatsOf(s, base, st)
            .join(partial.withColumnRenamed("token", "t2"),
              col("token") === col("t2"), "full_outer")
            .select(
              coalesce(col("token"), col("t2")).as("token"),
              (coalesce(col("df"), lit(0L)) + coalesce(col("df2"), lit(0L))).as("df"),
              (coalesce(col("cf"), lit(0L)) + coalesce(col("cf2"), lit(0L))).as("cf"))
            .localCheckpoint()
          val n = s"stats/v$v"
          merged.write.mode("overwrite").parquet(s"$base/$n")
          statsOf = Some((n, st.statsDir.getOrElse("")))
          n
      }
      // a pre-ndocs predecessor record (absent field) falls back to the
      // postings-derived doc count once, here at ingest time
      val baseDocs = st.ndocs.getOrElse {
        if (st.segs.isEmpty) 0L
        else readPostingsOf(s, base, st).select("doc_id").distinct().count()
      }
      Some(IndexState(v, Some(statsName), st.segs :+ segName,
        batchId.orElse(st.batch), Some(baseDocs + batchDocs), st.tombs))
    }: Unit
  }

  /** q_text_index's output shape served from the maintained state:
    * df ≥ `minDf` tokens with stats and top-`k` posting heads. The
    * posting window scans segments, not raw text. Stats and postings are
    * read from ONE state record — a concurrent commit cannot tear the
    * pair apart.
    */
  def searchHeads(s: SparkSession, base: String, minDf: Long = 5L, k: Int = 5): DataFrame = {
    val st = currentState(s, base)
    val stats = readStatsOf(s, base, st).filter(col("df") >= minDf)
    val w = Window.partitionBy("token").orderBy(desc("tf"), asc("doc_id"))
    readPostingsOf(s, base, st).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .join(stats, "token")
      .select("token", "df", "cf", "rn", "doc_id", "tf")
      .orderBy("token", "rn")
  }

  /** BM25 ranked retrieval served ENTIRELY from the maintained state —
    * the build→serve loop closed: tf comes from the posting segments, df
    * from the stats table, and document lengths / corpus averages derive
    * from one aggregate over postings (dl = Σtf per doc — exact, since
    * postings are whitespace-token counts). No document text is ever
    * re-read; IncrementalIndexSpec pins row equality with the
    * from-scratch facade bm25 after a multi-batch ingest.
    */
  def bm25(s: SparkSession, base: String, queries: DataFrame, k: Int = 5,
      qid: String = "query_id", qtext: String = "query_text",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val st = currentState(s, base)
    val tf = readPostingsOf(s, base, st)
    val dfRel = readStatsOf(s, base, st).select(col("token"), col("df"))
    val docs = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val glob = globOf(st, docs)
    val qterms = queries.select(col(qid),
      explode(array_distinct(graft.functions.Tokenize.tokens(col(qtext)))).as("token"))
    val contrib = tf.join(broadcast(qterms), "token")
      .join(dfRel, "token").join(docs, "doc_id").crossJoin(broadcast(glob))
      .withColumn("__c",
        round(log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)))
          * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl"))),
          8).cast(org.apache.spark.sql.types.DecimalType(18, 8)))
    val scores = contrib.groupBy(col(qid), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum("__c").cast("double"), 6).as("score"))
    val w = Window.partitionBy(qid).orderBy(desc("score"), asc("doc_id"))
    scores.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qid), col("rank"), col("doc_id"), col("n_terms"), col("score"))
  }

  /** RRF hybrid retrieval served from the maintained state — the RAG
    * build→serve loop closed end-to-end (r10 verdict ask 3): the lexical
    * side re-derives q_text_hybrid's corpus queries (doc_id < 8, top-3
    * tf-idf terms) and their full BM25 score relation ENTIRELY from the
    * state's postings + stats (tf from segments, df from the stats
    * table, dl = Σtf per doc, n_docs from the record's persisted ingest
    * census — exact even when NULL-text docs landed zero postings, r11
    * advice — and avgdl = Σdl / n_docs), then
    * hands the scores to the REGISTERED query's own fusion tail
    * (SearchQueries.hybridFrom), so the rank/fuse/top-k plan is shared
    * code and the state-served result is bit-equal to q_text_hybrid once
    * the ingested batches cover the corpus (IncrementalIndexSpec pins
    * this across a 3-batch split + crash replay). The embedding side
    * stays a caller-provided frame: vectors are not index state here —
    * an ANN index (q_ann_* family) swaps in at corpus scale.
    */
  def serveHybrid(s: SparkSession, base: String, embeddings: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val st = currentState(s, base)
    val tf = readPostingsOf(s, base, st)
    val dfRel = readStatsOf(s, base, st).select(col("token"), col("df"))
    val docs = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val glob = globOf(st, docs)
    // corpus-derived query terms — bm25ScoresStage's qterms with tf/df
    // read from state instead of re-tokenized text
    val scoredQ = tf.filter(col("doc_id") < 8).join(dfRel, "token")
      .crossJoin(broadcast(glob.select("n_docs")))
      .withColumn("s", round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 6))
    val wq = Window.partitionBy("doc_id").orderBy(desc("s"), asc("token"))
    val qterms = scoredQ.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 3)
      .select(col("doc_id").as("query_id"), col("token"))
    val contrib = tf.join(broadcast(qterms), "token")
      .join(dfRel, "token").join(docs, "doc_id").crossJoin(broadcast(glob))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("c", round(
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast(DoubleType) / col("avgdl"))),
        8).cast(DecimalType(18, 8)))
    val lexScores = contrib.groupBy("query_id", "doc_id")
      .agg(round(sum("c").cast(DoubleType), 6).as("score"))
    graft.operators.SearchQueries.hybridFrom(lexScores, embeddings)
  }

  /** Fold all live posting segments into ONE (the LSM/compactTail
    * analogue for the index): per-batch ingest leaves one small parquet
    * dir per micro-batch, and a year of minutely batches is 5×10⁵ dirs
    * whose open tax every searchHeads pays. Content is unchanged by
    * construction (postings are disjoint (token, doc) facts, order-free);
    * the swap, rebase and deferred GC are [[StateLog.Segments.compact]].
    * Stats and the `ndocs` census are untouched (never per-segment).
    */
  def compactSegments(s: SparkSession, base: String): Unit =
    compactFrom(s, base, currentState(s, base))

  /** The compaction body against an explicitly observed state — split out
    * so IncrementalIndexSpec can drive the lost-CAS rebase path
    * deterministically (commit an ingest between the read and the
    * publish).
    */
  private[graft] def compactFrom(s: SparkSession, base: String, observed: IndexState): Unit =
    stateLog.compact(s, base, observed)(_ => readPostingsOf(s, base, observed).localCheckpoint())

  /** Attach to a documents stream via foreachBatch (replay-protected). */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
