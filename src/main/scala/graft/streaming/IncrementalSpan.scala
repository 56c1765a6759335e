package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** Incremental maintenance of the span-provenance state — the streaming
  * upkeep of q_text_span_source's "who copied whom" audit: each arriving
  * micro-batch of documents lands its per-doc window-occurrence counts
  * and per-doc window mass APPEND-ONLY (a doc's windows never change
  * once written — the posting-segment property) and MERGES the
  * per-window sufficient statistic (gh → total count, min holder), whose
  * partials are associative: cnt is a sum, the canonical source a min.
  * Serve runs the EXACT SAME attribution tail as the registered query
  * (TextQueries.spanSourceFromTables), so state-served ≡ one-shot
  * bit-for-bit over any batch split — IncrementalSpanSpec replays the
  * fixture to pin it.
  *
  * Why this matters at 100 TB: nightly admission re-runs the provenance
  * audit, and the one-shot recomputes every window of the standing
  * corpus each night; here a batch costs O(batch windows) plus one
  * window-vocabulary-grain merge, and the corpus text is never
  * re-tokenized.
  *
  * State protocol: the [[StateLog]] log-record CAS and segment
  * compaction. Span-specific:
  *
  *  - every segment name owns one dir in each of the families `occ/` and
  *    `docs/`; the record writes the list under both keys (`occ=`,
  *    `docs=`, and `tombocc=`, `tombdocs=` for tombstones).
  *  - stats are vocabulary-sized and rewritten per merge under
  *    writer-unique names, so superseded stats dirs are GARBAGE: after a
  *    commit at v, the stats dir of v−2 is deleted ([[gcStats]]) unless a
  *    surviving record names it. One superseded version is kept so a
  *    reader serving state v−1 while the commit lands keeps its scan.
  *
  * Contract: each doc_id arrives exactly once across batches (corpus
  * ingest). Concurrent ingests and compactions are safe under the CAS;
  * replay protection is the committed batch tag.
  */
object IncrementalSpan {

  private val occSchema = StructType(Seq(
    StructField("gh", LongType), StructField("doc_id", LongType),
    StructField("k", LongType)))
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_windows", LongType)))
  private val statsSchema = StructType(Seq(
    StructField("gh", LongType), StructField("cnt", LongType),
    StructField("src", LongType)))

  /** One committed span state: the `log/v<version>` record. Each name in
    * `segs` is a dir under both `occ/` and `docs/` (so [[occSegs]] and
    * [[docSegs]] are the same list); `statsDir` is relative to `base`.
    * `tombs` await deferred GC ([[StateLog]]); pre-tombs records parse
    * with the fields absent.
    */
  private[graft] case class SpanState(version: Long, statsDir: Option[String],
      segs: Seq[String], batch: Option[Long], tombs: Seq[String] = Seq.empty)
      extends StateLog.Segmented[SpanState] {
    def occSegs: Seq[String] = segs
    def docSegs: Seq[String] = segs
    def occTombs: Seq[String] = tombs
    def docTombs: Seq[String] = tombs
    def swapped(version: Long, segs: Seq[String], tombs: Seq[String]): SpanState =
      copy(version = version, segs = segs, tombs = tombs)
  }

  private val stateLog = new StateLog.Segments[SpanState](
    SpanState(-1L, None, Seq.empty, None),
    st => Seq("stats" -> st.statsDir.getOrElse(""), "occ" -> StateLog.list(st.segs),
      "docs" -> StateLog.list(st.segs), "batch" -> StateLog.long(st.batch),
      "tombocc" -> StateLog.list(st.tombs), "tombdocs" -> StateLog.list(st.tombs)),
    (v, f) => SpanState(v, f.str("stats"), f.list("occ"), f.long("batch"), f.list("tombocc")),
    families = Seq("occ", "docs"))

  /** Latest committed state ([[StateLog.Log.current]]). */
  private[graft] def currentState(s: SparkSession, base: String): SpanState =
    stateLog.current(s, base)

  /** Bounded stats growth (r11 advice): after a commit at version v, the
    * stats dir referenced by record v−2 is garbage UNLESS a surviving
    * later record still names it (compaction carries statsDir forward
    * unchanged). Exactly one superseded version is kept so a reader that
    * resolved state v−1 just before the commit still scans live files.
    */
  private def gcStats(s: SparkSession, base: String, committed: SpanState): Unit =
    try {
      stateLog.read(s, base, committed.version - 2).flatMap(_.statsDir).foreach { old =>
        val keep = Seq(committed.version - 1, committed.version)
          .flatMap(stateLog.read(s, base, _)).flatMap(_.statsDir)
        if (!keep.contains(old))
          graft.sources.GraftFs.deleteRecursively(s, s"$base/$old")
      }
    } catch { case NonFatal(_) => () } // GC must never fail a commit

  private def readStatsOf(s: SparkSession, base: String, st: SpanState): DataFrame =
    st.statsDir match {
      case Some(d) => s.read.schema(statsSchema).parquet(s"$base/$d")
      case None => StateLog.emptyFrame(s, statsSchema)
    }

  private def readOccOf(s: SparkSession, base: String, st: SpanState): DataFrame =
    if (st.occSegs.isEmpty) StateLog.emptyFrame(s, occSchema)
    else s.read.schema(occSchema).parquet(st.occSegs.map(n => s"$base/occ/$n"): _*)

  private def readDocsOf(s: SparkSession, base: String, st: SpanState): DataFrame =
    if (st.docSegs.isEmpty) StateLog.emptyFrame(s, docsSchema)
    else s.read.schema(docsSchema).parquet(st.docSegs.map(n => s"$base/docs/$n"): _*)

  /** Merge one micro-batch of (doc_id, text) documents into the span
    * state and CAS-publish the next state record. Replays (batch id <=
    * committed tag) are skipped — re-landing a doc's windows would
    * double-count them in both the occurrence segments and the merged
    * stats. Batch cost is O(batch windows) + one vocabulary-grain merge.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): Unit = {
    val st0 = currentState(s, base)
    if (st0.covers(batchId)) return
    // first-write-wins per doc_id: an at-least-once source re-emitting a
    // document under a NEW batch id (the replay tag only guards same-id
    // redelivery) would otherwise double its window counts in BOTH the
    // occurrence segments and the merged stats — silent corruption no
    // serve-side dedup can undo. The anti-join reads the committed
    // doc-grain segments (skinny); concurrent writers are expected to
    // carry disjoint doc sets (the foreachBatch topology guarantees it).
    val fresh = batch.join(readDocsOf(s, base, st0).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val occP = graft.operators.TextQueries.windowGrams(
        fresh.select(col("doc_id"), col("text")))
      .groupBy("gh", "doc_id").agg(count(lit(1)).as("k"))
      .localCheckpoint() // feeds the segment write, the stats partial, and the doc masses
    val docsP = fresh.select("doc_id").distinct()
      .join(occP.groupBy("doc_id").agg(sum("k").as("n2")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n2"), lit(0L)).as("n_windows"))
    val statsP = occP.groupBy(col("gh").as("g2"))
      .agg(sum("k").as("c2"), min("doc_id").as("s2"))
    var seg: Option[String] = None
    var statsOf: Option[(String, String)] = None // (writtenDir, mergedFromStatsDir)
    stateLog.append(s, base, st0, batchId) { st =>
      val v = st.version + 1
      // the batch segment is pure batch data — version-independent, so a
      // rebase reuses it; a writer-unique name makes concurrent attempts
      // at the same version physically disjoint
      val segName = seg.getOrElse {
        val n = StateLog.uniqueName("b", v)
        occP.write.mode("overwrite").parquet(s"$base/occ/$n")
        docsP.write.mode("overwrite").parquet(s"$base/docs/$n")
        seg = Some(n); n
      }
      // the stats merge is against a SPECIFIC predecessor stats dir;
      // reuse the written merge only while the committed dir hasn't
      // moved (compaction never moves it — an ingest rebase across a
      // compaction keeps the merge; across a foreign ingest it recomputes)
      val statsName = statsOf match {
        case Some((written, from)) if st.statsDir.contains(from) || (st.statsDir.isEmpty && from.isEmpty) =>
          written
        case _ =>
          val merged = readStatsOf(s, base, st)
            .join(statsP, col("gh") === col("g2"), "full_outer")
            .select(coalesce(col("gh"), col("g2")).as("gh"),
              (coalesce(col("cnt"), lit(0L)) + coalesce(col("c2"), lit(0L))).as("cnt"),
              least(col("src"), col("s2")).as("src")) // least skips nulls: min of the present sides
            .localCheckpoint()
          val n = StateLog.uniqueName("stats/v", v)
          merged.write.mode("overwrite").parquet(s"$base/$n")
          statsOf = Some((n, st.statsDir.getOrElse("")))
          n
      }
      Some(SpanState(v, Some(statsName), st.segs :+ segName, batchId.orElse(st.batch), st.tombs))
    }.foreach(gcStats(s, base, _))
  }

  /** Fold the live segments into one occ dir and one docs dir and
    * CAS-publish the swap ([[StateLog.Segments.compact]]; r11 verdict
    * ask 5): without it a year of frequent batches is hundreds of
    * thousands of small parquet dirs on the serve path. Content is
    * unchanged by construction — occ rows are disjoint (gh, doc_id) facts
    * and docs rows disjoint doc_ids, both order-free.
    */
  def compactSegments(s: SparkSession, base: String): Unit =
    compactFrom(s, base, currentState(s, base))

  /** The compaction body against an explicitly observed state — split out
    * so IncrementalSpanSpec can drive the lost-CAS rebase path
    * deterministically.
    */
  private[graft] def compactFrom(s: SparkSession, base: String, observed: SpanState): Unit =
    stateLog.compact(s, base, observed) {
      case "occ" => readOccOf(s, base, observed).localCheckpoint()
      case _ => readDocsOf(s, base, observed).localCheckpoint()
    }

  /** The full provenance audit served from state — ≡ q_text_span_source
    * over everything ingested (IncrementalSpanSpec pins row equality).
    * Docs, occurrences, and stats are read from ONE state record — a
    * concurrent commit cannot tear the triple apart.
    */
  def serveSpanSource(s: SparkSession, base: String): DataFrame = {
    val st = currentState(s, base)
    graft.operators.TextQueries.spanSourceFromTables(
      readDocsOf(s, base, st), readOccOf(s, base, st), readStatsOf(s, base, st))
  }

  /** NOVELTY of a candidate slice against the STANDING state — the
    * q_text_novelty semantics with the standing window set served from
    * the maintained stats instead of re-tokenizing the corpus (the
    * operator's documented 100 TB path): per candidate doc, the fraction
    * of its stride-1 20-token windows absent from every ingested
    * document's window set. The slice is NOT ingested by this call — it
    * is the admission question ("how much new information would this
    * slice add"), asked before committing it.
    */
  def serveNovelty(s: SparkSession, base: String, candidates: DataFrame): DataFrame = {
    val standing = readStatsOf(s, base, currentState(s, base)).select("gh")
    val grams = graft.operators.TextQueries.windowGrams(
        candidates.select(col("doc_id"), col("text")))
      .localCheckpoint() // feeds the per-doc mass AND the anti-join
    val novel = grams.join(standing, Seq("gh"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("novel_windows"))
    val nWin = grams.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    candidates.select("doc_id")
      .join(nWin, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("novel_windows"), lit(0L)).as("novel_windows"),
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          round(coalesce(col("novel_windows"), lit(0L)).cast(DoubleType)
            / col("n_windows"), 6)).as("novelty"))
      .orderBy("doc_id")
  }

  /** Attach to a documents stream via foreachBatch (replay-protected). */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
