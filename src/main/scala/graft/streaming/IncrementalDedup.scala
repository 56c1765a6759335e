package graft.streaming

import graft.functions.Tokenize
import graft.operators.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental / streaming MinHash near-dedup (round-3 §7.6 #1): the state
  * a nightly 100 TB ingest pipeline keeps is exactly the tables this
  * maintains — banded LSH signatures and hashed token sets of every
  * document seen so far, plus the verified near-dup pairs emitted along
  * the way. Each arriving micro-batch:
  *
  *   1. computes its own signatures (per-row HOFs, shuffle-free);
  *   2. candidate-joins the BATCH signatures against state ∪ batch — only
  *      pairs touching a new doc are enumerated, so batch cost scales with
  *      the batch, not the corpus;
  *   3. verifies candidates exactly (same `verifyJaccard` gate as the
  *      batch operators — precision 1.0 by construction);
  *   4. commits the batch's signature/hash/pair segments atomically.
  *
  * Because signatures depend only on document content, the union of
  * per-batch emissions over any batch split equals the one-shot batch
  * q_dedup_near pair set exactly — IncrementalDedupSpec asserts set
  * equality including the jaccard scores, and q_serve_neardup_state puts
  * the build→serve loop through the driver's oracle gate every round.
  *
  * State protocol: the [[StateLog]] log-record CAS and segment
  * compaction. Every segment name owns one writer-unique dir in each of
  * `banded/`, `hashed/` and `pairs/`. On a lost publish race the
  * pure-batch signature/hash dirs are reused and the state-dependent pair
  * emission recomputes against the winner's state. Segments auto-compact
  * at [[StateLog.AutoCompactSegs]], so the record body, the serve read
  * and each batch's state-side signature scan stay O(1) in batch count.
  */
object IncrementalDedup {

  private val bandedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("sz", IntegerType), StructField("band", IntegerType),
    StructField("sig", LongType)))
  private val hashedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("toksh", ArrayType(LongType, containsNull = false), nullable = false)))
  private val pairsSchema = StructType(Seq(
    StructField("doc_id1", LongType), StructField("doc_id2", LongType),
    StructField("jaccard", DoubleType)))

  /** One committed dedup state: segment names (shared by the banded/
    * hashed/pairs dirs — the three are always committed together) and
    * the highest landed batch id. `tombs` await deferred GC
    * ([[StateLog]]).
    */
  private[graft] case class DedupState(version: Long, segs: Seq[String],
      batch: Option[Long], tombs: Seq[String] = Seq.empty)
      extends StateLog.Segmented[DedupState] {
    def swapped(version: Long, segs: Seq[String], tombs: Seq[String]): DedupState =
      copy(version = version, segs = segs, tombs = tombs)
  }

  private val stateLog = new StateLog.Segments[DedupState](
    DedupState(-1L, Seq.empty, None),
    st => Seq("segs" -> StateLog.list(st.segs), "batch" -> StateLog.long(st.batch),
      "tombs" -> StateLog.list(st.tombs)),
    (v, f) => DedupState(v, f.list("segs"), f.long("batch"), f.list("tombs")),
    families = Seq("banded", "hashed", "pairs"))

  /** Latest committed state ([[StateLog.Log.current]]). */
  private[graft] def currentState(s: SparkSession, base: String): DedupState =
    stateLog.current(s, base)

  /** The committed micro-batch id. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    currentState(s, base).batch

  private def readSegs(s: SparkSession, base: String, sub: String,
      schema: StructType, segs: Seq[String]): DataFrame =
    if (segs.isEmpty) StateLog.emptyFrame(s, schema)
    else s.read.schema(schema).parquet(segs.map(n => s"$base/$sub/$n"): _*)

  /** All pairs emitted so far, from ONE committed record (a concurrent
    * commit cannot tear the segment set).
    */
  def readPairs(s: SparkSession, base: String): DataFrame = {
    val st = currentState(s, base)
    readSegs(s, base, "pairs", pairsSchema, st.segs)
  }

  /** Process one batch of documents (doc_id, text, lang, ...): emit the
    * verified near-dup pairs involving at least one batch document, then
    * commit the batch's segments. Returns the emitted pairs (doc_id1 <
    * doc_id2, jaccard); a replayed batch id returns empty and lands
    * nothing.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): DataFrame = {
    val st0 = currentState(s, base)
    if (st0.covers(batchId)) return StateLog.emptyFrame(s, pairsSchema)
    // first-write-wins per doc_id: an at-least-once source re-emitting a
    // document under a NEW batch id would otherwise land duplicate
    // signature/hash rows AND re-emit every pair the doc already emitted
    // (pair-set unchanged, but row-level duplicates in the pair store).
    // The anti-join reads the per-doc hashed segments' key column —
    // skinny; concurrent writers carry disjoint docs (foreachBatch).
    val fresh = batch.join(
      readSegs(s, base, "hashed", hashedSchema, st0.segs).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val sets = fresh.select(col("doc_id"), col("lang"),
      Tokenize.tokenSet(col("text")).as("toks"))
    // batch derivations are pure batch data — materialize once, reuse
    // across publish-race rebases; writer-unique segment names make
    // concurrent writers collision-free (record-defined liveness)
    val bBanded = DedupQueries.bandedSignatures(sets, bands = 16).localCheckpoint()
    val bHashed = fresh.select(col("doc_id"),
      Tokenize.hashedTokenSet(col("text")).as("toksh")).localCheckpoint()
    val segName = StateLog.uniqueName("b", st0.version + 1)
    bBanded.write.mode("overwrite").parquet(s"$base/banded/$segName")
    bHashed.write.mode("overwrite").parquet(s"$base/hashed/$segName")
    var newPairs = StateLog.emptyFrame(s, pairsSchema)
    stateLog.append(s, base, st0, batchId,
        abandon = stateLog.dropUnlisted(s, base, segName)) { st =>
      // the pair emission depends on the OBSERVED state (candidates =
      // batch × state ∪ batch) — recompute on every rebase
      val allBanded = readSegs(s, base, "banded", bandedSchema, st.segs).unionByName(bBanded)
      val allHashed = readSegs(s, base, "hashed", hashedSchema, st.segs).unionByName(bHashed)
      val l = bBanded.select(col("lang"), col("band"), col("sig"), col("doc_id").as("did1"))
      val r = allBanded.select(col("lang").as("lang2"), col("band").as("band2"),
        col("sig").as("sig2"), col("doc_id").as("did2"))
      val cands = l.join(r,
          col("lang") === col("lang2") && col("band") === col("band2")
            && col("sig") === col("sig2") && col("did1") =!= col("did2"))
        .select(least(col("did1"), col("did2")).as("doc_id1"),
          greatest(col("did1"), col("did2")).as("doc_id2"))
        .distinct()
      newPairs = DedupQueries.verifyJaccard(cands, allHashed, 1, 2).localCheckpoint()
      newPairs.write.mode("overwrite").parquet(s"$base/pairs/$segName")
      Some(DedupState(st.version + 1, st.segs :+ segName, batchId.orElse(st.batch), st.tombs))
    } match {
      case Some(committed) =>
        stateLog.autoCompact(s, base, committed)(compactFrom(s, base, _))
        newPairs
      case None => StateLog.emptyFrame(s, pairsSchema)
    }
  }

  /** Fold every live segment of all THREE families into ONE dir each
    * and CAS-publish the swap ([[StateLog.Segments.compact]]). Content is
    * unchanged verbatim: each family is rewritten as the plain union of
    * its folded segments (no distinct — banded/hashed rows are disjoint
    * across segments by the first-write-wins ingest guard, and pair rows
    * keep their exact multiplicity).
    */
  def compactSegments(s: SparkSession, base: String): Unit =
    compactFrom(s, base, currentState(s, base))

  private val schemas = Map(
    "banded" -> bandedSchema, "hashed" -> hashedSchema, "pairs" -> pairsSchema)

  private[graft] def compactFrom(s: SparkSession, base: String, observed: DedupState): Unit =
    stateLog.compact(s, base, observed)(f =>
      readSegs(s, base, f, schemas(f), observed.segs).localCheckpoint())

  /** Attach the incremental dedup to a documents stream via foreachBatch;
    * the batch id is threaded into the committed record for crash-replay
    * idempotence.
    */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid)): Unit
    }
}
