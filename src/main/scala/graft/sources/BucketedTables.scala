package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Bucketed table layouts — the co-located-join physical design for 100 TB
  * fact⋈dim work (SURVEY.md §4.2): both sides pre-hashed into the same
  * number of buckets on the join key, so a sort-merge join reads bucket i
  * against bucket i with NO shuffle exchange on either side. At scale this
  * converts the dominant repeated join cost into a one-time write-side
  * cost.
  *
  * Bucket metadata lives in the session catalog (in-memory catalog here),
  * so `ensure` (re)creates the tables once per session per scale dir;
  * data files land under the session's spark-warehouse/target scratch.
  */
object BucketedTables {

  def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  def ordersTable(dir: String): String = s"graft_orders_bucketed_${tag(dir)}"
  def customerTable(dir: String): String = s"graft_customer_bucketed_${tag(dir)}"

  /** The sorted-scan invariant: AT MOST one parquet part file per bucket
    * (bucket id encoded as the `_0000N` filename suffix; a bucket whose
    * key values are absent writes no file — e.g. 5 languages hashed into 8
    * buckets). The legacy outputOrdering conf is only sound under this
    * invariant — multi-file buckets concatenate out of order and a
    * sorted-scan assumption would yield silently wrong merge-join
    * results — so it is (re)checked every time files are adopted OR
    * written, not assumed.
    */
  private def bucketLayoutValid(s: SparkSession, path: String): Boolean = {
    val files = GraftFs.listFiles(s, path)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    val ids = files.flatMap(n => "_(\\d{5})\\.".r.findFirstMatchIn(n).map(_.group(1).toInt))
    files.nonEmpty && ids.length == files.length && ids.distinct.length == ids.length &&
      ids.forall(i => i >= 0 && i < 8)
  }

  /** Create (once per session) orders + customer bucketed by the join key
    * into 8 buckets, sorted within buckets — the layout that lets the
    * planner elide both join-side exchanges (asserted in PlanShapeSpec).
    */
  def ensure(s: SparkSession, dir: String): Unit = {
    ensureBucketed(s, dir, ordersTable(dir), "orders", Tables.orders(s, dir),
      Seq("o_custkey"), Seq("o_custkey"))
    ensureBucketed(s, dir, customerTable(dir), "customer", Tables.customer(s, dir),
      Seq("c_custkey"), Seq("c_custkey"))
  }

  /** Register `table` (8 buckets on `clusterBy`, sorted by `sortBy`) over
    * the layout at target/graft-bucketed/<scaleTag>/`name`, once per
    * session. External tables with explicit paths: the in-memory catalog
    * forgets tables between sessions but their files survive, and a
    * managed saveAsTable refuses a pre-existing location.
    *
    * The write repartitions on the bucket key first → exactly one file
    * per bucket; Spark only honors within-bucket sortBy order at read
    * time (eliding the join-side Sorts) when a bucket is a single file.
    * If the bucket files survive from an earlier session, they are
    * re-registered with bucket-spec DDL — after re-proving the
    * one-file-per-bucket invariant; a stale/partial layout is wiped and
    * rewritten instead of trusted.
    */
  private def ensureBucketed(s: SparkSession, dir: String, table: String, name: String,
      src: => DataFrame, clusterBy: Seq[String], sortBy: Seq[String]): Unit = synchronized {
    // Sound because EVERY bucketed layout this session scans went through
    // bucketLayoutValid below (one file per bucket). It must stay set for
    // the whole session: Spark reads it at physical-planning time, which
    // for the registered queries happens lazily when the driver executes
    // them — restoring it right after ensure() would silently re-insert
    // the sorts this layout exists to elide.
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    if (!s.catalog.tableExists(table)) {
      val path = GraftFs.qualify(s, s"target/graft-bucketed/${GraftFs.scaleTag(s, dir)}/$name")
      val df = src
      if (GraftFs.hasSuccess(s, path) && bucketLayoutValid(s, path)) {
        s.sql(s"""CREATE TABLE $table (${df.schema.toDDL}) USING PARQUET
                 |CLUSTERED BY (${clusterBy.mkString(", ")}) SORTED BY (${sortBy.mkString(", ")}) INTO 8 BUCKETS
                 |LOCATION '$path'""".stripMargin)
      } else {
        GraftFs.deleteRecursively(s, path)
        df.repartition(8, clusterBy.map(col): _*)
          .write
          .bucketBy(8, clusterBy.head, clusterBy.tail: _*).sortBy(sortBy.head, sortBy.tail: _*)
          .option("path", path)
          .mode(SaveMode.Overwrite)
          .saveAsTable(table)
        require(bucketLayoutValid(s, path),
          s"bucketed write at $path violated one-file-per-bucket; sorted scans would be wrong")
      }
    }
  }

  def ordersPkTable(dir: String): String = s"graft_orders_pk_bucketed_${tag(dir)}"

  /** Orders bucketed+sorted by PRIMARY KEY (o_orderkey) — the CDC/MERGE
    * layout: a snapshot maintained bucketed on its key lets every change
    * batch that arrives bucketed the same way (the natural ingest shape —
    * appends are written through the same bucketer) full-outer-merge with
    * ZERO exchange and ZERO sort on either side. This is the batch
    * equivalent of what Delta/Iceberg buy with clustered tables, on plain
    * parquet. Distinct from ensure()'s o_custkey layout, which serves the
    * customer-join family.
    */
  def ensureOrdersPk(s: SparkSession, dir: String): Unit =
    ensureBucketed(s, dir, ordersPkTable(dir), "orders_pk", Tables.orders(s, dir),
      Seq("o_orderkey"), Seq("o_orderkey"))

  // v2: round-8 portable hash family (PortableHash) — the version suffix
  // invalidates any signature table persisted under the murmur3 family
  // v3 (r17): rows carry the full per-doc band-sig vector (`sigs`) so the
  // co-located candidate join can emit first-collision-deduped pairs —
  // the schema change bumps the layout version, so v2 stores rebuild
  // rather than silently serving the narrower rows
  def signaturesTable(dir: String): String = s"graft_signatures_v3_bucketed_${tag(dir)}"

  /** Banded MinHash signatures persisted bucketed+sorted on the LSH
    * candidate-join key (lang, band, sig) — §7.6 #2: the signature table
    * is WRITTEN ONCE at ingest (signatures are pure per-row functions of
    * the text, so maintaining it is append-only) and every near-dedup run
    * then self-joins it co-located: bucket i merges against bucket i with
    * no exchange and no sort on either side. At 100 TB the candidate join
    * is the only shuffle the near-dedup pipeline has — this layout deletes
    * it. The caller passes the signature frame (sources stays independent
    * of the operator layer).
    */
  def ensureSignatures(s: SparkSession, dir: String, src: DataFrame): Unit =
    ensureBucketed(s, dir, signaturesTable(dir), "signatures_v3", src,
      Seq("lang", "band", "sig"), Seq("lang", "band", "sig"))

  def eventsTable(dir: String): String = s"graft_events_bucketed_${tag(dir)}"

  /** Events bucketed by user_id, sorted (user_id, ts_us, event_id) — the
    * layout for the per-user event-analytics family (sessionize, funnel,
    * retention, streaks): every window pass partitions by user_id and
    * sorts by time, so a bucketed+sorted scan feeds windows AND the
    * follow-on per-user aggregates with zero exchange and zero sort
    * (hash(user_id) co-locates everything those operators cluster on).
    * ts is pre-converted to epoch micros (long) at write — the one-time
    * ingest cost that replaces a per-query conversion.
    */
  def ensureEvents(s: SparkSession, dir: String): Unit =
    ensureBucketed(s, dir, eventsTable(dir), "events",
      Tables.events(s, dir).select(
        col("event_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("user_id"), col("event_type"), col("value")),
      Seq("user_id"), Seq("user_id", "ts_us", "event_id"))

  def curatedTable(dir: String): String = s"graft_curated_bucketed_${tag(dir)}"

  /** Curated-corpus layout for the end-to-end pipeline demo
    * (q_pipeline_e2e): the quality-surviving standing corpus, bucketed by
    * lang — the block key of the near-dup admission join — so each nightly
    * admission run scans only the co-located lang buckets. The caller
    * passes the curated frame (the pipeline derives it from the CSV-
    * ingested corpus; sources stays independent of the operator layer).
    */
  def ensureCurated(s: SparkSession, dir: String, src: DataFrame): Unit =
    ensureBucketed(s, dir, curatedTable(dir), "curated", src, Seq("lang"), Seq("lang"))

  /** `fp` encodes the bucket-signature construction parameters (LSH
    * tables/bits, corpus slice rule): a parameter change must miss this
    * table and rebuild under a new name, never reuse stale buckets.
    */
  def vecBucketsTable(dir: String, fp: String): String =
    s"graft_vecbuckets_${fp}_bucketed_${tag(dir)}"

  /** Hyperplane-LSH home buckets of the standing vector corpus, persisted
    * clustered+sorted on the collision key (label, t, b) — the vector-side
    * analogue of ensureSignatures: bucket signatures are pure per-row
    * functions of the embedding, so the table is WRITTEN ONCE at ingest
    * and maintained append-only; each incremental graph run then hashes
    * only the new-vector slice and joins it against this layout. The
    * caller passes the bucket frame (sources stays independent of the
    * operator layer's plane seeds).
    */
  def ensureVecBuckets(s: SparkSession, dir: String, fp: String, src: DataFrame): Unit =
    ensureBucketed(s, dir, vecBucketsTable(dir, fp), s"vecbuckets_$fp", src,
      Seq("label", "t", "b"), Seq("label", "t", "b"))

  def documentsTable(dir: String): String = s"graft_documents_bucketed_${tag(dir)}"

  /** Documents bucketed by language — the layout that makes the per-lang
    * similarity self-join co-located: both sides of the pair join scan the
    * same lang-hashed buckets, so the merge join needs no exchange on
    * either side (and no sort, via the one-file-per-bucket invariant).
    * This is the 100 TB shape for corpora whose per-lang token dictionaries
    * are too large to broadcast — the layout replaces the broadcast.
    */
  def ensureDocuments(s: SparkSession, dir: String): Unit =
    ensureBucketed(s, dir, documentsTable(dir), "documents", Tables.documents(s, dir),
      Seq("lang"), Seq("lang"))
}
