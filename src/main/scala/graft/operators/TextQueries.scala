package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Tokenize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Group K (text) — corpus analytics for an LLM-data pipeline
  * (SURVEY.md §2.B Group K + builder-prompt text-analysis ops).
  *
  * Scale design: everything is explode → shuffle-on-token/doc aggregates;
  * token-level intermediates never materialize per-document state on the
  * driver. The tf-idf corpus size N rides along as a broadcast single-row
  * join, not a collected scalar.
  */
object TextQueries {

  private def tokens(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      explode(Tokenize.tokens(col("text"))).as("token"))

  /** Top-20 tokens per language by frequency. */
  val wordcount = QueryDef(
    "q_text_wordcount",
    (s, dir) => {
      val counts = tokens(s, dir).groupBy("lang", "token").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(desc("n"), asc("token"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select("lang", "rn", "token", "n")
        .orderBy("lang", "rn")
    },
    Some("""
      WITH counts AS (
        SELECT lang, token, COUNT(*) AS n
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY lang, token)
      SELECT lang, rn, token, n FROM (
        SELECT lang, token, n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rn
        FROM counts)
      WHERE rn <= 20
      ORDER BY lang, rn
    """.trim),
  )

  /** tf-idf, top-1 token per document. idf = ln(N/df) in double on both
    * engines; ranking is on the 6dp-rounded score so a last-ulp libm
    * difference cannot flip ranks.
    */
  val tfidf = QueryDef(
    "q_text_tfidf",
    (s, dir) => {
      val toks = tokens(s, dir)
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = toks.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, "token").crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 6))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("token"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "token", "score")
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
      df AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.token,
               ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
      SELECT doc_id, token, score FROM (
        SELECT doc_id, token, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rn
        FROM scored) WHERE rn = 1
      ORDER BY doc_id
    """.trim),
  )

  /** Corpus stats per (lang, source). */
  val textStats = QueryDef(
    "q_text_stats",
    (s, dir) => {
      val docs = Tables.documents(s, dir).groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          (sum("n_chars").cast(DecimalType(38, 0)).cast(DoubleType) / count(lit(1))).as("avg_chars"))
      val toks = Tables.documents(s, dir)
        .select(col("lang"), col("source"), explode(Tokenize.tokens(col("text"))).as("token"))
        .groupBy("lang", "source").agg(countDistinct("token").as("n_distinct_tokens"))
      docs.join(toks, Seq("lang", "source"))
        .orderBy("lang", "source")
    },
    Some("""
      WITH d AS (
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(CAST(SUM(n_chars) AS DECIMAL(38,0)) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents GROUP BY lang, source),
      t AS (
        SELECT lang, source, COUNT(DISTINCT token) AS n_distinct_tokens
        FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY lang, source)
      SELECT d.lang AS lang, d.source AS source, n_docs, avg_chars, n_distinct_tokens
      FROM d JOIN t ON d.lang = t.lang AND d.source = t.source
      ORDER BY lang, source
    """.trim),
  )

  /** Language identification via per-language token profiles (n-gram-style
    * heuristic): profile = top-20 tokens per lang; prediction = lang with
    * most profile hits among the doc's distinct tokens (tiebreak lang asc).
    *
    * Both the corpus term counts and the per-doc distinct-token relation
    * derive from ONE (doc_id, lang, token) pre-aggregate, so the corpus is
    * exploded and shuffled once (Catalyst's ReuseExchange serves the
    * second consumer from the same shuffle output) — the profile counts
    * then aggregate the already-compressed per-doc rows, not raw tokens.
    * The profile itself is bounded by construction (20 tokens x #langs),
    * so broadcasting it is sound at any corpus size.
    */
  val langId = QueryDef(
    "q_text_langid",
    (s, dir) => {
      val docTok = tokens(s, dir).groupBy("doc_id", "lang", "token")
        .agg(count(lit(1)).as("n"))
      val counts = docTok.groupBy("lang", "token").agg(sum("n").as("n"))
      val wProf = Window.partitionBy("lang").orderBy(desc("n"), asc("token"))
      val profile = counts.withColumn("rn", row_number().over(wProf))
        .filter(col("rn") <= 20)
        .select(col("lang").as("profile_lang"), col("token"))
      val hits = docTok.join(broadcast(profile), "token")
        .groupBy("doc_id", "lang", "profile_lang")
        // least(n, 1) is 1 on every row, so this IS a count — phrased as a
        // sum over n so column pruning can't drop n from this branch: both
        // consumers of docTok then carry identical aggregate+exchange
        // subtrees and ReuseExchange serves this one from the profile
        // branch's shuffle instead of re-exploding the corpus.
        .agg(sum(least(col("n"), lit(1L))).as("hits"))
      val wPred = Window.partitionBy("doc_id").orderBy(desc("hits"), asc("profile_lang"))
      hits.withColumn("rn", row_number().over(wPred))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("profile_lang").as("pred_lang"),
          (col("lang") === col("profile_lang")).as("is_correct"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
      counts AS (SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY lang, token),
      profile AS (
        SELECT lang AS profile_lang, token FROM (
          SELECT lang, token,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rn
          FROM counts) WHERE rn <= 20),
      doctoks AS (SELECT DISTINCT doc_id, lang, token FROM toks),
      hits AS (
        SELECT doc_id, lang, profile_lang, COUNT(*) AS hits
        FROM doctoks JOIN profile USING (token)
        GROUP BY doc_id, lang, profile_lang)
      SELECT doc_id, lang, profile_lang AS pred_lang, lang = profile_lang AS is_correct
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, profile_lang ASC) AS rn
            FROM hits) WHERE rn = 1
      ORDER BY doc_id
    """.trim),
  )

  /** Quality scoring: type-token ratio, stopword ratio, length — all exact
    * integer ratios in double.
    */
  val quality = QueryDef(
    "q_text_quality",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Tokenize.tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("n_distinct", size(array_distinct(col("toks"))))
        .withColumn("n_stop", size(filter(col("toks"),
          t => t.isin("the", "a", "of", "and", "in", "to"))))
        .select(
          col("doc_id"),
          col("n_tokens"), col("n_distinct"), col("n_stop"),
          (col("n_distinct").cast(DoubleType) / col("n_tokens")).as("ttr"),
          (col("n_stop").cast(DoubleType) / col("n_tokens")).as("stop_ratio"),
          round(
            lit(0.3) * (col("n_distinct").cast(DoubleType) / col("n_tokens"))
              + lit(0.5) * (lit(1.0) - col("n_stop").cast(DoubleType) / col("n_tokens"))
              + lit(0.2) * least(lit(1.0), col("n_tokens").cast(DoubleType) / lit(100.0)),
            6).as("quality_score"))
        .orderBy("doc_id"),
    Some("""
      WITH q AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the','a','of','and','in','to'))) AS n_stop
        FROM documents)
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(n_tokens AS INTEGER) AS n_tokens,
             CAST(n_distinct AS INTEGER) AS n_distinct,
             CAST(n_stop AS INTEGER) AS n_stop,
             CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
             CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
             ROUND(0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
                 + 0.5 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
                 + 0.2 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 6) AS quality_score
      FROM q ORDER BY doc_id
    """.trim),
  )

  /** Model-based quality scoring — the CCNet/LLaMA-pipeline
    * "fastText-classifier quality filter" shape: a trained linear model's
    * weights applied to per-doc features entirely inside codegen (one
    * narrow projection pass, no shuffle — scoring a 100 TB corpus with a
    * shipped model is a map). Features: type-token ratio, stopword
    * ratio, length saturation min(1, n/100), mean-word-length/10; fixed
    * weights z = −2 + 3·ttr − 4·stop + 2·len + 1·awl, p = σ(z), keep at
    * p ≥ 0.5. Float parity: identical double expressions both engines;
    * exp() carries the same 1-ulp libm caveat as ln (masked by the 6dp
    * round except exactly at a rounding boundary — unobserved at all
    * fixture scales).
    */
  val qualityModel = QueryDef(
    "q_text_quality_model",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Tokenize.tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("ttr", size(array_distinct(col("toks"))).cast(DoubleType) / col("n_tokens"))
        .withColumn("stop_ratio", size(filter(col("toks"),
          t => t.isin("the", "a", "of", "and", "in", "to"))).cast(DoubleType) / col("n_tokens"))
        .withColumn("len_norm", least(lit(1.0), col("n_tokens").cast(DoubleType) / lit(100.0)))
        .withColumn("awl_norm",
          col("n_chars").cast(DoubleType) / col("n_tokens") / lit(10.0))
        .withColumn("z", lit(-2.0) + lit(3.0) * col("ttr") - lit(4.0) * col("stop_ratio")
          + lit(2.0) * col("len_norm") + lit(1.0) * col("awl_norm"))
        .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .select(col("doc_id"), round(col("z"), 6).as("z"), col("p"),
          (col("p") >= 0.5).as("keep"))
        .orderBy("doc_id"),
    Some("""
      WITH f AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS ttr,
               CAST(len(list_filter(string_split(text, ' '),
                   t -> t IN ('the','a','of','and','in','to'))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio,
               least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) AS len_norm,
               CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) / 10.0 AS awl_norm
        FROM documents),
      z AS (
        SELECT doc_id,
               -2.0 + 3.0 * ttr - 4.0 * stop_ratio + 2.0 * len_norm + 1.0 * awl_norm AS z
        FROM f)
      SELECT doc_id, ROUND(z, 6) AS z,
             ROUND(1.0 / (1.0 + exp(-z)), 6) AS p,
             ROUND(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
      FROM z ORDER BY doc_id
    """.trim),
  )

  /** Token counting: whitespace tokens, BPE-ish regex tokens, chars/4
    * estimate.
    */
  val tokenCount = QueryDef(
    "q_text_tokencount",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          Tokenize.tokenCount(col("text")).as("n_ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("n_re_tokens"),
          ceil(col("n_chars").cast(DoubleType) / 4.0).cast(LongType).as("est_bpe_tokens"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_re_tokens,
             CAST(CEIL(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens
      FROM documents ORDER BY doc_id
    """.trim),
  )

  /** Rolling-hash document fingerprint: polynomial fold over a per-token
    * code derived from printable characters only (cross-engine —
    * deliberately avoids murmur/xxhash whose impls differ between engines).
    */
  val fingerprint = QueryDef(
    "q_text_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Tokenize.tokens(col("text")))
        .withColumn("codes", expr(
          """transform(toks,
             t -> (ascii(substring(t, 1, 1)) * 256 + ascii(substring(t, -1, 1))) * 31 + length(t))"""))
        .select(
          col("doc_id"),
          expr("aggregate(codes, 0L, (acc, v) -> (acc * 1000003 + v) % 2147483647)").as("fingerprint"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ' '),
                   t -> CAST((ascii(t[1]) * 256 + ascii(t[-1])) * 31 + length(t) AS BIGINT))),
               (acc, v) -> (acc * 1000003 + v) % 2147483647) AS fingerprint
      FROM documents ORDER BY doc_id
    """.trim),
  )

  /** Pointwise mutual information over adjacent-token bigrams — the
    * collocation detector ("strongly associated word pairs") every corpus
    * analysis kit carries. PMI = ln(P(a,b) / (P(a)P(b))) with bigram and
    * unigram counts; the ratio's numerator/denominator int products stay
    * < 2^53 so the double argument to ln is exact, and ranking is on the
    * 6dp-rounded score (libm last-ulp immunity, same recipe as tf-idf).
    * Corpus totals ride along as a broadcast single-row join.
    */
  val textPmi = QueryDef(
    "q_text_pmi",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), Tokenize.tokens(col("text")).as("toks"))
      val bigrams = toks.select(explode(expr(
        """transform(CASE WHEN size(toks) >= 2 THEN sequence(0, size(toks) - 2)
          |               ELSE CAST(array() AS ARRAY<INT>) END,
          |          i -> struct(toks[i] AS a, toks[i+1] AS b))""".stripMargin)).as("bg"))
        .select(col("bg.a").as("a"), col("bg.b").as("b"))
      val nAb = bigrams.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      val uni = toks.select(explode(col("toks")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_tok"))
      val totals = bigrams.agg(count(lit(1)).as("n_big"))
        .crossJoin(uni.agg(sum("n_tok").cast(LongType).as("n_uni")))
      val ua = uni.select(col("token").as("a"), col("n_tok").as("n_a"))
      val ub = uni.select(col("token").as("b"), col("n_tok").as("n_b"))
      nAb.filter(col("n_ab") >= 5)
        .join(ua, "a").join(ub, "b")
        .crossJoin(broadcast(totals))
        .withColumn("pmi", round(log(
          (col("n_ab") * col("n_uni") * col("n_uni")).cast(DoubleType)
            / (col("n_big") * col("n_a") * col("n_b")).cast(DoubleType)), 6))
        .select("a", "b", "n_ab", "pmi")
        .orderBy(desc("pmi"), asc("a"), asc("b"))
        .limit(50)
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      bigrams AS (
        SELECT unnest(list_transform(range(len(toks) - 1), i -> struct_pack(a := toks[i+1], b := toks[i+2]))) AS bg
        FROM t WHERE len(toks) >= 2),
      nab AS (SELECT bg.a AS a, bg.b AS b, COUNT(*) AS n_ab FROM bigrams GROUP BY 1, 2),
      uni AS (SELECT unnest(toks) AS token FROM t),
      unic AS (SELECT token, COUNT(*) AS n_tok FROM uni GROUP BY token),
      totals AS (SELECT (SELECT COUNT(*) FROM bigrams) AS n_big,
                        (SELECT COUNT(*) FROM uni) AS n_uni)
      SELECT a, b, n_ab,
             ROUND(ln(CAST(n_ab * n_uni * n_uni AS DOUBLE)
                      / CAST(n_big * ua.n_tok * ub.n_tok AS DOUBLE)), 6) AS pmi
      FROM nab JOIN unic ua ON nab.a = ua.token
               JOIN unic ub ON nab.b = ub.token
               CROSS JOIN totals
      WHERE n_ab >= 5
      ORDER BY pmi DESC, a ASC, b ASC
      LIMIT 50
    """.trim),
  )

  /** Text normalization — the first stage of every ingest pipeline:
    * lowercase, strip non-alphanumerics, collapse runs of whitespace,
    * trim. The fixture text is already clean, so the input is roughed up
    * deterministically first (uppercased, framed with punctuation and
    * padding — the same synthesize-then-process idiom as q_fn_url) and
    * the normalizer must recover a canonical form. Pure per-row codegen'd
    * string expressions — zero shuffle at any scale.
    */
  val textNormalize = QueryDef(
    "q_text_normalize",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("dirty",
          concat(lit("  ["), upper(col("text")), lit("]!!  \t"), col("lang"), lit(" ?? ")))
        .withColumn("norm",
          trim(regexp_replace(regexp_replace(lower(col("dirty")), "[^a-z0-9 \t]", " "), "[ \t]+", " ")))
        .select(col("doc_id"), col("norm"),
          length(col("norm")).as("norm_len"),
          size(split(col("norm"), " ")).as("n_tokens"))
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id,
                        '  [' || upper(text) || ']!!  ' || chr(9) || lang || ' ?? ' AS dirty
                 FROM documents)
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(dirty), '[^a-z0-9 \t]', ' ', 'g'), '[ \t]+', ' ', 'g')) AS norm,
             CAST(length(trim(regexp_replace(regexp_replace(lower(dirty), '[^a-z0-9 \t]', ' ', 'g'), '[ \t]+', ' ', 'g'))) AS INTEGER) AS norm_len,
             CAST(len(string_split(trim(regexp_replace(regexp_replace(lower(dirty), '[^a-z0-9 \t]', ' ', 'g'), '[ \t]+', ' ', 'g')), ' ')) AS INTEGER) AS n_tokens
      FROM d
      ORDER BY doc_id
    """.trim),
  )

  /** Per-document unigram Shannon entropy (nats) — the classic
    * gibberish/repetition signal: near-zero for one-token spam, ln(n)
    * for all-distinct text. Computed as ln(N) − Σc·ln(c)/N from the
    * per-(doc, token) counts, so the only inexact step is a ~hundreds-
    * term double sum, absorbed by the 6dp round. Same two-level
    * aggregate shape as wordcount: explode, count by (doc, token),
    * re-aggregate by doc — linear, shuffles only on keys already
    * required by the semantics.
    */
  val textEntropy = QueryDef(
    "q_text_entropy",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(Tokenize.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct"), sum("c").as("n_tokens"),
          sum(col("c").cast(DoubleType) * log(col("c").cast(DoubleType))).as("clogc"))
        .select(col("doc_id"), col("n_distinct"), col("n_tokens"),
          round(log(col("n_tokens").cast(DoubleType))
            - col("clogc") / col("n_tokens"), 6).as("entropy"))
        .orderBy("doc_id")
    },
    Some("""
      WITH c AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok),
      g AS (
        SELECT doc_id, COUNT(*) AS n_distinct, CAST(SUM(c) AS BIGINT) AS n_tokens,
               SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
        FROM c GROUP BY doc_id)
      SELECT doc_id, n_distinct, n_tokens,
             ROUND(ln(CAST(n_tokens AS DOUBLE)) - clogc / n_tokens, 6) AS entropy
      FROM g
      ORDER BY doc_id
    """.trim),
  )

  /** Context-window chunking: each document split into 50-token chunks
    * with a 40-token stride (10-token overlap) — the retrieval/training
    * prep step between curation and tokenization. Chunk count is derived
    * per row and exploded (`sequence` + `explode`, the q_ts_gapfill grid
    * idiom), so the pass is linear with zero shuffles before the output
    * sort and the chunk text itself is sliced inside codegen.
    */
  val textChunkify = QueryDef(
    "q_text_chunkify",
    (s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), Tokenize.tokens(col("text")).as("toks"))
      t.select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L),
            ceil(greatest(size(col("toks")) - 10, lit(1)) / 40.0).cast(LongType) - 1))
            .as("chunk_ix"))
        .select(col("doc_id"), col("chunk_ix"),
          concat_ws(" ", slice(col("toks"), (col("chunk_ix") * 40 + 1).cast(IntegerType), lit(50)))
            .as("chunk"),
          size(slice(col("toks"), (col("chunk_ix") * 40 + 1).cast(IntegerType), lit(50)))
            .as("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_ix")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      c AS (
        SELECT doc_id,
               unnest(range(CAST(ceil(greatest(len(toks) - 10, 1) / 40.0) AS BIGINT))) AS chunk_ix,
               toks
        FROM t)
      SELECT doc_id, chunk_ix,
             list_aggregate(toks[chunk_ix*40+1 : chunk_ix*40+50], 'string_agg', ' ') AS chunk,
             CAST(len(toks[chunk_ix*40+1 : chunk_ix*40+50]) AS INTEGER) AS n_chunk_tokens
      FROM c
      ORDER BY doc_id, chunk_ix
    """.trim),
  )

  /** Bigram-LM surprise score — the perplexity-proxy gibberish signal: an
    * interpolated bigram model (p = 0.7·c(prev,w)/c(prev) + 0.3·c(w)/T)
    * is trained on the corpus itself and every document is scored by its
    * mean per-position −ln p. High scores mark improbable token sequences
    * (gibberish, shuffled text, OCR damage) that unigram-frequency
    * features can't see. Two count dictionaries (unigram, bigram) — both
    * corpus-proportional, so they SHUFFLE-join the position rows (the
    * boilerplate lesson); one position explode; per-doc aggregation.
    * Float parity: each position's −ln p is 8dp-rounded to an exact
    * decimal BEFORE the per-doc sum (decimal addition is order-free —
    * the summation-order recipe), ln inputs are identical IEEE division
    * results in both engines, and the final mean rounds at 6dp. Caveat:
    * natural log is NOT correctly rounded in either JVM Math.log or
    * DuckDB's libm, so identical ln inputs can in principle differ by
    * 1 ulp between engines; the 8dp round masks this unless the true
    * value sits exactly at a rounding boundary — a residual (unobserved
    * at all three fixture scales) oracle-parity flake risk, same class
    * as the other transcendental-function notes in this file.
    */
  val textLmScore = QueryDef(
    "q_text_lm_score",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), Tokenize.tokens(col("text")).as("toks"))
      val positions = toks.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS prev, toks[i] AS w))"))
          .as("bg"))
        .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.w").as("w"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n_w"))
      val tot = toks.select(explode(col("toks")).as("w"))
        .agg(count(lit(1)).as("t"))
      val big = positions.groupBy("prev", "w").agg(count(lit(1)).as("n_pw"))
      val scored = positions
        .join(big, Seq("prev", "w"))
        .join(uni.select(col("w").as("prev"), col("n_w").as("n_prev")), Seq("prev"))
        .join(uni, Seq("w"))
        .crossJoin(broadcast(tot))
        .withColumn("s", round(-log(
          lit(0.7) * col("n_pw").cast(DoubleType) / col("n_prev")
            + lit(0.3) * col("n_w").cast(DoubleType) / col("t")), 8)
          .cast(DecimalType(18, 8)))
      scored.groupBy("doc_id")
        .agg(count(lit(1)).as("n_scored"),
          round(sum("s").cast(DoubleType) / count(lit(1)), 6).as("lm_score"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      pos AS (
        SELECT doc_id,
               unnest(list_transform(range(len(toks) - 1),
                 i -> struct_pack(prev := toks[i+1], w := toks[i+2]))) AS bg
        FROM t WHERE len(toks) >= 2),
      p2 AS (SELECT doc_id, bg.prev AS prev, bg.w AS w FROM pos),
      uni AS (SELECT unnest(toks) AS w FROM t),
      unic AS (SELECT w, COUNT(*) AS n_w FROM uni GROUP BY w),
      tot AS (SELECT COUNT(*) AS t FROM uni),
      bigc AS (SELECT prev, w, COUNT(*) AS n_pw FROM p2 GROUP BY prev, w),
      scored AS (
        SELECT p2.doc_id,
               CAST(ROUND(-ln(0.7 * CAST(bigc.n_pw AS DOUBLE) / np.n_w
                            + 0.3 * CAST(uw.n_w AS DOUBLE) / tot.t), 8)
                    AS DECIMAL(18,8)) AS s
        FROM p2
        JOIN bigc ON p2.prev = bigc.prev AND p2.w = bigc.w
        JOIN unic np ON p2.prev = np.w
        JOIN unic uw ON p2.w = uw.w
        CROSS JOIN tot)
      SELECT doc_id, COUNT(*) AS n_scored,
             ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS lm_score
      FROM scored GROUP BY doc_id ORDER BY doc_id
    """.trim),
  )

  /** Within-document repetition detection — the Gopher-style repetition
    * rules (Rae et al. 2021, "Scaling Language Models", table A1) every
    * LLM curation pipeline runs alongside quality scoring: documents
    * dominated by repeated n-grams (boilerplate loops, scraper echo,
    * degenerate generations) are cut regardless of their other quality
    * features. Per doc: duplicate-bigram and duplicate-trigram fraction
    * (1 − distinct/total occurrences) and the top-bigram share, with the
    * repetition flag at dup-bigram > 0.05 (the fixture's p90 — both
    * flag arms populated).
    *
    * Shape: one explode per n-gram order into a (doc_id, gram) count
    * aggregate, re-aggregated per doc — two linear two-level aggregates,
    * same scale story as wordcount; ratios are exact-integer divisions
    * in DOUBLE, identical bits both engines.
    */
  val textRepetition = QueryDef(
    "q_text_repetition",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // grams aggregate as 8-byte xxhash64 longs (r16): only the COUNTS
      // matter downstream, never the gram text, so the per-doc aggregate
      // keys on the native one-pass window hash — no window strings
      // built, ~3× narrower shuffle rows. Counts-per-hash ≡
      // counts-per-gram modulo ~pairs/2⁶⁵ collisions (the
      // q_text_substring_dedup / q_text_boilerplate precedent).
      def gramStats(n: Int, pre: String) = docs
        .select(col("doc_id"),
          explode(Tokenize.windowHashes(Tokenize.tokens(col("text")), n)).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(sum("n").as(s"${pre}_total"),
          count(lit(1)).as(s"${pre}_distinct"), max("n").as(s"${pre}_top"))
      docs.select("doc_id")
        .join(gramStats(2, "g2"), Seq("doc_id"), "left")
        .join(gramStats(3, "g3"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("g2_total"), lit(0L)).as("n_2grams"),
          round((col("g2_total") - col("g2_distinct")).cast(DoubleType) / col("g2_total"), 6)
            .as("dup_2gram_frac"),
          round((col("g3_total") - col("g3_distinct")).cast(DoubleType) / col("g3_total"), 6)
            .as("dup_3gram_frac"),
          round(col("g2_top").cast(DoubleType) / col("g2_total"), 6).as("top_2gram_frac"))
        .withColumn("is_repetitive", coalesce(col("dup_2gram_frac") > 0.05, lit(false)))
        // count-visible gate: count() would otherwise eliminate both
        // unique-key left joins and with them the gram aggregates (44×
        // under count, PERF §r13.4)
        .transform(graft.QueryDef.countGate(_,
          "dup_2gram_frac", "dup_3gram_frac", "top_2gram_frac"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g2 AS (SELECT doc_id, unnest(list_transform(range(greatest(len(toks) - 1, 0)),
                     i -> list_aggregate(toks[i+1:i+2], 'string_agg', ' '))) AS gram FROM t),
      c2 AS (SELECT doc_id, gram, COUNT(*) AS n FROM g2 GROUP BY 1, 2),
      a2 AS (SELECT doc_id, SUM(n) AS g2_total, COUNT(*) AS g2_distinct, MAX(n) AS g2_top
             FROM c2 GROUP BY 1),
      g3 AS (SELECT doc_id, unnest(list_transform(range(greatest(len(toks) - 2, 0)),
                     i -> list_aggregate(toks[i+1:i+3], 'string_agg', ' '))) AS gram FROM t),
      c3 AS (SELECT doc_id, gram, COUNT(*) AS n FROM g3 GROUP BY 1, 2),
      a3 AS (SELECT doc_id, SUM(n) AS g3_total, COUNT(*) AS g3_distinct FROM c3 GROUP BY 1)
      SELECT t.doc_id,
             CAST(COALESCE(g2_total, 0) AS BIGINT) AS n_2grams,
             ROUND(CAST(g2_total - g2_distinct AS DOUBLE) / g2_total, 6) AS dup_2gram_frac,
             ROUND(CAST(g3_total - g3_distinct AS DOUBLE) / g3_total, 6) AS dup_3gram_frac,
             ROUND(CAST(g2_top AS DOUBLE) / g2_total, 6) AS top_2gram_frac,
             COALESCE(ROUND(CAST(g2_total - g2_distinct AS DOUBLE) / g2_total, 6) > 0.05, FALSE)
               AS is_repetitive
      FROM t LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
      ORDER BY doc_id
    """.trim),
  )

  /** BPE tokenizer-training inner loop — corpus-weighted adjacent
    * character-pair frequencies, top-50 (the statistic a byte-pair-
    * encoding trainer maximizes at every merge step; Sennrich et al.
    * 2016, "Neural Machine Translation of Rare Words with Subword
    * Units"). The scale trick is the standard one: pairs are enumerated
    * over the DISTINCT word vocabulary (zipfian — thousands of rows
    * where the corpus has billions of token occurrences) and weighted by
    * word frequency, so the expensive char-level pass is vocab-sized and
    * the corpus contributes only a (token) count shuffle. Pair slices
    * (`substr(i, 2)` over a codegen'd sequence) stay inside whole-stage
    * codegen; a repeated pair inside one word ("aaa" → "aa"×2) counts
    * every occurrence, exactly as a BPE trainer does. Top-50 is a
    * TakeOrderedAndProject (no global sort materialization); ties break
    * on the pair string for both engines.
    */
  val bpePairs = QueryDef(
    "q_text_bpe_pairs",
    (s, dir) => {
      val vocab = Tables.documents(s, dir)
        .select(explode(Tokenize.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("wc"))
        .filter(length(col("token")) >= 2)
      vocab.select(
          explode(transform(sequence(lit(1), length(col("token")) - 1),
            i => col("token").substr(i, lit(2)))).as("pair"),
          col("wc"))
        .groupBy("pair").agg(sum("wc").as("n"))
        .orderBy(desc("n"), asc("pair")).limit(50)
    },
    Some("""
      WITH w AS (
        SELECT token, COUNT(*) AS wc
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token),
      p AS (
        SELECT unnest(list_transform(range(1, length(token)),
                 i -> substring(token, CAST(i AS INT), 2))) AS pair, wc
        FROM w WHERE length(token) >= 2)
      SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM p GROUP BY pair
      ORDER BY n DESC, pair ASC LIMIT 50
    """.trim),
  )

  /** BPE tokenization apply — the encode side of q_text_bpe_pairs'
    * trainer loop: the top-10 first-iteration merges (count desc, pair
    * asc — the one-shot merge selection; iterative re-counting is the
    * trainer's refinement, not the apply algorithm's) are applied to
    * every vocabulary word by the REAL BPE encode loop: repeatedly take
    * the lowest-rank merge with an occurrence in the piece sequence and
    * merge its LEFTMOST occurrence, until none applies — the
    * HuggingFace/Sennrich apply semantics, including greedy-left on
    * overlapping chains. Emits each word's piece sequence and count.
    *
    * Scale shape: the vocab trick (q_text_bpe_pairs) — the corpus pays
    * ONE token-count shuffle; the encode loop runs per DISTINCT word
    * (zipfian vocab), and the 10-row merge table is collected to the
    * driver and shipped in the closure exactly like a tokenizer model
    * ships with any job (bounded by the merge budget, not the corpus).
    * The oracle runs the SAME loop as a DuckDB recursive CTE (one merge
    * step per recursion level, leftmost via position(), lowest-rank via
    * a window over the applicable-merge join), so both engines encode
    * identically or the hash compare fails.
    */
  val bpeEncode = QueryDef(
    "q_text_bpe_encode",
    (s, dir) => {
      import s.implicits._
      val vocab = Tables.documents(s, dir)
        .select(explode(Tokenize.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("wc"))
      // rank-ordered merge table: bounded driver-side metadata (10 rows)
      val merges: Array[(String, String)] = vocab
        .filter(length(col("token")) >= 2)
        .select(explode(transform(sequence(lit(1), length(col("token")) - 1),
          i => col("token").substr(i, lit(2)))).as("pair"), col("wc"))
        .groupBy("pair").agg(sum("wc").as("n"))
        .orderBy(desc("n"), asc("pair")).limit(10)
        .collect().map(r => (r.getString(0).substring(0, 1), r.getString(0).substring(1, 2)))
      val pats = merges.map { case (a, b) => (s" $a $b ", s" $a$b ") }
      vocab.as[(String, Long)].map { case (t, wc) =>
          var st = " " + t.map(_.toString).mkString(" ") + " "
          var done = false
          while (!done) pats.find { case (p, _) => st.contains(p) } match {
            case Some((p, r)) =>
              val i = st.indexOf(p)
              st = st.substring(0, i) + r + st.substring(i + p.length)
            case None => done = true
          }
          val pieces = st.trim
          (t, wc, pieces, pieces.split(" ").length.toLong)
        }.toDF("token", "wc", "pieces", "n_pieces")
        .orderBy("token")
    },
    Some("""
      WITH RECURSIVE w AS (
        SELECT token, COUNT(*) AS wc
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token),
      p AS (
        SELECT unnest(list_transform(range(1, length(token)),
                 i -> substring(token, CAST(i AS INT), 2))) AS pair, wc
        FROM w WHERE length(token) >= 2),
      merges AS (
        SELECT substring(pair, 1, 1) AS a, substring(pair, 2, 1) AS b,
               ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS rank
        FROM (SELECT pair, SUM(wc) AS n FROM p GROUP BY pair
              ORDER BY n DESC, pair ASC LIMIT 10)),
      enc AS (
        SELECT token, ' ' || list_aggregate(string_split(token, ''), 'string_agg', ' ') || ' ' AS s
        FROM w
        UNION ALL
        SELECT token,
               substr(s, 1, pos - 1) || ' ' || a || b || ' ' ||
                 substr(s, pos + length(' ' || a || ' ' || b || ' '))
        FROM (
          SELECT token, s, a, b, position(' ' || a || ' ' || b || ' ' IN s) AS pos,
                 ROW_NUMBER() OVER (PARTITION BY token ORDER BY rank) AS rn
          FROM enc JOIN merges ON position(' ' || a || ' ' || b || ' ' IN s) > 0)
        WHERE rn = 1)
      SELECT e.token AS token, w.wc AS wc, trim(s) AS pieces,
             CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_pieces
      FROM enc e JOIN w ON e.token = w.token
      WHERE NOT EXISTS (SELECT 1 FROM merges m
                        WHERE position(' ' || m.a || ' ' || m.b || ' ' IN e.s) > 0)
      ORDER BY token
    """.trim),
  )

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the token co-occurrence graph — nodes are vocabulary tokens (ids =
    * the portable char-fold hash, so the graph is engine-reproducible),
    * edges are distinct adjacent-token pairs symmetrized (the unweighted
    * TextRank variant), the iteration core is
    * [[VectorQueries.pagerankOnEdges]] VERBATIM — the edge-source-
    * agnostic design paying off across families — and the top-10 tokens
    * by 6dp-rounded rank are the corpus keywords. Scale: the node/edge
    * relations are vocabulary-sized (the vocab trick); the corpus
    * contributes one linear bigram explode.
    */
  val textrank = QueryDef(
    "q_text_textrank",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(Tokenize.tokens(col("text")).as("toks"))
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
      val pr = VectorQueries.pagerankOnEdges(nodes.select("vec_id"), edges)
      val w = Window.orderBy(desc("pr"), asc("token"))
      pr.join(nodes, "vec_id")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("rank", "token", "pr")
        .orderBy("rank")
    },
    Some(s"""
      WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
      bgp AS (
        SELECT DISTINCT b.t1 AS t1, b.t2 AS t2 FROM (
          SELECT unnest(list_transform(range(len(toks) - 1),
                   i -> struct_pack(t1 := toks[i+1], t2 := toks[i+2]))) AS b
          FROM t WHERE len(toks) >= 2)
        WHERE b.t1 <> b.t2),
      nodes0 AS (SELECT DISTINCT unnest(toks) AS token FROM t),
      nodes AS (SELECT token, ${graft.functions.PortableHash.tokenHashSql("token")} AS vec_id FROM nodes0),
      e1 AS (
        SELECT n1.vec_id AS src, n2.vec_id AS dst
        FROM bgp JOIN nodes n1 ON n1.token = bgp.t1 JOIN nodes n2 ON n2.token = bgp.t2),
      edges AS (SELECT src, dst FROM e1 UNION SELECT dst, src FROM e1),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      p0 AS (SELECT vec_id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
      ${VectorQueries.pagerankIterSql(1)},
      ${VectorQueries.pagerankIterSql(2)},
      ${VectorQueries.pagerankIterSql(3)}
      SELECT rank, token, pr FROM (
        SELECT n.token AS token, ROUND(p3.pr, 6) AS pr,
               ROW_NUMBER() OVER (ORDER BY ROUND(p3.pr, 6) DESC, n.token ASC) AS rank
        FROM p3 JOIN nodes n ON n.vec_id = p3.vec_id)
      WHERE rank <= 10
      ORDER BY rank
    """.trim),
  )

  /** Sliding-window substring dedup — the practical form of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models Better"):
    * per document, the fraction of its stride-1 20-token windows whose
    * window text occurs ≥2 times ANYWHERE in the corpus (cross-doc or
    * repeated within the doc). q_text_chunk_dedup already covers
    * boundary-ALIGNED 20-token chunks; stride-1 windows are what catch
    * the misaligned duplicated span (a quoted paragraph starting
    * mid-chunk), which is the actual failure mode of fixed chunking.
    * Scale shape: one explode (≈ one window per token position, linear),
    * corpus counts shuffled on the window's xxhash64 — 8 bytes per key
    * instead of a ~150-byte 20-gram string (counts per hash equal counts
    * per gram modulo ~1e-15 collisions, the hashed-set precedent) — and
    * one per-doc aggregate. Zero-window docs (<20 tokens) report 0/0
    * with a NULL fraction.
    */
  val substringDedup = QueryDef(
    "q_text_substring_dedup",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), Tokenize.tokens(col("text")).as("toks"))
      // native one-pass window hashes (r16) — gh bit-identical to the
      // explode(ngramShingles) + xxhash64 chain this replaces
      val grams = toks.select(col("doc_id"),
          explode(Tokenize.windowHashes(col("toks"), 20)).as("gh"))
      val counts = grams.groupBy("gh").agg(count(lit(1)).as("cnt"))
      val perDoc = grams.join(counts, "gh").groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("dup_windows"))
      Tables.documents(s, dir).select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
          when(col("n_windows") > 0,
            round(col("dup_windows").cast(DoubleType) / col("n_windows"), 6))
            .as("dup_fraction"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_transform(range(greatest(len(toks) - 19, 0)),
                 i -> list_aggregate(toks[i+1:i+20], 'string_agg', ' '))) AS g
        FROM t),
      c AS (SELECT g, COUNT(*) AS cnt FROM g GROUP BY g),
      p AS (
        SELECT doc_id, COUNT(*) AS n_windows,
               CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows
        FROM g JOIN c USING (g) GROUP BY doc_id)
      SELECT d.doc_id,
             COALESCE(p.n_windows, 0) AS n_windows,
             COALESCE(p.dup_windows, 0) AS dup_windows,
             CASE WHEN p.n_windows > 0
                  THEN ROUND(CAST(p.dup_windows AS DOUBLE) / p.n_windows, 6) END AS dup_fraction
      FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id
    """.trim),
  )

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm) over a (doc_id, text) frame:
    * k-token-gram hashes, then in every window of `w` consecutive grams
    * select the minimum hash, rightmost position on ties. The paper's
    * two guarantees follow: any shared token run of ≥ w + k − 1 tokens
    * yields at least one COMMON fingerprint (detection threshold), and
    * expected density is 2/(w+1) (WinnowSpec pins both plus full window
    * coverage). Docs with fewer than k + w − 1 tokens have no complete
    * window and are excluded by contract.
    *
    * Scale shape: gram hashing is a per-row fold over already-hashed
    * tokens (one string traversal per token, the PortableHash family);
    * the window-min runs as explode(≤w window memberships) + ONE hash
    * aggregate on (doc, window) — linear, never a per-doc sort. The
    * rightmost-min tie rule is a single packed int64
    * min(gh·2^32 + (2^32−1 − pos)) both engines compute identically:
    * gh < 2^30 (PortableHash.BaseMod), so gh·2^32 < 2^62 and the
    * position lane holds any doc under 2^31 grams — a ~1M-token doc
    * (which overflowed the original 2^20 lane, silently corrupting the
    * hash lane and inverting the tie rule) packs cleanly.
    */
  private[graft] def winnowOn(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val m = graft.functions.PortableHash.BaseMod
    val gramExpr = (1 until k).foldLeft("element_at(hs, i + 1)")((acc, j) =>
      s"(($acc) * 131 + element_at(hs, i + ${j + 1})) % $m")
    val grams = docs
      .select(col("doc_id"),
        graft.functions.PortableHash.tokenHashes(Tokenize.tokens(col("text"))).as("hs"))
      .filter(size(col("hs")) >= k + w - 1)
      .withColumn("ng", (size(col("hs")) - (k - 1)).cast("long"))
      .select(col("doc_id"), col("ng"),
        posexplode(expr(s"transform(sequence(0, size(hs) - $k), i -> $gramExpr)")))
      .withColumnRenamed("col", "gh")
    grams
      .withColumn("wi",
        explode(expr(s"sequence(greatest(0L, pos - ${w - 1}), least(CAST(pos AS BIGINT), ng - $w))")))
      .groupBy("doc_id", "wi")
      .agg(min(col("gh") * lit(4294967296L) + (lit(4294967295L) - col("pos"))).as("key"))
      .select(col("doc_id"),
        (lit(4294967295L) - pmod(col("key"), lit(4294967296L))).cast(IntegerType).as("fp_pos"),
        expr("key div 4294967296").as("fp_hash"))
      .distinct()
  }

  /** SQL twin of [[winnowOn]] over a `(doc_id, text)` relation named
    * `$rel` — gram/position pairs ride one packed unnest, the window
    * memberships a second; same packed-min selection.
    */
  private[graft] def winnowSql(rel: String, k: Int = 3, w: Int = 4): String = {
    val m = graft.functions.PortableHash.BaseMod
    val gram = (1 until k).foldLeft("hs[i + 1]")((acc, j) =>
      s"(($acc) * 131 + hs[i + ${j + 1}]) % $m")
    s"""
      WITH wt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM $rel),
      wh AS (SELECT doc_id,
               list_transform(ts, t -> ${graft.functions.PortableHash.tokenHashSql("t")}) AS hs
             FROM wt),
      wg0 AS (SELECT doc_id, CAST(len(hs) - ${k - 1} AS BIGINT) AS ng,
                unnest(list_transform(range(len(hs) - ${k - 1}),
                  i -> ($gram) * 4294967296 + CAST(i AS BIGINT))) AS pg
              FROM wh WHERE len(hs) >= ${k + w - 1}),
      wg AS (SELECT doc_id, ng, pg // 4294967296 AS gh, pg % 4294967296 AS pos FROM wg0),
      ww AS (SELECT doc_id, gh, pos,
               unnest(range(greatest(0, pos - ${w - 1}), least(pos, ng - $w) + 1)) AS wi
             FROM wg),
      wsel AS (SELECT doc_id, wi, MIN(gh * 4294967296 + (4294967295 - pos)) AS key
               FROM ww GROUP BY doc_id, wi)
      SELECT DISTINCT doc_id,
             CAST(4294967295 - (key % 4294967296) AS INTEGER) AS fp_pos,
             key // 4294967296 AS fp_hash
      FROM wsel
    """.trim
  }

  /** Winnowing fingerprints of the corpus — one row per selected
    * (doc, gram position): the copy-detection index every plagiarism /
    * near-copy audit builds (the q_text_fingerprint whole-doc hash finds
    * only exact full-document copies; winnowed k-gram fingerprints find
    * SHARED PASSAGES with the ≥ w+k−1-token guarantee, at 2/(w+1) the
    * index size of all-grams).
    */
  val textWinnow = QueryDef(
    "q_text_winnow",
    (s, dir) =>
      winnowOn(Tables.documents(s, dir).select("doc_id", "text"))
        .orderBy("doc_id", "fp_pos"),
    Some(s"""
      SELECT * FROM (${winnowSql("documents")})
      ORDER BY doc_id, fp_pos
    """.trim),
  )

  /** The MOSS MATCH step over winnowed fingerprints: doc pairs sharing
    * ≥ minShared selected fingerprints, scored by n_shared / min(n1, n2)
    * (containment-style — a short doc fully copied into a long one scores
    * ~1 regardless of the length gap). Fingerprints occurring in more
    * than dfCap distinct docs are dropped first — MOSS's noise threshold,
    * and the SKEW GUARD that makes the hash self-join scale: per-key
    * fan-out is bounded by C(dfCap, 2) pairs at ANY corpus size (the
    * ubiquitous function-prologue / "the of and" grams that would
    * otherwise quadratically dominate are exactly the ones with no
    * copy-detection signal). The fingerprint frame is bounded (≈ 2/(w+1)
    * of gram positions) and localCheckpointed once — its three consumers
    * (df census, both join sides) never re-derive the winnow.
    */
  private[graft] def winnowPairsOn(docs: DataFrame, k: Int = 3, w: Int = 4,
      dfCap: Int = 16, minShared: Int = 2): DataFrame =
    winnowPairsFromFps(
      winnowOn(docs, k, w).select("doc_id", "fp_hash").distinct(),
      dfCap, minShared)

  /** The MOSS match TAIL over an explicit distinct (doc_id, fp_hash)
    * relation — shared by the one-shot [[winnowPairsOn]] (which extracts
    * fingerprints inline) and the incremental maintainer's serve
    * (graft.streaming.IncrementalWinnow, which reads them from state),
    * so state-served ≡ one-shot is a claim about the fp relation alone.
    * The df census and df-cap are global and evaluate HERE — a
    * fingerprint that later becomes boilerplate drops out of matches
    * retroactively, the one-shot semantics.
    */
  private[graft] def winnowPairsFromFps(fp: DataFrame,
      dfCap: Int = 16, minShared: Int = 2): DataFrame = {
    val kept = fp.join(
        fp.groupBy("fp_hash").agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select("fp_hash"),
        "fp_hash")
      .localCheckpoint()
    val counts = kept.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    val pairs = kept.select(col("fp_hash"), col("doc_id").as("doc_id1"))
      .join(kept.select(col("fp_hash").as("fph2"), col("doc_id").as("doc_id2")),
        col("fp_hash") === col("fph2") && col("doc_id1") < col("doc_id2"))
      .groupBy("doc_id1", "doc_id2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(counts.select(col("doc_id").as("doc_id1"), col("nfp").as("n1")), "doc_id1")
      .join(counts.select(col("doc_id").as("doc_id2"), col("nfp").as("n2")), "doc_id2")
      .select(col("doc_id1"), col("doc_id2"), col("n_shared"),
        round(col("n_shared").cast(DoubleType)
          / least(col("n1"), col("n2")).cast(DoubleType), 6).as("overlap"))
  }

  /** Winnow match pairs over the corpus — the who-shares-passages-with-
    * whom report (plagiarism/copy audit): beside q_text_span_source's
    * window-grain who-copied-whom attribution, this is the INDEX-grain
    * detector a deployment runs continuously (fingerprints are 2/(w+1)
    * of gram volume, and the match join touches only fingerprint rows).
    */
  val textWinnowPairs = QueryDef(
    "q_text_winnow_pairs",
    (s, dir) =>
      winnowPairsOn(Tables.documents(s, dir).select("doc_id", "text"))
        .orderBy("doc_id1", "doc_id2"),
    Some(s"""
      WITH wfps AS (SELECT DISTINCT doc_id, fp_hash FROM (${winnowSql("documents")})),
      wfreq AS (SELECT fp_hash FROM wfps GROUP BY fp_hash HAVING COUNT(*) <= 16),
      wkept AS (SELECT f.doc_id, f.fp_hash FROM wfps f JOIN wfreq USING (fp_hash)),
      wcnts AS (SELECT doc_id, COUNT(*) AS nfp FROM wkept GROUP BY doc_id),
      wpairs AS (
        SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, COUNT(*) AS n_shared
        FROM wkept a JOIN wkept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT p.doc_id1, p.doc_id2, p.n_shared,
             ROUND(CAST(p.n_shared AS DOUBLE) / least(c1.nfp, c2.nfp), 6) AS overlap
      FROM wpairs p
      JOIN wcnts c1 ON c1.doc_id = p.doc_id1
      JOIN wcnts c2 ON c2.doc_id = p.doc_id2
      ORDER BY doc_id1, doc_id2
    """.trim),
  )

  /** Winnow-gated passage attribution (r12 verdict ask 6) — the two copy
    * detectors joined into one audit row: q_text_winnow_pairs' df-capped
    * fingerprint matches NOMINATE the candidate doc pairs (index grain,
    * 2/(w+1) of gram volume), and for exactly those pairs the
    * q_text_span_source 20-token window grain MEASURES the passage mass
    * actually shared (Σ min(k1,k2) over duplicated windows), with the
    * docs' sources carried so cross-source contamination attributes
    * directly. Scale shape: the quadratic window fan-out is gated by the
    * winnow detector — occ restricts (semi-join) to matched docs BEFORE
    * the window self-join, so the passage pass costs |matched docs| ×
    * their windows, never corpus². A winnow pair whose shared run is
    * shorter than a full window reports 0 shared windows (w+k−1 = 6
    * tokens certify a fingerprint; 20 certify a window) and a NULL
    * fraction when either side has no complete window. The oracle
    * attributes on the window STRING (counts-per-hash ≡ counts-per-gram
    * modulo ~1e-15 xxhash64 collisions — the q_text_substring_dedup
    * precedent).
    */
  /** The winnow-GATED window-occurrence stage: the corpus window grain
    * semi-joined down to the matched docs BEFORE any pairwise work — the
    * restriction that keeps q_text_winnow_spans' passage pass at
    * |matched docs| × their windows instead of corpus². Factored so
    * PlanShapeSpec can assert the LeftSemi on this stage's own plan
    * (the downstream localCheckpoint hides it from the final plan).
    */
  private[graft] def winnowSpanOcc(docs: DataFrame, fpDocs: DataFrame): DataFrame =
    windowGrams(docs)
      .join(fpDocs, Seq("doc_id"), "left_semi")
      .groupBy("gh", "doc_id").agg(count(lit(1)).as("k"))

  /** UNGATED per-doc window-occurrence counts (gh, doc_id, k) — the raw
    * grain q_eval_winnow's exact truth is computed over.
    */
  private[graft] def windowOcc(docs: DataFrame): DataFrame =
    windowGrams(docs).groupBy("gh", "doc_id").agg(count(lit(1)).as("k"))

  /** Pairwise shared window mass Σ min(k1, k2) over an occurrence frame —
    * ONE definition shared by q_text_winnow_spans' gated measure stage
    * and q_eval_winnow's ungated truth, so a window-grain change (grain
    * size, tie rules) cannot silently diverge the eval truth from the
    * attribution it grades.
    */
  private[graft] def sharedWindowMass(occ: DataFrame): DataFrame = {
    val o2 = occ.select(col("gh").as("gh2"), col("doc_id").as("doc_id2"),
      col("k").as("k2"))
    occ.join(o2, col("gh") === col("gh2") && col("doc_id") < col("doc_id2"))
      .groupBy(col("doc_id").as("doc_id1"), col("doc_id2"))
      .agg(sum(least(col("k"), col("k2")))
        .cast(org.apache.spark.sql.types.LongType).as("shared_windows"))
  }

  /** The winnow match-pair relation persisted per scale dir — the same
    * index-amortization contract as DedupQueries.containmentPrefixPersisted
    * / VectorQueries.lshKnnEdgesPersisted (r11 pattern, applied r16): the
    * detector's match table over a corpus snapshot is computed ONCE
    * (q_text_winnow_pairs stays the priced build) and the attribution
    * consumer (q_text_winnow_spans) reads the skinny (doc_id1, doc_id2,
    * n_shared, overlap) parquet back instead of re-deriving the full
    * fingerprint-extraction + df-cap + match join per run. First call per
    * dir builds deterministically (integer hashes, integer df cap) and
    * writes to builder scratch; the config is part of the dir name so a
    * constant change can never serve stale pairs. The DuckDB oracle
    * rebuilds everything from raw text, so persisted ≡ fresh stays
    * hash-proven every driver run; WinnowSpec pins row equality too.
    */
  private[graft] def winnowPairsPersisted(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 3, w: Int = 4, dfCap: Int = 16, minShared: Int = 2): DataFrame =
    graft.sources.GraftFs.persisted(s, dir,
        tag => s"target/graft-winnow/$tag/pairs_k${k}w${w}c${dfCap}m$minShared") {
      winnowPairsOn(Tables.documents(s, dir).select("doc_id", "text"), k, w, dfCap, minShared)
    }

  private[graft] def winnowSpansOn(docs: DataFrame, k: Int = 3, w: Int = 4,
      dfCap: Int = 16, minShared: Int = 2,
      pairs: Option[DataFrame] = None): DataFrame = {
      val fpPairs = pairs.getOrElse(
          winnowPairsOn(docs.select("doc_id", "text"), k, w, dfCap, minShared))
        .localCheckpoint()
      val fpDocs = fpPairs.select(col("doc_id1").as("doc_id"))
        .unionByName(fpPairs.select(col("doc_id2").as("doc_id"))).distinct()
      val occ = winnowSpanOcc(docs.select("doc_id", "text"), fpDocs)
        .localCheckpoint() // feeds the pair join (twice) and the mass agg
      val sharedW = sharedWindowMass(occ)
      val nw = occ.groupBy("doc_id").agg(sum("k").cast(org.apache.spark.sql.types.LongType).as("nw"))
      val srcs = docs.select(col("doc_id"), col("source"))
      fpPairs
        .join(sharedW, Seq("doc_id1", "doc_id2"), "left")
        .join(nw.select(col("doc_id").as("doc_id1"), col("nw").as("nw1")), Seq("doc_id1"), "left")
        .join(nw.select(col("doc_id").as("doc_id2"), col("nw").as("nw2")), Seq("doc_id2"), "left")
        .join(srcs.select(col("doc_id").as("doc_id1"), col("source").as("source1")), "doc_id1")
        .join(srcs.select(col("doc_id").as("doc_id2"), col("source").as("source2")), "doc_id2")
        .select(col("doc_id1"), col("doc_id2"), col("source1"), col("source2"),
          col("n_shared"),
          coalesce(col("shared_windows"), lit(0L)).as("shared_windows"),
          // EXPLICIT null gate: Spark's (and DuckDB's) least() SKIPS
          // nulls, so a bare least(nw1, nw2) > 0 would hand a pair with
          // exactly one window-less side the other side's denominator —
          // fraction 0.0 where the contract says NULL (no denominator:
          // the smaller doc has no complete window)
          when(col("nw1").isNotNull && col("nw2").isNotNull
              && least(col("nw1"), col("nw2")) > 0,
            round(coalesce(col("shared_windows"), lit(0L)).cast(DoubleType)
              / least(col("nw1"), col("nw2")).cast(DoubleType), 6)).as("span_fraction"))
        .orderBy("doc_id1", "doc_id2")
  }

  val textWinnowSpans = QueryDef(
    "q_text_winnow_spans",
    // the match pairs come from the PERSISTED relation (r16) — the
    // winnow-gated passage pass (occ semi-join, window self-join, mass
    // aggregate) stays priced inline; q_text_winnow_pairs prices the
    // detector build itself
    (s, dir) => winnowSpansOn(Tables.documents(s, dir),
      pairs = Some(winnowPairsPersisted(s, dir))),
    Some(s"""
      WITH wfps AS (SELECT DISTINCT doc_id, fp_hash FROM (${winnowSql("documents")})),
      wfreq AS (SELECT fp_hash FROM wfps GROUP BY fp_hash HAVING COUNT(*) <= 16),
      wkept AS (SELECT f.doc_id, f.fp_hash FROM wfps f JOIN wfreq USING (fp_hash)),
      wpairs AS (
        SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, COUNT(*) AS n_shared
        FROM wkept a JOIN wkept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      wdocs AS (SELECT DISTINCT doc_id1 AS doc_id FROM wpairs
                UNION SELECT DISTINCT doc_id2 FROM wpairs),
      st AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
             FROM documents d JOIN wdocs USING (doc_id)),
      sg AS (SELECT doc_id,
               unnest(list_transform(range(greatest(len(toks) - 19, 0)),
                 i -> list_aggregate(toks[i+1:i+20], 'string_agg', ' '))) AS g
             FROM st),
      soc AS (SELECT g, doc_id, COUNT(*) AS k FROM sg GROUP BY g, doc_id),
      shw AS (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
                CAST(SUM(least(a.k, b.k)) AS BIGINT) AS shared_windows
              FROM soc a JOIN soc b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      nwd AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS nw FROM soc GROUP BY doc_id)
      SELECT p.doc_id1, p.doc_id2, d1.source AS source1, d2.source AS source2,
             p.n_shared,
             COALESCE(s.shared_windows, 0) AS shared_windows,
             CASE WHEN n1.nw IS NOT NULL AND n2.nw IS NOT NULL
                       AND least(n1.nw, n2.nw) > 0
                  THEN ROUND(CAST(COALESCE(s.shared_windows, 0) AS DOUBLE)
                             / least(n1.nw, n2.nw), 6) END AS span_fraction
      FROM wpairs p
      JOIN documents d1 ON d1.doc_id = p.doc_id1
      JOIN documents d2 ON d2.doc_id = p.doc_id2
      LEFT JOIN shw s ON s.doc_id1 = p.doc_id1 AND s.doc_id2 = p.doc_id2
      LEFT JOIN nwd n1 ON n1.doc_id = p.doc_id1
      LEFT JOIN nwd n2 ON n2.doc_id = p.doc_id2
      ORDER BY p.doc_id1, p.doc_id2
    """.trim),
  )

  /** Stride-1 20-token window occurrences of a (doc_id, text) frame as
    * 8-byte hash rows — the shared grain of substring dedup and span
    * provenance (one explode per token position, linear).
    */
  private[graft] def windowGrams(docs: DataFrame): DataFrame =
    // native one-pass window hashes since r16 — gh values bit-identical to
    // the explode(ngramShingles) + xxhash64 chain this replaces (the
    // window strings were built per position by an interpreted HOF and
    // immediately hashed away)
    docs.select(col("doc_id"), Tokenize.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(Tokenize.windowHashes(col("toks"), 20)).as("gh"))

  /** The span-provenance attribution tail over EXPLICIT sufficient
    * statistics — `docIds` (doc_id, n_windows) the per-doc window mass,
    * `occ` (gh, doc_id, k) the per-doc window occurrence counts, `stats`
    * (gh, cnt, src) the per-window totals + canonical min holder —
    * shared by the one-shot [[spanSourceOn]] and the incremental
    * maintainer's serve (graft.streaming.IncrementalSpan), so
    * state-served ≡ one-shot is a claim about the associative partials
    * alone.
    */
  private[graft] def spanSourceFromTables(docIds: DataFrame, occ: DataFrame,
      stats: DataFrame): DataFrame = {
    val dup = occ.join(stats, "gh")
      .filter(col("cnt") >= 2 && col("src") < col("doc_id"))
      .localCheckpoint() // feeds the mass aggregate AND the per-source top
    val copiedMass = dup.groupBy("doc_id").agg(sum("k").as("copied_windows"))
    val perSrc = dup.groupBy("doc_id", "src").agg(sum("k").as("w"))
    val wTop = Window.partitionBy("doc_id").orderBy(desc("w"), asc("src"))
    val top = perSrc.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
      .select(col("doc_id"), col("src").as("top_source"), col("w").as("top_source_windows"))
    docIds
      .join(copiedMass, Seq("doc_id"), "left")
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_windows"),
        coalesce(col("copied_windows"), lit(0L)).as("copied_windows"),
        when(col("n_windows") > 0,
          round(coalesce(col("copied_windows"), lit(0L)).cast(DoubleType)
            / col("n_windows"), 6)).as("copied_fraction"),
        col("top_source"),
        coalesce(col("top_source_windows"), lit(0L)).as("top_source_windows"))
      .orderBy("doc_id")
  }

  /** Span-provenance core over an arbitrary (doc_id, text) frame — see
    * [[textSpanSource]] for the semantics; factored so SpanSourceSpec
    * can drive a crafted corpus with KNOWN copy directions.
    */
  private[graft] def spanSourceOn(docs: DataFrame): DataFrame = {
    // counts AND canonical holder fold into ONE aggregate on the
    // window-hash shuffle — the only cost this adds over substringDedup
    val occ = windowGrams(docs).groupBy("gh", "doc_id")
      .agg(count(lit(1)).as("k"))
      .localCheckpoint() // feeds stats, per-doc mass, and the dup join
    val stats = occ.groupBy("gh").agg(sum("k").as("cnt"), min("doc_id").as("src"))
    val nWin = occ.groupBy("doc_id").agg(sum("k").as("n_windows"))
    val docIds = docs.select("doc_id").join(nWin, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_windows"), lit(0L)).as("n_windows"))
    spanSourceFromTables(docIds, occ, stats)
  }

  /** Span provenance — WHO COPIED WHOM (r10 verdict ask 5): for every
    * duplicated stride-1 20-token window (exactly q_text_substring_dedup's
    * grain), the canonical source is the MINIMUM doc_id holding the
    * window; each document then reports how much of its window mass is
    * copied from earlier documents (src < doc_id — the deterministic
    * earlier-wins direction convention) and its single top contaminating
    * source (most shared windows, ties → lowest source id). This is the
    * curation ACTION substring-dedup only counts: the audit row that says
    * "drop/attribute doc d, it is 62% doc s". Scale shape: substring-
    * dedup's linear window explode and 8-byte window-hash shuffle with
    * the min-holder folded into the SAME aggregate (one extra long per
    * window key), a doc-keyed mass aggregate, and a (doc, src)-keyed
    * top-1 window; nothing quadratic — window keys fan out to holders
    * only for duplicated windows. The oracle attributes on the window
    * STRING (counts-per-hash ≡ counts-per-gram modulo ~1e-15 xxhash64
    * collisions — the q_text_substring_dedup precedent).
    */
  val textSpanSource = QueryDef(
    "q_text_span_source",
    (s, dir) => spanSourceOn(Tables.documents(s, dir).select("doc_id", "text")),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_transform(range(greatest(len(toks) - 19, 0)),
                 i -> list_aggregate(toks[i+1:i+20], 'string_agg', ' '))) AS g
        FROM t),
      ws AS (SELECT g, COUNT(*) AS cnt, MIN(doc_id) AS src FROM g GROUP BY g),
      dup AS (SELECT g.doc_id, ws.src FROM g JOIN ws USING (g)
              WHERE ws.cnt >= 2 AND ws.src < g.doc_id),
      nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM g GROUP BY doc_id),
      cm AS (SELECT doc_id, COUNT(*) AS copied_windows FROM dup GROUP BY doc_id),
      ps AS (SELECT doc_id, src, COUNT(*) AS w FROM dup GROUP BY doc_id, src),
      top AS (SELECT doc_id, src AS top_source, w AS top_source_windows FROM (
        SELECT doc_id, src, w,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w DESC, src ASC) AS rn
        FROM ps) WHERE rn = 1)
      SELECT d.doc_id,
             COALESCE(nw.n_windows, 0) AS n_windows,
             COALESCE(cm.copied_windows, 0) AS copied_windows,
             CASE WHEN COALESCE(nw.n_windows, 0) > 0
                  THEN ROUND(CAST(COALESCE(cm.copied_windows, 0) AS DOUBLE) / nw.n_windows, 6)
             END AS copied_fraction,
             top.top_source,
             COALESCE(top.top_source_windows, 0) AS top_source_windows
      FROM documents d
      LEFT JOIN nw USING (doc_id)
      LEFT JOIN cm USING (doc_id)
      LEFT JOIN top USING (doc_id)
      ORDER BY d.doc_id
    """.trim),
  )

  /** Corpus drift audit — Dunning's log-likelihood ratio (G², Dunning
    * 1993) per token between two corpus slices (source src0 vs the
    * rest): the distribution-shift check a pipeline runs between crawl
    * snapshots or data sources before mixing them. G² = 2·Σ k·ln(k/E)
    * over the 2-cell token row (E from the marginals), which unlike raw
    * χ² stays calibrated for rare tokens. Top-30 most-drifted tokens
    * (min total 10 — below that G² is noise). Scale shape: ONE
    * (token)-keyed aggregate with conditional-sum partials (map-side
    * combine compresses the zipfian head), a broadcast 1-row marginal,
    * a codegen projection, and a top-k — linear in corpus tokens.
    * Float parity: ln on identical doubles (the q_text_bm25-proven ln
    * recipe), contributions 8dp-decimal-rounded before the final sum.
    */
  val textDrift = QueryDef(
    "q_text_drift",
    (s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(col("source"), explode(Tokenize.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ka"),
          sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("kb"))
        .filter(col("ka") + col("kb") >= 10)
      val tot = counts.agg(sum("ka").as("na"), sum("kb").as("nb"))
      def term(k: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
          naCol: org.apache.spark.sql.Column,
          nbCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val e = n.cast(DoubleType) * (col("ka") + col("kb")) / (naCol + nbCol)
        when(k > 0, round(k.cast(DoubleType) * log(k.cast(DoubleType) / e), 8)
          .cast(DecimalType(18, 8))).otherwise(lit(0.0).cast(DecimalType(18, 8)))
      }
      val g2 = counts.crossJoin(broadcast(tot))
        .withColumn("g2", round((term(col("ka"), col("na"), col("na"), col("nb"))
          + term(col("kb"), col("nb"), col("na"), col("nb"))).cast(DoubleType) * 2.0, 6))
      val w = Window.orderBy(desc("g2"), asc("token"))
      g2.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 30)
        .select("rank", "token", "ka", "kb", "g2")
        .orderBy("rank")
    },
    Some("""
      WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      counts AS (
        SELECT token,
               CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ka,
               CAST(SUM(CASE WHEN source != 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS kb
        FROM t GROUP BY token HAVING SUM(1) >= 10),
      tot AS (SELECT SUM(ka) AS na, SUM(kb) AS nb FROM counts),
      g AS (
        SELECT token, ka, kb,
               ROUND(2.0 *
                 (CASE WHEN ka > 0 THEN CAST(ROUND(ka * ln(ka / (na * (ka + kb) / (na + nb))), 8) AS DECIMAL(18,8))
                       ELSE CAST(0.0 AS DECIMAL(18,8)) END
                + CASE WHEN kb > 0 THEN CAST(ROUND(kb * ln(kb / (nb * (ka + kb) / (na + nb))), 8) AS DECIMAL(18,8))
                       ELSE CAST(0.0 AS DECIMAL(18,8)) END
               )::DOUBLE, 6) AS g2
        FROM counts CROSS JOIN tot)
      SELECT rank, token, ka, kb, g2 FROM (
        SELECT token, ka, kb, g2,
               ROW_NUMBER() OVER (ORDER BY g2 DESC, token ASC) AS rank
        FROM g)
      WHERE rank <= 30
      ORDER BY rank
    """.trim),
  )

  /** Per-source vocabulary statistics — the Heaps'-law inputs a corpus
    * curator tracks across snapshots: total tokens, distinct types, hapax
    * legomena (types seen exactly once — a rising hapax rate flags noisy
    * or OCR-corrupted ingest; a falling one flags templated/duplicated
    * text), type-token ratio, hapax rate. One tokenize explode + one
    * (source, token) aggregate + one per-source aggregate — all exact
    * counts; the two ratios are single IEEE divisions of exact longs.
    */
  val textVocab = QueryDef(
    "q_text_vocab",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("source"), explode(Tokenize.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").cast(LongType).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          (col("n_types").cast(DoubleType) / col("n_tokens")).as("ttr"),
          (col("n_hapax").cast(DoubleType) / col("n_types")).as("hapax_rate"))
        .orderBy("source")
    },
    Some("""
      WITH tc AS (
        SELECT source, token, count(*) AS c
        FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY source, token),
      v AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM tc GROUP BY source)
      SELECT source, n_tokens, n_types, n_hapax,
             CAST(n_types AS DOUBLE) / n_tokens AS ttr,
             CAST(n_hapax AS DOUBLE) / n_types AS hapax_rate
      FROM v ORDER BY source
    """.trim),
  )

  /** Zipf exponent of the corpus vocabulary: weighted OLS of log2(freq)
    * on log2(rank) over the DISTINCT-FREQUENCY grain — the
    * corpus-health companion to q_text_vocab (a healthy natural-language
    * corpus fits slope ≈ −1; templated or synthetic text drifts).
    *
    * Scale shape: one tokenize + token count (the wordcount shuffle),
    * then everything lives on distinct FREQUENCIES (zipfian ⇒ hundreds
    * of rows even for a billion-type vocabulary): ranks come from the
    * bucketed cumulative (StatQueries.withCumBefore) over v = −freq, so
    * rank 1 = most frequent and ties take their exact integer midrank
    * rank2 = 2·cumBefore + t + 1 — each distinct frequency is ONE
    * weighted regression point (weight t = #types), which is exactly the
    * tie-collapsed Zipf fit. Determinism: log2(rank2/2) and log2(f) are
    * 4dp-rounded to exact decimals (libm mask), carried as 1e4-scaled
    * longs; the five weighted moments are exact D38 sums and slope /
    * intercept come from 1e6-scale exact floor division on non-negative
    * operands (sign reapplied) — the audited D38 ceiling holds to ~10⁶
    * distinct frequencies.
    */
  /** Zipf-fit core over a (token, f) frequency frame — the q_text_zipf
    * machinery, reused by the GraftFrame.zipf verb.
    */
  private[graft] def zipfOn(counts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType, DoubleType}
    val D38 = DecimalType(38, 0)
    val vf = counts.groupBy("f").agg(count(lit(1)).as("t"))
        .select((-col("f")).as("v"), col("t"), col("f"))
      val ranked = StatQueries.withCumBefore(vf, Seq("t"))
        .withColumn("rank2", lit(2L) * col("cb_t") + col("t") + 1)
        .withColumn("xs",
          (round(log2(col("rank2").cast(DoubleType) / lit(2.0)), 4)
            .cast(DecimalType(14, 4)) * 10000).cast(LongType))
        .withColumn("ys",
          (round(log2(col("f").cast(DoubleType)), 4)
            .cast(DecimalType(14, 4)) * 10000).cast(LongType))
      val m = ranked.agg(
        sum(col("t")).cast(D38).as("n"),
        sum(col("t") * col("xs")).cast(D38).as("sx"),
        sum(col("t") * col("ys")).cast(D38).as("sy"),
        sum(col("t").cast(D38) * col("xs") * col("ys")).cast(D38).as("sxy"),
        sum(col("t").cast(D38) * col("xs") * col("xs")).cast(D38).as("sxx"))
      m.withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy")).cast(D38))
        .withColumn("den", (col("n") * col("sxx") - col("sx") * col("sx")).cast(D38))
        // den = 0 (a single distinct frequency) → NULL slope/intercept,
        // never an ANSI DIVIDE_BY_ZERO — the degenerate-input contract
        .withColumn("slope_e6",
          when(col("den") =!= 0,
            when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
              expr("(abs(num) * 1000000) div den")))
        .withColumn("inum", (col("sy") * col("den") - col("num") * col("sx")).cast(D38))
        .withColumn("intercept_e2",
          when(col("den") =!= 0,
            when(col("inum") < 0, lit(-1L)).otherwise(lit(1L)) *
              expr("(abs(inum) * 100) div (n * den)")))
        .select(col("n").cast(LongType).as("n_types"),
          (col("slope_e6").cast(DoubleType) / lit(1000000.0)).as("slope"),
          // inum/(n·den) = intercept·1e4 (the xs/ys scale), so the
          // ·100 floor division yields intercept·1e6 — same render as slope
          (col("intercept_e2").cast(DoubleType) / lit(1000000.0)).as("intercept"))
  }

  val textZipf = QueryDef(
    "q_text_zipf",
    (s, dir) => zipfOn(tokens(s, dir).groupBy("token").agg(count(lit(1)).as("f"))),
    Some("""
      WITH counts AS (
        SELECT token, COUNT(*) AS f
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token),
      vf AS (SELECT -f AS v, CAST(COUNT(*) AS BIGINT) AS t, f FROM counts GROUP BY f),
      ranked AS (
        SELECT f, t,
               2 * COALESCE(SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS rank2
        FROM vf),
      pts AS (
        SELECT t,
               CAST(CAST(ROUND(log2(CAST(rank2 AS DOUBLE) / 2.0), 4) AS DECIMAL(14,4)) * 10000 AS HUGEINT) AS xs,
               CAST(CAST(ROUND(log2(CAST(f AS DOUBLE)), 4) AS DECIMAL(14,4)) * 10000 AS HUGEINT) AS ys
        FROM ranked),
      m AS (
        SELECT CAST(SUM(t) AS HUGEINT) AS n,
               CAST(SUM(t * xs) AS HUGEINT) AS sx, CAST(SUM(t * ys) AS HUGEINT) AS sy,
               CAST(SUM(t * xs * ys) AS HUGEINT) AS sxy,
               CAST(SUM(t * xs * xs) AS HUGEINT) AS sxx
        FROM pts),
      d AS (
        SELECT n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den, sy, sx
        FROM m)
      SELECT CAST(n AS BIGINT) AS n_types,
             CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END * ((abs(num) * 1000000) // den) AS DOUBLE) / 1000000.0 AS slope,
             CAST(CASE WHEN sy * den - num * sx < 0 THEN -1 ELSE 1 END * ((abs(sy * den - num * sx) * 100) // (n * den)) AS DOUBLE) / 1000000.0 AS intercept
      FROM d
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(
    wordcount, tfidf, textStats, langId, quality, tokenCount, fingerprint, textPmi,
    textNormalize, textEntropy, textChunkify, textLmScore, textRepetition, bpePairs,
    bpeEncode, substringDedup, textSpanSource, qualityModel, textrank, textDrift,
    textVocab, textZipf, textWinnow, textWinnowPairs, textWinnowSpans)
}
