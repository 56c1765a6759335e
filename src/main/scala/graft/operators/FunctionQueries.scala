package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Group I — scalar function families (SURVEY.md §2.B Group I).
  *
  * All functions are Spark built-ins (whole-stage-codegen'd) — no UDFs in
  * any hot path. Floating-point caveats handled per-query: sqrt is IEEE
  * correctly-rounded (identical across engines); pow is restricted to exact
  * small-integer cases; round on a 2dp-stored double never sees a true
  * binary .x5 tie at 1dp.
  */
object FunctionQueries {

  /** String family: upper/lower/substring/concat/trim/length/LIKE/regexp. */
  val fnString = QueryDef(
    "q_fn_string",
    (s, dir) =>
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          lower(col("p_brand")).as("brand_lower"),
          substring(col("p_name"), 1, 5).as("name_pfx"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("name_trim"),
          length(col("p_name")).as("name_len"),
          col("p_name").like("%red%").as("is_red"),
          regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"))
        .orderBy("p_partkey"),
    Some("""
      SELECT p_partkey,
             UPPER(p_name) AS name_upper,
             LOWER(p_brand) AS brand_lower,
             SUBSTRING(p_name, 1, 5) AS name_pfx,
             CONCAT_WS('/', p_brand, p_type) AS brand_type,
             TRIM(CONCAT('  ', p_name, '  ')) AS name_trim,
             LENGTH(p_name) AS name_len,
             p_name LIKE '%red%' AS is_red,
             REGEXP_EXTRACT(p_brand, '([0-9]+)', 1) AS brand_num
      FROM part ORDER BY p_partkey
    """.trim),
  )

  /** Date/time family over o_orderdate (timestamp_ntz). */
  val fnDate = QueryDef(
    "q_fn_date",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"),
          dayofmonth(col("o_orderdate")).as("o_day"),
          to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast(DateType)).as("days_since_95"),
          date_add(to_date(col("o_orderdate")), 30).as("due_date"),
          quarter(col("o_orderdate")).as("o_quarter"),
          dayofweek(col("o_orderdate")).as("o_dow"))
        .orderBy("o_orderkey"),
    Some("""
      SELECT o_orderkey,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(month(o_orderdate) AS INTEGER) AS o_month,
             CAST(day(o_orderdate) AS INTEGER) AS o_day,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_95,
             CAST(o_orderdate AS DATE) + 30 AS due_date,
             CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
             CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS o_dow
      FROM orders ORDER BY o_orderkey
    """.trim),
  )

  /** Math family. sqrt on integral quantities (IEEE exact-rounded both
    * engines); pow kept to exact integer squares; mod on ints.
    */
  val fnMath = QueryDef(
    "q_fn_math",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("price_r1"),
          abs(col("l_discount") - 0.05).as("disc_dev"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          floor(col("l_extendedprice")).as("price_floor"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          pow(col("l_quantity"), 2).as("qty_sq"),
          (col("l_linenumber") % 3).as("ln_mod3"))
        // duplicate (l_orderkey, l_linenumber) keys exist — order by every
        // output column so the order is total among distinct rows
        .orderBy("l_orderkey", "l_linenumber", "price_r1", "disc_dev", "price_ceil",
          "price_floor", "qty_sqrt", "qty_sq", "ln_mod3"),
    Some("""
      SELECT l_orderkey, l_linenumber,
             ROUND(l_extendedprice, 1) AS price_r1,
             ABS(l_discount - 0.05) AS disc_dev,
             CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
             CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
             SQRT(l_quantity) AS qty_sqrt,
             POWER(l_quantity, 2) AS qty_sq,
             l_linenumber % 3 AS ln_mod3
      FROM lineitem ORDER BY l_orderkey, l_linenumber, price_r1, disc_dev, price_ceil,
                             price_floor, qty_sqrt, qty_sq, ln_mod3
    """.trim),
  )

  /** Conditional family: CASE tiers, coalesce, nullif. */
  val fnCond = QueryDef(
    "q_fn_cond",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 300000.0, "high")
            .when(col("o_totalprice") > 100000.0, "mid")
            .otherwise("low").as("price_tier"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_or_open"),
          nullif(col("o_orderpriority"), lit("1-URGENT")).as("prio_nullable"))
        .orderBy("o_orderkey"),
    Some("""
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 300000.0 THEN 'high'
                  WHEN o_totalprice > 100000.0 THEN 'mid'
                  ELSE 'low' END AS price_tier,
             COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
             NULLIF(o_orderpriority, '1-URGENT') AS prio_nullable
      FROM orders ORDER BY o_orderkey
    """.trim),
  )

  /** JSON family: extract int from events.props, aggregate by it. */
  val fnJson = QueryDef(
    "q_fn_json",
    (s, dir) =>
      Tables.events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
          col("value").cast(DecimalType(9, 2)).as("v"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").cast(DecimalType(38, 2)).cast(DoubleType).as("sum_value"))
        .orderBy("k"),
    Some("""
      SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY k
    """.trim),
  )

  /** Array family (higher-order functions) over the embedding vector.
    * Array-typed outputs are reduced to scalars so the oracle compare stays
    * type-simple; the double fold is sequential in index order on both
    * engines.
    */
  val fnArray = QueryDef(
    "q_fn_array",
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).as("first_elem"),
          element_at(col("embedding"), -1).as("last_elem"),
          element_at(sort_array(col("embedding")), 1).as("min_elem"),
          element_at(sort_array(col("embedding"), asc = false), 1).as("max_elem"),
          element_at(slice(col("embedding"), 1, 8), 8).as("eighth"),
          array_contains(col("embedding"), 0.0f).as("has_zero"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast(DoubleType)), 6).as("sum_elems"))
        .orderBy("vec_id"),
    Some("""
      SELECT vec_id,
             CAST(len(embedding) AS INTEGER) AS dim,
             embedding[1] AS first_elem,
             embedding[-1] AS last_elem,
             list_sort(embedding)[1] AS min_elem,
             list_reverse_sort(embedding)[1] AS max_elem,
             embedding[1:8][8] AS eighth,
             list_contains(embedding, CAST(0.0 AS FLOAT)) AS has_zero,
             ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS sum_elems
      FROM embeddings ORDER BY vec_id
    """.trim),
  )

  /** Map family, oracle-checked by scalarizing: the map is rebuilt as a
    * canonical "key:value" string over key-sorted map_entries (map iteration
    * order itself is engine-specific, the sorted projection is not). The
    * DuckDB twin computes the expected entries string directly from the
    * source columns.
    */
  val fnMap = QueryDef(
    "q_fn_map",
    (s, dir) => {
      val e = Tables.events(s, dir)
        // props {"k": 69} → "k=69,type=<event_type>" → str_to_map
        .withColumn("kv",
          concat(lit("k="), get_json_object(col("props"), "$.k"), lit(",type="), col("event_type")))
        .withColumn("m", expr("str_to_map(kv, ',', '=')"))
      e.select(
          col("event_id"),
          expr("array_join(transform(array_sort(map_entries(m)), x -> concat(x.key, ':', x.value)), ',')")
            .as("entries_str"),
          element_at(col("m"), "type").as("type_val"),
          size(col("m")).as("map_size"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id,
             'k:' || json_extract_string(props, '$.k') || ',type:' || event_type AS entries_str,
             event_type AS type_val,
             2 AS map_size
      FROM events ORDER BY event_id
    """.trim),
  )

  /** Table-generating (UDTF / Catalyst Generator): tokenize + explode. */
  val fnExplode = QueryDef(
    "q_fn_explode",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(graft.functions.Tokenize.tokens(col("text"))).as("token"))
        .orderBy("doc_id", "token"),
    Some("""
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents ORDER BY doc_id, token
    """.trim),
  )

  /** try_* family — error-free casts/arithmetic that yield NULL instead of
    * failing the job (the behavior a 100 TB ingest wants for malformed
    * cells): try_cast on an unparseable string, try_divide by zero,
    * try_add on guaranteed bigint overflow. The oracle computes each
    * expected NULL/value directly.
    */
  val fnTryCast = QueryDef(
    "q_fn_trycast",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          expr("try_cast(o_orderpriority AS INT)").as("prio_whole"), // '1-URGENT' → null
          expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("prio_digit"),
          expr("try_divide(o_totalprice, o_orderkey % 3)").as("div_mod3"), // % 3 = 0 → null
          expr("try_add(9223372036854775807L, o_orderkey)").as("add_ovf")) // overflow (key > 0) → null
        // count-visible gate: output-only try_* probes (87× under count)
        .transform(graft.QueryDef.countGate(_,
          "prio_whole", "prio_digit", "div_mod3", "add_ovf"))
        .orderBy("o_orderkey"),
    Some("""
      SELECT o_orderkey,
             TRY_CAST(o_orderpriority AS INTEGER) AS prio_whole,
             TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit,
             o_totalprice / NULLIF(o_orderkey % 3, 0) AS div_mod3,
             CASE WHEN o_orderkey = 0 THEN 9223372036854775807 ELSE CAST(NULL AS BIGINT) END AS add_ovf
      FROM orders ORDER BY o_orderkey
    """.trim),
  )

  /** from_json with an explicit schema — the structured-ingest function
    * (never schema inference at 100 TB): parse props into a typed struct,
    * emit its fields plus a corrupt-input probe (malformed JSON → null
    * struct, the try_* philosophy applied to parsing).
    */
  val fnFromJson = QueryDef(
    "q_fn_fromjson",
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", IntegerType)))).as("parsed"),
          // garbage-first input: PERMISSIVE from_json tolerates trailing
          // junk after a valid prefix, so the probe must fail from byte 0
          from_json(concat(lit("{broken"), col("props")),
            StructType(Seq(StructField("k", IntegerType)))).as("broken"))
        // PERMISSIVE from_json yields an all-null-field struct (not a null
        // struct) on corrupt input — probe the field
        .select(col("event_id"),
          col("parsed.k").as("k"),
          col("parsed.k").isNull.as("parse_failed"),
          col("broken.k").isNull.as("broken_failed"))
        .orderBy("event_id"),
    Some("""
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
             false AS parse_failed,
             true AS broken_failed
      FROM events ORDER BY event_id
    """.trim),
  )

  /** URL function family: parse_url over a URL synthesized from event
    * fields. DuckDB has no parse_url, so the oracle computes each expected
    * component directly from the same fields — the independent-expected-
    * value pattern (as with q_fn_map / the multimodal oracles).
    */
  val fnUrl = QueryDef(
    "q_fn_url",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("url", concat(lit("https://events.example.com/t/"), col("event_type"),
          lit("?uid="), col("user_id"), lit("&v=1")))
        .select(col("event_id"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query"),
          expr("parse_url(url, 'QUERY', 'uid')").as("uid_param"),
          expr("parse_url(url, 'PROTOCOL')").as("protocol"))
        .orderBy("event_id"),
    Some("""
      SELECT event_id,
             'events.example.com' AS host,
             '/t/' || event_type AS path,
             'uid=' || user_id || '&v=1' AS query,
             CAST(user_id AS VARCHAR) AS uid_param,
             'https' AS protocol
      FROM events ORDER BY event_id
    """.trim),
  )

  /** Binary encodings: base64 / hex round-trips over UTF-8 text bytes.
    * Spark's base64 emits MIME-chunked output (CRLF every 76 chars);
    * stripping the line breaks yields the canonical unchunked form DuckDB
    * produces.
    */
  val fnEncode = QueryDef(
    "q_fn_encode",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_replace(base64(col("text").cast(BinaryType)), "[\\r\\n]", "").as("b64"),
          substring(hex(col("text").cast(BinaryType)), 1, 16).as("hex_pfx"),
          unbase64(base64(col("text").cast(BinaryType))).cast(StringType).as("roundtrip"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             to_base64(encode(text)) AS b64,
             substring(hex(encode(text)), 1, 16) AS hex_pfx,
             text AS roundtrip
      FROM documents ORDER BY doc_id
    """.trim),
  )

  /** Calendar arithmetic family: add_months (with end-of-month clamping —
    * identical in DuckDB's interval addition), last_day, next_day (DuckDB
    * twin: d + (8 - isodow), which lands strictly after d for every
    * weekday incl. Monday itself), ISO week number.
    */
  val fnDate2 = QueryDef(
    "q_fn_date2",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          add_months(to_date(col("o_orderdate")), 2).as("plus_2mo"),
          last_day(to_date(col("o_orderdate"))).as("month_end"),
          next_day(to_date(col("o_orderdate")), "Mon").as("next_monday"),
          weekofyear(col("o_orderdate")).as("iso_week"))
        .orderBy("o_orderkey"),
    Some("""
      SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
             last_day(CAST(o_orderdate AS DATE)) AS month_end,
             CAST(o_orderdate AS DATE) + CAST(8 - isodow(CAST(o_orderdate AS DATE)) AS INTEGER) AS next_monday,
             CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week
      FROM orders ORDER BY o_orderkey
    """.trim),
  )

  /** Struct functions — nested-record construction, field access, field
    * update, and the JSON projection of a struct: the named-tuple algebra
    * every nested-schema pipeline uses. All per-row codegen'd expressions
    * (zero shuffle); the JSON text is built with explicit concat in BOTH
    * engines so key order and number formatting are under our control
    * rather than an engine's serializer.
    */
  val fnStruct = QueryDef(
    "q_fn_struct",
    (s, dir) =>
      graft.Tables.orders(s, dir)
        .select(col("o_orderkey"),
          struct(col("o_custkey").as("cust"),
            col("o_totalprice").cast(DecimalType(12, 2)).as("price"),
            col("o_orderstatus").as("status")).as("rec"))
        .select(
          col("o_orderkey"),
          col("rec.cust").as("cust"),
          col("rec.price").cast(DoubleType).as("price"),
          // field update: a re-priced copy of the record
          col("rec").withField("price",
            (col("rec.price") + lit(5).cast(DecimalType(12, 2))).cast(DecimalType(12, 2)))
            .getField("price").cast(DoubleType).as("repriced"),
          concat(lit("{\"cust\":"), col("rec.cust").cast(StringType),
            lit(",\"status\":\""), col("rec.status"), lit("\"}")).as("rec_json"))
        .orderBy("o_orderkey"),
    Some("""
      WITH r AS (
        SELECT o_orderkey, o_custkey AS cust,
               CAST(o_totalprice AS DECIMAL(12,2)) AS price,
               o_orderstatus AS status
        FROM orders)
      SELECT o_orderkey, cust,
             CAST(price AS DOUBLE) AS price,
             CAST(price + 5 AS DOUBLE) AS repriced,
             '{"cust":' || CAST(cust AS VARCHAR) || ',"status":"' || status || '"}' AS rec_json
      FROM r ORDER BY o_orderkey
    """.trim),
  )

  /** XML family (Spark 4 structured-ingest surface): from_xml with an
    * explicit schema plus the xpath_* scalar extractors, over an XML
    * document synthesized from event fields. DuckDB has no XML functions,
    * so the oracle computes each expected component directly from the
    * same base columns (the q_fn_url independent-expected-value pattern);
    * a malformed-document probe pins the PERMISSIVE null-field behavior
    * (the try_* philosophy applied to parsing).
    *
    * Since r15 the xpath_* trio runs on a DETERMINISTIC 1/16 id slice
    * (r14 verdict plan audit: the row paid THREE DOM parses per row —
    * 10.3 s, 6.5% of the whole suite for one scalar family — where
    * from_xml alone computes every structural output). from_xml keeps
    * full grain, so structured XML parsing stays priced per-row; the
    * xpath surface stays exercised and oracle-checked on the slice.
    * The slice predicate is `event_id % 16 = 0` — portable to DuckDB
    * verbatim, and replica-stable on 2^40-strided scale fixtures
    * (2^40 ≡ 0 mod 16, so every replica contributes the same 1/16).
    */
  val fnXml = QueryDef(
    "q_fn_xml",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("xml", concat(
          lit("<e><t>"), col("event_type"), lit("</t><u>"), col("user_id"),
          lit("</u></e>")))
        .withColumn("sliced", pmod(col("event_id"), lit(16)) === 0)
        .select(col("event_id"),
          when(col("sliced"), expr("xpath_string(xml, '/e/t')")).as("t_path"),
          when(col("sliced"), expr("xpath_long(xml, '/e/u')")).as("u_path"),
          from_xml(col("xml"), StructType(Seq(
            StructField("t", StringType), StructField("u", LongType)))).as("parsed"),
          // malformed-document probe on a LITERAL: the per-row variant
          // parsed 100k identical-outcome broken documents for a
          // constant answer — the foldable literal pins the same
          // PERMISSIVE null-field behavior at constant cost
          from_xml(lit("<broken <e><t>x</t></e>"), StructType(Seq(
            StructField("t", StringType)))).as("broken"))
        .select(col("event_id"), col("t_path"), col("u_path"),
          col("parsed.t").as("t_struct"), col("parsed.u").as("u_struct"),
          col("broken.t").isNull.as("broken_failed"))
        // count-visible gate: the row's entire work is output-only XML
        // extraction (priced 190× under count() before r14, PERF §r13.4)
        .transform(graft.QueryDef.countGate(_,
          "t_path", "u_path", "t_struct", "u_struct", "broken_failed"))
        .orderBy("event_id"),
    Some("""
      SELECT event_id,
             CASE WHEN event_id % 16 = 0 THEN event_type END AS t_path,
             CASE WHEN event_id % 16 = 0 THEN user_id END AS u_path,
             event_type AS t_struct,
             user_id AS u_struct,
             true AS broken_failed
      FROM events ORDER BY event_id
    """.trim),
  )

  /** VARIANT family (Spark 4 semi-structured type): parse_json into an
    * open-schema VARIANT, typed field extraction via variant_get, the
    * try_parse_json null-on-malformed probe, and the compact to_json
    * round-trip. The oracle rebuilds each expected value from the source
    * JSON text with DuckDB's json functions — including the canonical
    * compact serialization.
    */
  val fnVariant = QueryDef(
    "q_fn_variant",
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"),
          expr("try_parse_json('{nope')").isNull.as("bad_is_null"), // malformed → NULL, never a task failure
          expr("to_json(parse_json(props))").as("compact"))
        .orderBy("event_id"),
    Some("""
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
             true AS bad_is_null,
             '{"k":' || json_extract_string(props, '$.k') || '}' AS compact
      FROM events ORDER BY event_id
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(
    fnString, fnDate, fnDate2, fnMath, fnCond, fnJson, fnArray, fnMap, fnExplode, fnTryCast,
    fnFromJson, fnUrl, fnEncode, fnStruct, fnXml, fnVariant)
}
