package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.FuzzyStrings
import graft.queries.StreamingGates.events

/** Scalar, higher-order and generator functions: strings, dates,
  * JSON/XML/URL parsing, arrays and maps, hashing and id schemes,
  * geo encodings and SQL UDFs.
  */
object FunctionsGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** String family: lower/upper/trim/regexp_replace/regexp_extract/
    * split+index/element_at(-1)/size/concat/concat_ws/lpad/substring/
    * startswith/contains (ref usages: 02:211-212, 03:252-303, 04a:133-136,
    * 04c:148-205, 05:613-618).
    */
  val f_string = OpQuery(
    "f_string",
    """SELECT p_partkey,
      |  lower(p_name) AS name_lower,
      |  upper(p_brand) AS brand_upper,
      |  trim(p_type) AS type_trim,
      |  regexp_replace(p_name, '[^a-zA-Z0-9]', '', 'g') AS name_clean,
      |  regexp_extract(p_type, '([A-Z]+)', 1) AS type_first_upper,
      |  list_extract(string_split(p_name, ' '), 1) AS first_token,
      |  string_split(p_name, ' ')[-1] AS last_token,
      |  CAST(length(string_split(p_name, ' ')) AS INT) AS n_tokens,
      |  concat(p_brand, '#', p_type) AS brand_type,
      |  concat_ws('_', p_brand, p_type) AS brand_type_ws,
      |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
      |  substring(p_name, 1, 5) AS name_prefix,
      |  starts_with(p_brand, 'Brand') AS is_brand,
      |  contains(p_type, 'a') AS has_a
      |FROM part
      |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    val parts = split(col("p_name"), " ")
    t(spark, dir, "part").select(
      col("p_partkey"),
      lower(col("p_name")).as("name_lower"),
      upper(col("p_brand")).as("brand_upper"),
      trim(col("p_type")).as("type_trim"),
      regexp_replace(col("p_name"), "[^a-zA-Z0-9]", "").as("name_clean"),
      regexp_extract(col("p_type"), "([A-Z]+)", 1).as("type_first_upper"),
      get(parts, lit(0)).as("first_token"),
      element_at(parts, -1).as("last_token"),
      size(parts).as("n_tokens"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      concat_ws("_", col("p_brand"), col("p_type")).as("brand_type_ws"),
      lpad(col("p_size").cast("string"), 4, "0").as("size_padded"),
      substring(col("p_name"), 1, 5).as("name_prefix"),
      col("p_brand").startsWith("Brand").as("is_brand"),
      col("p_type").contains("a").as("has_a"))
      .orderBy(col("p_partkey"))
  }

  /** Conditional/null family: when/otherwise chains, coalesce, nullif,
    * null-sentinel handling (ref: pervasive, e.g. 03:257-295, 05:693-697).
    */
  val f_conditional = OpQuery(
    "f_conditional",
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN 'negative'
      |       WHEN c_acctbal < 5000 THEN 'low'
      |       ELSE 'high' END AS bal_band,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
      |  CASE WHEN c_nationkey % 2 = 0 THEN c_name END AS name_evens_only
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer").select(
      col("c_custkey"),
      when(col("c_acctbal") < 0, "negative")
        .when(col("c_acctbal") < 5000, "low")
        .otherwise("high").as("bal_band"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER"))
        .as("segment_masked"),
      when(col("c_nationkey") % 2 === 0, col("c_name")).as("name_evens_only"))
      .orderBy(col("c_custkey"))
  }

  /** Math family: abs/round/floor/ceil/pmod/integer arithmetic
    * (ref: 03:134-139, 04a:194, 05:553-558,615-618). pmod has no DuckDB
    * twin; the oracle spells out ((x % n) + n) % n.
    */
  val f_math = OpQuery(
    "f_math",
    """SELECT s_suppkey,
      |  abs(s_acctbal) AS bal_abs,
      |  CAST(round(s_acctbal, 1) AS DOUBLE) AS bal_round1,
      |  CAST(floor(s_acctbal) AS BIGINT) AS bal_floor,
      |  CAST(ceil(s_acctbal) AS BIGINT) AS bal_ceil,
      |  CAST(((s_suppkey * 37 % 10) + 10) % 10 AS BIGINT) AS key_pmod,
      |  CAST(s_suppkey * 3600 + s_nationkey * 60 AS BIGINT) AS synthetic_secs
      |FROM supplier
      |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "supplier").select(
      col("s_suppkey"),
      abs(col("s_acctbal")).as("bal_abs"),
      round(col("s_acctbal"), 1).cast("double").as("bal_round1"),
      floor(col("s_acctbal")).as("bal_floor"),
      ceil(col("s_acctbal")).as("bal_ceil"),
      pmod(col("s_suppkey") * 37, lit(10)).cast("long").as("key_pmod"),
      (col("s_suppkey") * 3600 + col("s_nationkey") * 60).cast("long")
        .as("synthetic_secs"))
      .orderBy(col("s_suppkey"))
  }

  /** Date/time family: year/month/day/date_trunc/date_format/datediff
    * (ref: current_timestamp/current_date 02:150-151 are nondeterministic
    * so the deterministic extraction family stands in).
    */
  val f_datetime = OpQuery(
    "f_datetime",
    """SELECT o_orderkey,
      |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
      |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
      |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS order_day,
      |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow_sunday1,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
      |  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_92
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("order_year"),
      month(col("o_orderdate")).as("order_month"),
      dayofmonth(col("o_orderdate")).as("order_day"),
      dayofweek(col("o_orderdate")).as("dow_sunday1"),
      date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
        .as("month_start"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date_str"),
      datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
        .as("days_since_92"))
      .orderBy(col("o_orderkey"))
  }

  /** Higher-order array functions (transform / filter / aggregate /
    * array_sort / array_join) — the lambda surface over array columns,
    * stated on exact string/integer semantics so both engines hash
    * identically (float lambdas would drift).
    */
  val f_higher_order = OpQuery(
    "f_higher_order",
    """SELECT doc_id,
      |  array_to_string(
      |    list_sort(list_transform(
      |      list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                  t -> length(t) > 4),
      |      t -> upper(t))), ',') AS long_tokens,
      |  CAST(coalesce(list_sum(list_transform(
      |      regexp_split_to_array(lower(trim(text)), '\s+'),
      |      t -> length(t))), 0) AS BIGINT) AS total_chars,
      |  CAST(length(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      t -> t LIKE '%e%')) AS INT) AS tokens_with_e
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val toks = split(lower(trim(col("text"))), "\\s+")
    graft.Tables.load(spark, dir, "documents").select(
      col("doc_id"),
      array_join(
        array_sort(transform(
          filter(toks, t => length(t) > 4),
          t => upper(t))), ",").as("long_tokens"),
      aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (acc, x) => acc + x).as("total_chars"),
      size(filter(toks, t => t.like("%e%"))).as("tokens_with_e"))
      .orderBy(col("doc_id"))
  }

  /** Generator (table-valued) functions: posexplode with position,
    * explode over a computed array, and inline-style struct expansion —
    * one row per (doc, token index) with the token and a derived field.
    */
  val f_generator = OpQuery(
    "f_generator",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents WHERE doc_id % 50 = 0
      |)
      |SELECT doc_id,
      |       CAST(u.i - 1 AS INT) AS pos,
      |       t[u.i] AS tok,
      |       CAST(length(t[u.i]) AS INT) AS tok_len
      |FROM toks, unnest(generate_series(1, len(t))) AS u(i)
      |ORDER BY doc_id, pos""".stripMargin) { (spark, dir) =>
    val toks = split(lower(trim(col("text"))), "\\s+")
    graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"), col("tok"),
        length(col("tok")).as("tok_len"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Array set algebra: union / intersect / except between the token
    * sets of adjacent documents, canonicalized by sort (the two engines
    * order set results differently, the CONTENT is the contract).
    */
  val f_array_setops = OpQuery(
    "f_array_setops",
    """WITH pairs AS (
      |  SELECT a.doc_id,
      |         regexp_split_to_array(lower(trim(a.text)), '\s+') AS ta,
      |         regexp_split_to_array(lower(trim(b.text)), '\s+') AS tb
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id % 25 = 0
      |)
      |SELECT doc_id,
      |       coalesce(array_to_string(list_sort(list_distinct(list_cat(ta, tb))), ','), '') AS u,
      |       coalesce(array_to_string(list_sort(list_intersect(ta, tb)), ','), '') AS i,
      |       coalesce(array_to_string(list_sort(list_filter(list_distinct(ta),
      |         t -> NOT list_contains(tb, t))), ','), '') AS d
      |FROM pairs
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = graft.Tables.load(spark, dir, "documents")
    def toks(c: Column) = split(lower(trim(c)), "\\s+")
    val a = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), toks(col("text")).as("ta"))
    val b = docs.select((col("doc_id") - 1).as("doc_id"), toks(col("text")).as("tb"))
    a.join(b, Seq("doc_id"))
      .select(
        col("doc_id"),
        array_join(array_sort(array_union(col("ta"), col("tb"))), ",").as("u"),
        array_join(array_sort(array_intersect(col("ta"), col("tb"))), ",").as("i"),
        array_join(array_sort(array_except(col("ta"), col("tb"))), ",").as("d"))
      .orderBy(col("doc_id"))
  }

  /** JSON extraction from the props payload column. */
  val f_json = OpQuery(
    "f_json",
    """SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
      |FROM events
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    events(spark, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("prop_k"))
      .orderBy(col("event_id"))
  }

  /** Array-aggregation family: collect_list + array_sort + array_join
    * (emitted as a canonical string so the value compare is
    * engine-neutral), array_contains, element count.
    */
  val f_array_agg = OpQuery(
    "f_array_agg",
    """SELECT c_nationkey,
      |       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
      |       CAST(COUNT(DISTINCT c_mktsegment) AS INT) AS n_segments,
      |       contains(string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment), 'BUILDING') AS has_building
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(
        array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segments"),
        countDistinct(col("c_mktsegment")).cast("int").as("n_segments"))
      .withColumn("has_building",
        array_contains(split(col("segments"), ","), "BUILDING"))
      .orderBy(col("c_nationkey"))
  }

  /** The long tail of §2.7 string functions not already inside
    * `f_string`: levenshtein, translate, reverse, repeat,
    * position-of-substring, left/right slices, ascii. Identical
    * semantics in both engines (1-based positions, 0 when absent).
    */
  val f_string_extra = OpQuery(
    "f_string_extra",
    """SELECT p_partkey,
      |       CAST(levenshtein(p_name, 'small ring') AS INT) AS lev,
      |       translate(p_name, 'aeiou', 'AEIOU') AS tr,
      |       reverse(p_name) AS rev,
      |       repeat(p_brand, 2) AS rep,
      |       CAST(strpos(p_name, 'ring') AS INT) AS pos,
      |       left(p_name, 3) AS l3,
      |       right(p_name, 4) AS r4,
      |       CAST(ascii(p_name) AS INT) AS first_code
      |FROM part
      |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "part")
      .select(col("p_partkey"),
        levenshtein(col("p_name"), lit("small ring")).as("lev"),
        translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
        reverse(col("p_name")).as("rev"),
        repeat(col("p_brand"), 2).as("rep"),
        instr(col("p_name"), "ring").as("pos"),
        expr("left(p_name, 3)").as("l3"),
        expr("right(p_name, 4)").as("r4"),
        ascii(col("p_name")).as("first_code"))
      .orderBy(col("p_partkey"))
  }

  /** ANSI try_* escapes: with ANSI mode ON (this engine's gate default),
    * try_divide / try_cast / try_add return NULL where strict evaluation
    * would raise — division by zero, unparseable casts, bigint overflow.
    * The oracle states each NULL condition explicitly (including the
    * one NON-overflowing row: MAX + orderkey 0 is legal and must
    * surface, not null — the escape hatch only nulls genuine errors).
    */
  val f_try = OpQuery(
    "f_try",
    """SELECT o_orderkey,
      |       CASE WHEN o_custkey % 3 = 0 THEN NULL
      |            ELSE o_totalprice / (o_custkey % 3) END AS safe_div,
      |       TRY_CAST(o_orderpriority AS INT) AS bad_cast,
      |       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS good_cast,
      |       CASE WHEN o_orderkey = 0 THEN 9223372036854775807
      |            ELSE CAST(NULL AS BIGINT) END AS overflow_add
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        try_divide(col("o_totalprice"), col("o_custkey") % 3).as("safe_div"),
        col("o_orderpriority").try_cast("int").as("bad_cast"),
        substring(col("o_orderpriority"), 1, 1).try_cast("int").as("good_cast"),
        expr("try_add(CAST(9223372036854775807 AS BIGINT), o_orderkey)")
          .as("overflow_add"))
      .orderBy(col("o_orderkey"))
  }

  /** Bitwise operators: AND/OR/XOR/shifts over integer keys — flag
    * packing, bit-set membership, hash mixing all reduce to these.
    */
  val f_bitwise = OpQuery(
    "f_bitwise",
    """SELECT o_orderkey,
      |       CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
      |       CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
      |       CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS mixed,
      |       CAST(o_orderkey << 2 AS BIGINT) AS shl,
      |       CAST(o_orderkey >> 3 AS BIGINT) AS shr
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        col("o_orderkey").bitwiseAND(255).as("low_byte"),
        col("o_orderkey").bitwiseOR(4096).as("with_flag"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("mixed"),
        shiftleft(col("o_orderkey"), 2).as("shl"),
        shiftright(col("o_orderkey"), 3).as("shr"))
      .orderBy(col("o_orderkey"))
  }

  /** SQL scalar function: CREATE FUNCTION ... RETURN <expr> is inlined
    * by Catalyst into the calling plan — user-defined logic with
    * whole-stage-codegen performance (the engine's answer to "I need a
    * custom function" BEFORE reaching for a JVM UDF; the oracle states
    * the inlined expression directly, proving the function call is pure
    * expression substitution).
    */
  val f_sql_udf = OpQuery(
    "f_sql_udf",
    """SELECT o_orderkey,
      |       CAST(ROUND(o_totalprice * (1 - 0.07), 2) AS DOUBLE) AS discounted,
      |       CASE WHEN o_totalprice >= 100000 THEN 'jumbo'
      |            WHEN o_totalprice >= 10000 THEN 'large' ELSE 'standard' END AS size_band
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_udf_orders")
    // definitions are fixed for the session — create once so a re-run
    // (the bench's median-of-3) doesn't WARN-spam about replacement
    if (!spark.catalog.functionExists("graft_discount"))
      spark.sql("""CREATE TEMPORARY FUNCTION graft_discount(price DOUBLE)
                  |RETURNS DOUBLE RETURN ROUND(price * (1 - 0.07), 2)""".stripMargin)
    if (!spark.catalog.functionExists("graft_band"))
      spark.sql("""CREATE TEMPORARY FUNCTION graft_band(price DOUBLE)
                  |RETURNS STRING
                  |RETURN CASE WHEN price >= 100000 THEN 'jumbo'
                  |            WHEN price >= 10000 THEN 'large' ELSE 'standard' END""".stripMargin)
    spark.sql(
      """SELECT o_orderkey,
        |       CAST(graft_discount(o_totalprice) AS DOUBLE) AS discounted,
        |       graft_band(o_totalprice) AS size_band
        |FROM graft_udf_orders
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** parse_url extraction (host / path / query / single param).
    * URLs are constructed deterministically from the documents table so
    * the gate is self-contained; the oracle re-derives each component
    * with plain regexes, proving parse_url's decomposition — not the
    * construction — is what's verified.
    */
  val f_url_parse = OpQuery(
    "f_url_parse",
    """WITH urls AS (
      |  SELECT doc_id,
      |         concat('https://www.', source, '.example.com/', lang, '/doc-',
      |                CAST(doc_id AS VARCHAR), '?ref=search&id=', CAST(doc_id AS VARCHAR)) AS url
      |  FROM documents)
      |SELECT doc_id, url,
      |       regexp_extract(url, 'https://([^/]+)/', 1) AS host,
      |       regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1) AS path,
      |       regexp_extract(url, '\?([^#]*)', 1) AS query,
      |       regexp_extract(url, '[?&]id=([^&#]*)', 1) AS id_param
      |FROM urls
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_url_docs")
    spark.sql(
      """WITH urls AS (
        |  SELECT doc_id,
        |         concat('https://www.', source, '.example.com/', lang, '/doc-',
        |                CAST(doc_id AS STRING), '?ref=search&id=', CAST(doc_id AS STRING)) AS url
        |  FROM graft_url_docs)
        |SELECT doc_id, url,
        |       parse_url(url, 'HOST') AS host,
        |       parse_url(url, 'PATH') AS path,
        |       parse_url(url, 'QUERY') AS query,
        |       parse_url(url, 'QUERY', 'id') AS id_param
        |FROM urls
        |ORDER BY doc_id""".stripMargin)
  }

  /** Case-insensitive collation (Spark 4): COUNT(DISTINCT) and
    * predicates under UTF8_LCASE vs the binary default — the engine
    * handles locale-style comparison without lower() rewrites. The
    * oracle states the lower() equivalent, proving the collated
    * semantics match the classical rewrite.
    */
  val f_collation = OpQuery(
    "f_collation",
    """WITH mixed AS (
      |  SELECT doc_id, source,
      |         CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang_mixed
      |  FROM documents)
      |SELECT source,
      |       CAST(COUNT(DISTINCT lower(lang_mixed)) AS BIGINT) AS n_langs_ci,
      |       CAST(COUNT(DISTINCT lang_mixed) AS BIGINT) AS n_langs_cs,
      |       CAST(SUM(CASE WHEN lower(lang_mixed) = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_ci
      |FROM mixed
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_coll_docs")
    spark.sql(
      """WITH mixed AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang_mixed
        |  FROM graft_coll_docs)
        |SELECT source,
        |       CAST(COUNT(DISTINCT collate(lang_mixed, 'UTF8_LCASE')) AS BIGINT) AS n_langs_ci,
        |       CAST(COUNT(DISTINCT lang_mixed) AS BIGINT) AS n_langs_cs,
        |       CAST(SUM(CASE WHEN collate(lang_mixed, 'UTF8_LCASE') = 'EN' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_ci
        |FROM mixed
        |GROUP BY source
        |ORDER BY source""".stripMargin)
  }

  /** Map-typed column family: map_from_entries over the per-user
    * event-type counts, map_filter to the frequent entries, rendered
    * through sorted keys to a canonical string (maps themselves are
    * unordered — rendering is what makes the value hashable). The
    * oracle derives the same string relationally, proving the map
    * round-trip loses nothing.
    */
  val f_map_funcs = OpQuery(
    "f_map_funcs",
    """WITH counts AS (
      |  SELECT user_id, event_type, COUNT(*) AS cnt
      |  FROM events GROUP BY user_id, event_type)
      |SELECT user_id,
      |       coalesce(string_agg(CASE WHEN cnt >= 3 THEN concat(event_type, ':', CAST(cnt AS VARCHAR)) END,
      |                           ',' ORDER BY event_type), '') AS frequent,
      |       CAST(COUNT(*) AS BIGINT) AS n_types
      |FROM counts
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_map_events")
    spark.sql(
      """WITH counts AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt
        |  FROM graft_map_events GROUP BY user_id, event_type),
        |maps AS (
        |  SELECT user_id,
        |         map_from_entries(array_sort(collect_list(struct(event_type, cnt)))) AS m
        |  FROM counts GROUP BY user_id),
        |filtered AS (
        |  SELECT user_id, map_filter(m, (k, v) -> v >= 3) AS mf, size(m) AS n_types
        |  FROM maps)
        |SELECT user_id,
        |       array_join(transform(array_sort(map_keys(mf)),
        |                            k -> concat(k, ':', CAST(mf[k] AS STRING))), ',') AS frequent,
        |       CAST(n_types AS BIGINT) AS n_types
        |FROM filtered
        |ORDER BY user_id""".stripMargin)
  }

  /** Calendar-interval arithmetic long tail: add_months with end-of-
    * month clamping, last_day, quarter truncation, integer month diff.
    * All dates render as strings (engines disagree on temporal parquet
    * physical types, never on the formatted values).
    */
  val f_interval_arith = OpQuery(
    "f_interval_arith",
    """SELECT o_orderkey,
      |       strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m,
      |       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      |       strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
      |       CAST((2030 - year(o_orderdate)) * 12 - month(o_orderdate) + 6 AS BIGINT) AS months_to_horizon
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ia_orders")
    spark.sql(
      """SELECT o_orderkey,
        |       date_format(add_months(o_orderdate, 3), 'yyyy-MM-dd') AS plus_3m,
        |       date_format(last_day(CAST(o_orderdate AS DATE)), 'yyyy-MM-dd') AS month_end,
        |       date_format(date_trunc('quarter', o_orderdate), 'yyyy-MM-dd') AS quarter_start,
        |       CAST((2030 - year(o_orderdate)) * 12 - month(o_orderdate) + 6 AS BIGINT) AS months_to_horizon
        |FROM graft_ia_orders
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** XPath extraction over XML fragments (the xpath_* scalar family —
    * the semi-structured long tail beyond JSON/VARIANT). The oracle
    * derives every extracted value straight from the source columns, so
    * what's verified is that xpath round-trips the document structure.
    */
  val f_xpath = OpQuery(
    "f_xpath",
    """SELECT doc_id,
      |       lang AS xlang,
      |       CAST(n_chars AS BIGINT) AS xchars,
      |       concat(lang, '|', CAST(n_chars AS VARCHAR), '|', source) AS all_vals
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_xp_docs")
    spark.sql(
      """WITH xml AS (
        |  SELECT doc_id,
        |         concat('<doc><lang>', lang, '</lang><chars>', CAST(n_chars AS STRING),
        |                '</chars><src>', source, '</src></doc>') AS x
        |  FROM graft_xp_docs)
        |SELECT doc_id,
        |       xpath_string(x, '/doc/lang') AS xlang,
        |       CAST(xpath_long(x, '/doc/chars') AS BIGINT) AS xchars,
        |       array_join(xpath(x, '/doc/*/text()'), '|') AS all_vals
        |FROM xml
        |ORDER BY doc_id""".stripMargin)
  }

  /** Named-zone timestamp conversion with DST handling (ICU tzdata on
    * both engines). The oracle pins the zone interpretation explicitly
    * (UTC-in → zone-out) so it is independent of either engine's
    * session timezone.
    */
  val f_timezone = OpQuery(
    "f_timezone",
    """SELECT event_id,
      |       strftime(timezone('America/New_York', timezone('UTC', ts)), '%Y-%m-%d %H:%M') AS ny_time,
      |       strftime(timezone('Asia/Tokyo', timezone('UTC', ts)), '%Y-%m-%d %H:%M') AS tokyo_time
      |FROM events WHERE event_id % 10 = 0
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_tz_events")
    spark.sql(
      """SELECT event_id,
        |       date_format(from_utc_timestamp(ts, 'America/New_York'), 'yyyy-MM-dd HH:mm') AS ny_time,
        |       date_format(from_utc_timestamp(ts, 'Asia/Tokyo'), 'yyyy-MM-dd HH:mm') AS tokyo_time
        |FROM graft_tz_events WHERE event_id % 10 = 0
        |ORDER BY event_id""".stripMargin)
  }

  /** Outer generators: explode_outer keeps the parent row (as a null
    * element) when its array is empty — the LEFT JOIN of the generator
    * family. Users with no qualifying purchases must survive.
    */
  val f_generator_outer = OpQuery(
    "f_generator_outer",
    """WITH users AS (SELECT DISTINCT user_id FROM events),
      |bigbuys AS (
      |  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' AND value > 90)
      |SELECT u.user_id, b.cents
      |FROM users u LEFT JOIN bigbuys b ON u.user_id = b.user_id
      |ORDER BY u.user_id, b.cents NULLS FIRST""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_go_events")
    spark.sql(
      """WITH arrs AS (
        |  SELECT user_id,
        |         collect_list(CASE WHEN event_type = 'purchase' AND value > 90
        |                           THEN CAST(ROUND(value * 100) AS BIGINT) END) AS cents_arr
        |  FROM graft_go_events
        |  GROUP BY user_id)
        |SELECT user_id, explode_outer(cents_arr) AS cents
        |FROM arrs
        |ORDER BY user_id, cents NULLS FIRST""".stripMargin)
  }

  /** Crypto round-trips: AES-GCM encrypt/decrypt recovers the plaintext
    * (the IV is random, so only the ROUND TRIP is deterministic — which
    * is exactly the property worth pinning), plus cross-engine sha256
    * and base64 parity. The PII-at-rest toolbox.
    */
  val f_crypto_roundtrip = OpQuery(
    "f_crypto_roundtrip",
    """SELECT doc_id,
      |       lang AS roundtrip,
      |       sha256(lang) AS lang_sha,
      |       to_base64(encode(lang)) AS lang_b64
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_crypt_docs")
    spark.sql(
      """SELECT doc_id,
        |       CAST(aes_decrypt(
        |              aes_encrypt(encode(lang, 'UTF-8'), 'graft-16-byte-ky'),
        |              'graft-16-byte-ky') AS STRING) AS roundtrip,
        |       sha2(lang, 256) AS lang_sha,
        |       base64(encode(lang, 'UTF-8')) AS lang_b64
        |FROM graft_crypt_docs
        |ORDER BY doc_id""".stripMargin)
  }

  /** URL-slug normalization + split_part extraction — the id-mangling
    * pair every content pipeline carries. Map-only codegen regexes,
    * identical semantics both engines.
    */
  val f_slugify = OpQuery.sql("f_slugify", "documents")(
    """SELECT doc_id,
      |       trim(regexp_replace(lower(concat(source, ' ', lang, ' doc ', CAST(doc_id AS VARCHAR))),
      |                          '[^a-z0-9]+', '-', 'g'), '-') AS slug,
      |       split_part(source, 'c', 2) AS src_num
      |FROM documents
      |ORDER BY doc_id""".stripMargin,
    "trim(regexp_replace(" -> "trim(BOTH '-' FROM regexp_replace(",
    "'-', 'g'), '-')" -> "'-'))",
    "VARCHAR" -> "STRING")

  /** Format-string parity: thousands-separated numbers, zero-padded
    * ids, printf composition — the report-rendering long tail.
    */
  val f_format = OpQuery.sql("f_format", "orders")(
    """SELECT o_orderkey,
      |       format('{:,}', CAST(ROUND(o_totalprice) AS BIGINT)) AS pretty_total,
      |       lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded_id,
      |       printf('%s/%d', o_orderstatus, CAST(year(o_orderdate) AS INT)) AS status_year
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin,
    "format('{:,}', CAST(ROUND(o_totalprice) AS BIGINT))" ->
      "format_number(CAST(ROUND(o_totalprice) AS BIGINT), 0)",
    "VARCHAR" -> "STRING")

  /** Array-function long tail: flatten / slice / distinct / position /
    * remove over arrays built from row data, rendered sorted so the
    * values (not engine-internal orderings) are what's compared.
    */
  val f_array_extra = OpQuery(
    "f_array_extra",
    """WITH src AS (
      |  SELECT user_id, list_sort(list(DISTINCT event_type)) AS types,
      |         list_sort(list(DISTINCT CAST(value AS INT) // 25)) AS bands
      |  FROM (SELECT user_id, event_type, TRUNC(value) AS value FROM events WHERE value >= 0)
      |  GROUP BY user_id)
      |SELECT user_id,
      |       array_to_string(types, ',') AS type_list,
      |       array_to_string(bands, ',') AS band_list,
      |       CAST(len(types) AS INT) AS n_types,
      |       CAST(coalesce(list_position(types, 'purchase'), 0) AS INT) AS purchase_pos,
      |       array_to_string(list_filter(types, t -> t <> 'error'), ',') AS sans_error
      |FROM src
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_arr_events")
    spark.sql(
      """WITH src AS (
        |  SELECT user_id, array_sort(collect_set(event_type)) AS types,
        |         array_sort(collect_set(CAST(value AS INT) DIV 25)) AS bands
        |  FROM (SELECT user_id, event_type, value FROM graft_arr_events WHERE value >= 0)
        |  GROUP BY user_id)
        |SELECT user_id,
        |       array_join(types, ',') AS type_list,
        |       array_join(bands, ',') AS band_list,
        |       CAST(size(types) AS INT) AS n_types,
        |       CAST(array_position(types, 'purchase') AS INT) AS purchase_pos,
        |       array_join(filter(types, t -> t <> 'error'), ',') AS sans_error
        |FROM src
        |ORDER BY user_id""".stripMargin)
  }

  /** width_bucket binning: equal-width histogram assignment with
    * under/overflow buckets — the SQL-standard binning primitive. The
    * oracle replays the bucket arithmetic explicitly, so what's
    * verified is the function's edge behavior (clamps, exact
    * boundaries).
    */
  val f_width_bucket = OpQuery(
    "f_width_bucket",
    """SELECT CAST(b AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n
      |FROM (
      |  SELECT CASE WHEN o_totalprice < 0 THEN 0
      |              WHEN o_totalprice >= 400000 THEN 9
      |              ELSE CAST(TRUNC(o_totalprice / 50000) AS INT) + 1 END AS b
      |  FROM orders)
      |GROUP BY b
      |ORDER BY bucket""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_wb_orders")
    spark.sql(
      """SELECT CAST(b AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT width_bucket(o_totalprice, 0, 400000, 8) AS b FROM graft_wb_orders)
        |GROUP BY b
        |ORDER BY bucket""".stripMargin)
  }

  /** Inline regex flags: case-insensitive (?i) matching — both engines
    * honor inline flags, pinned on counts and extraction.
    */
  val f_regex_flags = OpQuery(
    "f_regex_flags",
    """SELECT source,
      |       CAST(SUM(CASE WHEN regexp_matches(source, '(?i)^SRC1') THEN 1 ELSE 0 END) AS BIGINT) AS ci_src1,
      |       CAST(SUM(len(regexp_extract_all(upper(source), '(?i)src'))) AS BIGINT) AS ci_hits
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_rx_docs")
    spark.sql(
      """SELECT source,
        |       CAST(SUM(CASE WHEN source RLIKE '(?i)^SRC1' THEN 1 ELSE 0 END) AS BIGINT) AS ci_src1,
        |       CAST(SUM(size(regexp_extract_all(upper(source), '(?i)src', 0))) AS BIGINT) AS ci_hits
        |FROM graft_rx_docs
        |GROUP BY source
        |ORDER BY source""".stripMargin)
  }

  /** greatest/least null semantics: both engines skip NULL arguments
    * (returning NULL only when every argument is) — the non-obvious
    * cross-engine agreement pinned explicitly.
    */
  val f_greatest_least = OpQuery.sql("f_greatest_least", "orders")(
    """SELECT o_orderkey,
      |       CAST(greatest(o_totalprice,
      |                     CASE WHEN o_orderstatus = 'F' THEN NULL ELSE 100000.0 END) AS DOUBLE) AS g,
      |       CAST(least(o_totalprice,
      |                  CASE WHEN o_orderstatus = 'F' THEN NULL ELSE 100000.0 END) AS DOUBLE) AS l
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin)

  /** Deterministic namespaced UUIDs (v3-style): md5 of namespace+key
    * formatted as 8-4-4-4-12 — the stable-id mint for entity resolution
    * (same input, same id, any engine, any day).
    */
  val f_uuid_deterministic = OpQuery(
    "f_uuid_deterministic",
    """WITH h AS (
      |  SELECT doc_id, md5(concat('graft-docs:', CAST(doc_id AS VARCHAR))) AS m
      |  FROM documents WHERE doc_id % 17 = 0)
      |SELECT doc_id,
      |       concat(substr(m, 1, 8), '-', substr(m, 9, 4), '-', substr(m, 13, 4), '-',
      |              substr(m, 17, 4), '-', substr(m, 21, 12)) AS stable_uuid
      |FROM h
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_uuid_docs")
    spark.sql(
      """WITH h AS (
        |  SELECT doc_id, md5(concat('graft-docs:', CAST(doc_id AS STRING))) AS m
        |  FROM graft_uuid_docs WHERE doc_id % 17 = 0)
        |SELECT doc_id,
        |       concat(substring(m, 1, 8), '-', substring(m, 9, 4), '-', substring(m, 13, 4), '-',
        |              substring(m, 17, 4), '-', substring(m, 21, 12)) AS stable_uuid
        |FROM h
        |ORDER BY doc_id""".stripMargin)
  }

  /** bit_count and xor-distance: population counts and bitwise hamming
    * distance between derived integers — the primitives under every
    * binary-fingerprint comparison (SimHash verification uses exactly
    * this shape natively).
    */
  val f_bit_count = OpQuery.sql("f_bit_count", "orders")(
    """SELECT o_orderkey,
      |       CAST(bit_count(o_orderkey) AS INT) AS pop,
      |       CAST(bit_count(xor(o_orderkey, o_custkey)) AS INT) AS hamming_to_cust
      |FROM orders
      |WHERE o_orderkey % 29 = 0
      |ORDER BY o_orderkey""".stripMargin,
    "xor(o_orderkey, o_custkey)" -> "o_orderkey ^ o_custkey")

  /** map_zip_with: two per-user maps (views and purchases by weekday)
    * merged with a lambda into conversion ratios — the keyed-merge that
    * would otherwise need an explode + full outer join + re-collect.
    * Rendered through sorted keys as always.
    */
  val f_map_zip_with = OpQuery(
    "f_map_zip_with",
    """WITH counts AS (
      |  SELECT user_id, dayofweek(CAST(ts AS DATE)) AS dow,
      |         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
      |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS buys
      |  FROM events GROUP BY user_id, dayofweek(CAST(ts AS DATE)))
      |SELECT user_id,
      |       string_agg(concat(CAST(dow AS VARCHAR), ':',
      |                         CAST(buys AS VARCHAR), '/', CAST(views AS VARCHAR)),
      |                  ',' ORDER BY dow) AS conv_by_dow
      |FROM counts
      |WHERE views > 0 OR buys > 0
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_mzw_events")
    spark.sql(
      """WITH counts AS (
        |  SELECT user_id, dayofweek(CAST(ts AS DATE)) - 1 AS dow,
        |         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
        |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS buys
        |  FROM graft_mzw_events GROUP BY user_id, dayofweek(CAST(ts AS DATE)) - 1),
        |maps AS (
        |  SELECT user_id,
        |         map_from_entries(array_sort(collect_list(struct(dow, views)))) AS vm,
        |         map_from_entries(array_sort(collect_list(struct(dow, buys)))) AS bm
        |  FROM counts WHERE views > 0 OR buys > 0 GROUP BY user_id),
        |zipped AS (
        |  SELECT user_id,
        |         map_zip_with(vm, bm,
        |           (k, v, b) -> concat(CAST(coalesce(b, 0) AS STRING), '/',
        |                               CAST(coalesce(v, 0) AS STRING))) AS zm
        |  FROM maps)
        |SELECT user_id,
        |       array_join(transform(array_sort(map_keys(zm)),
        |                            k -> concat(CAST(k AS STRING), ':', zm[k])), ',') AS conv_by_dow
        |FROM zipped
        |ORDER BY user_id""".stripMargin)
  }

  /** url_encode / url_decode round trip on constructed strings with
    * spaces and reserved characters; the oracle states the expected
    * encoding explicitly (space → %2B/%20 families are where engines
    * usually disagree — pinned here as application/x-www-form-urlencoded,
    * Spark's contract).
    */
  val f_url_codec = OpQuery(
    "f_url_codec",
    """SELECT doc_id,
      |       concat(lang, '+', replace(source, 'src', 'src%26')) AS encoded,
      |       concat(lang, ' ', replace(source, 'src', 'src&')) AS roundtrip
      |FROM documents
      |WHERE doc_id % 31 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_urlc2_docs")
    spark.sql(
      """WITH raw AS (
        |  SELECT doc_id, concat(lang, ' ', replace(source, 'src', 'src&')) AS s
        |  FROM graft_urlc2_docs WHERE doc_id % 31 = 0)
        |SELECT doc_id,
        |       url_encode(s) AS encoded,
        |       url_decode(url_encode(s)) AS roundtrip
        |FROM raw
        |ORDER BY doc_id""".stripMargin)
  }

  /** JSON array navigation: element paths ($[i]) and array length over
    * constructed JSON arrays — the list-shaped JSON the props-style
    * object gates don't touch. The oracle derives every value from the
    * construction inputs.
    */
  val f_json_array = OpQuery(
    "f_json_array",
    """SELECT doc_id,
      |       CAST(3 AS INT) AS arr_len,
      |       lang AS first_elem,
      |       CAST(doc_id % 100 AS BIGINT) AS second_elem
      |FROM documents
      |WHERE doc_id % 37 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_ja_docs")
    spark.sql(
      """WITH arrs AS (
        |  SELECT doc_id,
        |         concat('["', lang, '", ', CAST(doc_id % 100 AS STRING), ', true]') AS j
        |  FROM graft_ja_docs WHERE doc_id % 37 = 0)
        |SELECT doc_id,
        |       CAST(json_array_length(j) AS INT) AS arr_len,
        |       get_json_object(j, '$[0]') AS first_elem,
        |       CAST(get_json_object(j, '$[1]') AS BIGINT) AS second_elem
        |FROM arrs
        |ORDER BY doc_id""".stripMargin)
  }

  /** Luhn checksum validation over synthetic 12-digit account numbers
    * derived from order keys. Spark runs its codegen'd `luhn_check`
    * builtin; the oracle re-derives Luhn from first principles
    * (digit-doubling from the right) — so the gate pins the builtin's
    * semantics, not just its availability.
    */
  val f_luhn = OpQuery(
    "f_luhn",
    """WITH t AS (
      |  SELECT o_orderkey, lpad(CAST(o_orderkey * 7919 + 11 AS VARCHAR), 12, '0') AS acct
      |  FROM orders WHERE o_orderkey < 1000)
      |SELECT o_orderkey, acct,
      |       (list_sum(list_transform(range(1, 13), i ->
      |          CASE WHEN i % 2 = 0 THEN
      |            CASE WHEN CAST(substr(acct, 13 - i, 1) AS INT) * 2 > 9
      |                 THEN CAST(substr(acct, 13 - i, 1) AS INT) * 2 - 9
      |                 ELSE CAST(substr(acct, 13 - i, 1) AS INT) * 2 END
      |          ELSE CAST(substr(acct, 13 - i, 1) AS INT) END)) % 10 = 0) AS luhn_ok
      |FROM t
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"),
        lpad((col("o_orderkey") * 7919 + 11).cast("string"), 12, "0").as("acct"))
      .withColumn("luhn_ok", expr("luhn_check(acct)"))
      .orderBy("o_orderkey")
  }

  /** Radix conversions: binary / octal / hex renderings of an integer
    * column. Spark's `conv` (and `hex`) against DuckDB's format
    * specifiers — both sides uppercase so the case convention is
    * pinned explicitly rather than inherited from either engine.
    */
  val f_base_convert = OpQuery(
    "f_base_convert",
    """SELECT o_orderkey,
      |       format('{:b}', o_orderkey) AS bin,
      |       format('{:o}', o_orderkey) AS oct,
      |       upper(format('{:x}', o_orderkey)) AS hex
      |FROM orders WHERE o_orderkey < 500
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        conv(col("o_orderkey").cast("string"), 10, 2).as("bin"),
        conv(col("o_orderkey").cast("string"), 10, 8).as("oct"),
        upper(conv(col("o_orderkey").cast("string"), 10, 16)).as("hex"))
      .orderBy("o_orderkey")
  }

  /** IPv4 codec: synthesize an address per user, render it dotted-quad,
    * parse it back to a 32-bit integer, and test CIDR membership
    * (10.1.0.0/16) with pure shift/mask arithmetic — the log-pipeline
    * enrichment that must behave bit-identically everywhere. The
    * round-trip (int → string → int) is asserted by construction: both
    * columns come from the parsed string.
    */
  val f_ipv4 = OpQuery(
    "f_ipv4",
    """WITH ips AS (
      |  SELECT DISTINCT user_id,
      |         '10.' || CAST((user_id >> 8) & 255 AS VARCHAR) || '.' ||
      |         CAST((user_id >> 4) & 255 AS VARCHAR) || '.' ||
      |         CAST(user_id & 255 AS VARCHAR) AS ip
      |  FROM events WHERE user_id < 300),
      |parsed AS (
      |  SELECT user_id, ip,
      |         CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216 +
      |         CAST(split_part(ip, '.', 2) AS BIGINT) * 65536 +
      |         CAST(split_part(ip, '.', 3) AS BIGINT) * 256 +
      |         CAST(split_part(ip, '.', 4) AS BIGINT) AS ip_int
      |  FROM ips)
      |SELECT user_id, ip, ip_int,
      |       ((ip_int >> 16) = (10 * 65536 + 1)) AS in_10_1_16
      |FROM parsed
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_ip_events")
    spark.sql(
      """WITH ips AS (
        |  SELECT DISTINCT user_id,
        |         concat('10.', CAST(shiftright(user_id, 8) & 255 AS STRING), '.',
        |                CAST(shiftright(user_id, 4) & 255 AS STRING), '.',
        |                CAST(user_id & 255 AS STRING)) AS ip
        |  FROM graft_ip_events WHERE user_id < 300),
        |parsed AS (
        |  SELECT user_id, ip,
        |         CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216 +
        |         CAST(split_part(ip, '.', 2) AS BIGINT) * 65536 +
        |         CAST(split_part(ip, '.', 3) AS BIGINT) * 256 +
        |         CAST(split_part(ip, '.', 4) AS BIGINT) AS ip_int
        |  FROM ips)
        |SELECT user_id, ip, ip_int,
        |       (shiftright(ip_int, 16) = (10 * 65536 + 1)) AS in_10_1_16
        |FROM parsed
        |ORDER BY user_id""".stripMargin)
  }

  /** Haversine great-circle distance from each supplier's synthetic
    * coordinates to a fixed depot — row-wise trig with the result
    * rounded to whole meters' precision (4 dp km), far above any libm
    * ulp difference. No shuffle at all: scan → project → sort.
    */
  val f_haversine = OpQuery(
    "f_haversine",
    """WITH pts AS (
      |  SELECT s_suppkey,
      |         CAST(s_suppkey % 170 AS DOUBLE) - 85 + 0.25 AS lat,
      |         CAST((s_suppkey * 7) % 360 AS DOUBLE) - 180 + 0.5 AS lon
      |  FROM supplier)
      |SELECT s_suppkey, lat, lon,
      |       CAST(ROUND(2 * 6371.0 * asin(sqrt(
      |         POW(sin(radians(lat - 48.8566) / 2), 2) +
      |         cos(radians(48.8566)) * cos(radians(lat)) *
      |         POW(sin(radians(lon - 2.3522) / 2), 2))), 4) AS DOUBLE) AS km_to_depot
      |FROM pts
      |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"),
        ((col("s_suppkey") % 170).cast("double") - 85 + 0.25).as("lat"),
        (((col("s_suppkey") * 7) % 360).cast("double") - 180 + 0.5).as("lon"))
      .select(col("s_suppkey"), col("lat"), col("lon"),
        round(lit(2) * 6371.0 * asin(sqrt(
          pow(sin(radians(col("lat") - 48.8566) / 2), 2) +
            cos(radians(lit(48.8566))) * cos(radians(col("lat"))) *
              pow(sin(radians(col("lon") - 2.3522) / 2), 2))), 4)
          .cast("double").as("km_to_depot"))
      .orderBy("s_suppkey")
  }

  /** Morton code: interleave the low 8 bits of two coordinates into a
    * 16-bit Z-order key — the locality-preserving linearization under
    * data-skipping layouts (the scalar core of the engine's OPTIMIZE
    * Z-order). Pure shift/mask arithmetic folded over a sequence, so
    * both engines compute identical integers bit for bit.
    */
  val f_morton_code = OpQuery(
    "f_morton_code",
    """WITH pts AS (
      |  SELECT s_suppkey, s_suppkey % 256 AS x, (s_suppkey * 37) % 256 AS y
      |  FROM supplier)
      |SELECT s_suppkey, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
      |       CAST(list_sum(list_transform(range(0, 8), i ->
      |         (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
      |         AS BIGINT) AS morton
      |FROM pts
      |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "supplier").createOrReplaceTempView("graft_morton_supp")
    spark.sql(
      """WITH pts AS (
        |  SELECT s_suppkey, s_suppkey % 256 AS x, (s_suppkey * 37) % 256 AS y
        |  FROM graft_morton_supp)
        |SELECT s_suppkey, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
        |       CAST(aggregate(sequence(0, 7), 0L, (acc, i) ->
        |         acc + (shiftleft(shiftright(x, i) & 1, 2 * i)) +
        |               (shiftleft(shiftright(y, i) & 1, 2 * i + 1)))
        |         AS BIGINT) AS morton
        |FROM pts
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** HTML stripping for web-corpus cleaning: tags removed with one
    * regex pass, the five standard entities decoded with a replace
    * chain — all row-local, codegen-friendly string work. The input
    * wraps each document preview in markup with entities so the gate
    * exercises nesting, attributes, and decode order (&amp; last, so
    * double-encoded text stays correct).
    */
  val f_html_strip = OpQuery(
    "f_html_strip",
    """WITH pages AS (
      |  SELECT doc_id,
      |         '<div class="doc"><p>' || substr(text, 1, 50) ||
      |         '</p> &amp; <b>more</b> &lt;raw&gt; &quot;q&quot; &#39;s&#39;</div>' AS html
      |  FROM documents WHERE doc_id < 200)
      |SELECT doc_id,
      |       replace(replace(replace(replace(replace(
      |         regexp_replace(html, '<[^>]*>', '', 'g'),
      |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&')
      |         AS clean_text
      |FROM pages
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_html_docs")
    spark.sql(
      """WITH pages AS (
        |  SELECT doc_id,
        |         concat('<div class="doc"><p>', substring(text, 1, 50),
        |           '</p> &amp; <b>more</b> &lt;raw&gt; &quot;q&quot; &#39;s&#39;</div>') AS html
        |  FROM graft_html_docs WHERE doc_id < 200)
        |SELECT doc_id,
        |       replace(replace(replace(replace(replace(
        |         regexp_replace(html, '<[^>]*>', ''),
        |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', "'"), '&amp;', '&')
        |         AS clean_text
        |FROM pages
        |ORDER BY doc_id""".stripMargin)
  }

  /** PII masking: Spark's codegen'd `mask()` builtin (upper→X, lower→x,
    * digit→n, other kept) pinned against a regex-chain oracle — proving
    * the builtin's exact character-class semantics, plus a custom-char
    * variant. Row-local, zero shuffle.
    */
  val f_mask_builtin = OpQuery(
    "f_mask_builtin",
    """SELECT c_custkey,
      |       regexp_replace(regexp_replace(regexp_replace(c_name,
      |         '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked,
      |       regexp_replace(regexp_replace(regexp_replace(c_name,
      |         '[A-Z]', '*', 'g'), '[a-z]', '*', 'g'), '[0-9]', '#', 'g') AS masked_custom
      |FROM customer WHERE c_custkey < 200
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "customer").createOrReplaceTempView("graft_mask_cust")
    spark.sql(
      """SELECT c_custkey,
        |       mask(c_name) AS masked,
        |       mask(c_name, '*', '*', '#') AS masked_custom
        |FROM graft_mask_cust WHERE c_custkey < 200
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Business-day arithmetic: each order's promise date is its order
    * date plus 10 business days, computed entirely in epoch-day
    * integers (weekday = (day+3) mod 7, weekend starts snapped forward,
    * whole weeks + remainder with a weekend hop) — no calendar UDF, no
    * engine weekday convention involved, identical on every engine and
    * timezone.
    */
  val f_business_days = OpQuery(
    "f_business_days",
    """WITH base AS (
      |  SELECT o_orderkey,
      |         CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS e
      |  FROM orders WHERE o_orderkey < 400),
      |snapped AS (
      |  SELECT o_orderkey, e, (e + 3) % 7 AS dow,
      |         e + CASE (e + 3) % 7 WHEN 5 THEN 2 WHEN 6 THEN 1 ELSE 0 END AS start_e
      |  FROM base),
      |added AS (
      |  SELECT o_orderkey, e, start_e,
      |         start_e + 14 AS end_e
      |  FROM snapped)
      |SELECT o_orderkey,
      |       strftime(DATE '1970-01-01' + CAST(e AS INT), '%Y-%m-%d') AS order_day,
      |       strftime(DATE '1970-01-01' + CAST(end_e AS INT), '%Y-%m-%d') AS promise_day,
      |       CAST((end_e + 3) % 7 AS INT) AS promise_dow
      |FROM added
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_bd_orders")
    spark.sql(
      """WITH base AS (
        |  SELECT o_orderkey,
        |         CAST(FLOOR(unix_timestamp(o_orderdate) / 86400) AS BIGINT) AS e
        |  FROM graft_bd_orders WHERE o_orderkey < 400),
        |snapped AS (
        |  SELECT o_orderkey, e, (e + 3) % 7 AS dow,
        |         e + CASE (e + 3) % 7 WHEN 5 THEN 2 WHEN 6 THEN 1 ELSE 0 END AS start_e
        |  FROM base),
        |added AS (
        |  SELECT o_orderkey, e, start_e,
        |         start_e + 14 AS end_e
        |  FROM snapped)
        |SELECT o_orderkey,
        |       date_format(date_add(DATE '1970-01-01', CAST(e AS INT)), 'yyyy-MM-dd')
        |         AS order_day,
        |       date_format(date_add(DATE '1970-01-01', CAST(end_e AS INT)), 'yyyy-MM-dd')
        |         AS promise_day,
        |       CAST((end_e + 3) % 7 AS INT) AS promise_dow
        |FROM added
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Homoglyph normalization: the OCR/spam canon that folds 0↔O, 1↔l,
    * 5↔S, 8↔B before fingerprinting — Spark's codegen'd `translate`
    * builtin pinned against a replace-chain oracle, then the dedup
    * payoff: how many extra fingerprint collisions the canon creates.
    */
  val f_translate_homoglyphs = OpQuery(
    "f_translate_homoglyphs",
    """WITH noisy AS (
      |  SELECT doc_id,
      |         replace(replace(replace(substr(text, 1, 40), 'o', '0'), 'l', '1'),
      |                 's', '5') AS raw
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, substr(text, 1, 40) FROM documents WHERE doc_id % 2 = 1),
      |canon AS (
      |  SELECT doc_id, raw,
      |         replace(replace(replace(replace(replace(replace(
      |           lower(raw), '0', 'o'), '1', 'l'), '5', 's'), '8', 'b'),
      |           '|', 'l'), '@', 'a') AS canonical
      |  FROM noisy)
      |SELECT doc_id, raw, canonical,
      |       md5(canonical) AS canon_fp
      |FROM canon
      |WHERE doc_id < 200
      |ORDER BY doc_id, raw""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_hg_docs")
    spark.sql(
      """WITH noisy AS (
        |  SELECT doc_id,
        |         translate(substring(text, 1, 40), 'ols', '015') AS raw
        |  FROM graft_hg_docs WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, substring(text, 1, 40) FROM graft_hg_docs WHERE doc_id % 2 = 1),
        |canon AS (
        |  SELECT doc_id, raw,
        |         translate(lower(raw), '0158|@', 'olsbla') AS canonical
        |  FROM noisy)
        |SELECT doc_id, raw, canonical,
        |       md5(canonical) AS canon_fp
        |FROM canon
        |WHERE doc_id < 200
        |ORDER BY doc_id, raw""".stripMargin)
  }

  /** Human-readable byte formatting: a pinned CASE ladder (B / KiB /
    * MiB / GiB with one decimal, half-up on an exact integer-scaled
    * value) over synthetic object sizes — the display helper every
    * storage report needs, kept engine-exact by doing the rounding in
    * integer tenths.
    */
  val f_format_bytes = OpQuery(
    "f_format_bytes",
    """WITH sizes AS (
      |  SELECT o_orderkey, o_orderkey * 7919 + 123 AS bytes
      |  FROM orders WHERE o_orderkey < 300),
      |scaled AS (
      |  SELECT o_orderkey, bytes,
      |         CASE WHEN bytes >= 1073741824 THEN (bytes * 10) // 1073741824
      |              WHEN bytes >= 1048576 THEN (bytes * 10) // 1048576
      |              WHEN bytes >= 1024 THEN (bytes * 10) // 1024
      |              ELSE bytes * 10 END AS tenths,
      |         CASE WHEN bytes >= 1073741824 THEN 'GiB'
      |              WHEN bytes >= 1048576 THEN 'MiB'
      |              WHEN bytes >= 1024 THEN 'KiB'
      |              ELSE 'B' END AS unit
      |  FROM sizes)
      |SELECT o_orderkey, CAST(bytes AS BIGINT) AS bytes,
      |       CAST(tenths // 10 AS VARCHAR) || '.' || CAST(tenths % 10 AS VARCHAR)
      |         || ' ' || unit AS pretty
      |FROM scaled
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_fb_orders")
    spark.sql(
      """WITH sizes AS (
        |  SELECT o_orderkey, o_orderkey * 7919 + 123 AS bytes
        |  FROM graft_fb_orders WHERE o_orderkey < 300),
        |scaled AS (
        |  SELECT o_orderkey, bytes,
        |         CASE WHEN bytes >= 1073741824 THEN (bytes * 10) DIV 1073741824
        |              WHEN bytes >= 1048576 THEN (bytes * 10) DIV 1048576
        |              WHEN bytes >= 1024 THEN (bytes * 10) DIV 1024
        |              ELSE bytes * 10 END AS tenths,
        |         CASE WHEN bytes >= 1073741824 THEN 'GiB'
        |              WHEN bytes >= 1048576 THEN 'MiB'
        |              WHEN bytes >= 1024 THEN 'KiB'
        |              ELSE 'B' END AS unit
        |  FROM sizes)
        |SELECT o_orderkey, CAST(bytes AS BIGINT) AS bytes,
        |       concat(CAST(tenths DIV 10 AS STRING), '.', CAST(tenths % 10 AS STRING),
        |              ' ', unit) AS pretty
        |FROM scaled
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Snowflake-style distributed id codec: compose 64-bit ids as
    * (millis << 22) | (worker << 12) | seq from event fields, then
    * decompose them back with shifts and masks — the id scheme every
    * distributed writer uses, proven bit-exact by reconstructing the
    * source fields.
    */
  val f_snowflake_id = OpQuery(
    "f_snowflake_id",
    """WITH src AS (
      |  SELECT event_id,
      |         TRUNC(epoch(ts))::BIGINT * 1000 AS millis,
      |         user_id % 1024 AS worker,
      |         event_id % 4096 AS seq
      |  FROM events WHERE event_id < 500),
      |ids AS (
      |  SELECT event_id, millis, worker, seq,
      |         (millis << 22) | (worker << 12) | seq AS snow
      |  FROM src)
      |SELECT event_id, snow,
      |       (snow >> 22) AS millis_out,
      |       (snow >> 12) & 1023 AS worker_out,
      |       snow & 4095 AS seq_out,
      |       ((snow >> 22) = millis AND (snow >> 12) & 1023 = worker
      |        AND snow & 4095 = seq) AS roundtrip_ok
      |FROM ids
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_sf_events")
    spark.sql(
      """WITH src AS (
        |  SELECT event_id,
        |         unix_timestamp(ts) * 1000 AS millis,
        |         user_id % 1024 AS worker,
        |         event_id % 4096 AS seq
        |  FROM graft_sf_events WHERE event_id < 500),
        |ids AS (
        |  SELECT event_id, millis, worker, seq,
        |         shiftleft(millis, 22) | shiftleft(worker, 12) | seq AS snow
        |  FROM src)
        |SELECT event_id, snow,
        |       shiftright(snow, 22) AS millis_out,
        |       shiftright(snow, 12) & 1023 AS worker_out,
        |       snow & 4095 AS seq_out,
        |       (shiftright(snow, 22) = millis AND (shiftright(snow, 12) & 1023) = worker
        |        AND (snow & 4095) = seq) AS roundtrip_ok
        |FROM ids
        |ORDER BY event_id""".stripMargin)
  }

  /** Web-Mercator tile addressing at zoom 6: the (z/x/y) key that
    * shards geo workloads. The mercator y uses ln/tan, so the value is
    * quantized to 9 decimals BEFORE the floor — the engine-exactness
    * guard for the one boundary-sensitive step — and x stays pure
    * arithmetic. Same synthetic supplier coordinates as the haversine
    * gate.
    */
  val f_geo_tile = OpQuery.sql("f_geo_tile", "supplier")(
    """WITH pts AS (
      |  SELECT s_suppkey,
      |         CAST(s_suppkey % 160 AS DOUBLE) - 80 + 0.25 AS lat,
      |         CAST((s_suppkey * 7) % 360 AS DOUBLE) - 180 + 0.5 AS lon
      |  FROM supplier)
      |SELECT s_suppkey, lat, lon,
      |       CAST(FLOOR(ROUND((lon + 180) / 360 * 64, 9)) AS INT) AS tile_x,
      |       CAST(FLOOR(ROUND((1 - ln(tan(radians(lat)) + 1 / cos(radians(lat)))
      |                         / pi()) / 2 * 64, 9)) AS INT) AS tile_y
      |FROM pts
      |ORDER BY s_suppkey""".stripMargin)

  /** Semantic-version ordering: synthetic x.y.z versions parsed into a
    * sortable integer key, then the latest version per major line via
    * one window — the registry query every dependency resolver runs.
    * split_part + arithmetic only; no collation subtleties.
    */
  val f_semver_compare = OpQuery(
    "f_semver_compare",
    """WITH vers AS (
      |  SELECT p_partkey,
      |         CAST(p_partkey % 4 AS VARCHAR) || '.' ||
      |         CAST((p_partkey * 3) % 12 AS VARCHAR) || '.' ||
      |         CAST((p_partkey * 7) % 30 AS VARCHAR) AS ver
      |  FROM part WHERE p_partkey < 400),
      |keyed AS (
      |  SELECT p_partkey, ver,
      |         CAST(split_part(ver, '.', 1) AS BIGINT) * 1000000 +
      |         CAST(split_part(ver, '.', 2) AS BIGINT) * 1000 +
      |         CAST(split_part(ver, '.', 3) AS BIGINT) AS vkey,
      |         CAST(split_part(ver, '.', 1) AS INT) AS major
      |  FROM vers),
      |latest AS (
      |  SELECT major, ver, vkey, p_partkey,
      |         ROW_NUMBER() OVER (PARTITION BY major
      |           ORDER BY vkey DESC, p_partkey) AS rk
      |  FROM keyed)
      |SELECT major, ver AS latest_version, CAST(vkey AS BIGINT) AS sort_key,
      |       p_partkey AS exemplar
      |FROM latest WHERE rk = 1
      |ORDER BY major""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "part").createOrReplaceTempView("graft_sv_part")
    spark.sql(
      """WITH vers AS (
        |  SELECT p_partkey,
        |         concat(CAST(p_partkey % 4 AS STRING), '.',
        |                CAST((p_partkey * 3) % 12 AS STRING), '.',
        |                CAST((p_partkey * 7) % 30 AS STRING)) AS ver
        |  FROM graft_sv_part WHERE p_partkey < 400),
        |keyed AS (
        |  SELECT p_partkey, ver,
        |         CAST(split_part(ver, '.', 1) AS BIGINT) * 1000000 +
        |         CAST(split_part(ver, '.', 2) AS BIGINT) * 1000 +
        |         CAST(split_part(ver, '.', 3) AS BIGINT) AS vkey,
        |         CAST(split_part(ver, '.', 1) AS INT) AS major
        |  FROM vers),
        |latest AS (
        |  SELECT major, ver, vkey, p_partkey,
        |         ROW_NUMBER() OVER (PARTITION BY major
        |           ORDER BY vkey DESC, p_partkey) AS rk
        |  FROM keyed)
        |SELECT major, ver AS latest_version, CAST(vkey AS BIGINT) AS sort_key,
        |       p_partkey AS exemplar
        |FROM latest WHERE rk = 1
        |ORDER BY major""".stripMargin)
  }

  /** Excel serial-date codec: days since 1899-12-30 (the modern
    * convention ignoring Lotus's phantom 1900-02-29) and the exact
    * round trip back, as strings — spreadsheet interchange without a
    * UDF, pure datediff/date_add arithmetic at the scan.
    */
  val f_excel_date = OpQuery(
    "f_excel_date",
    """SELECT o_orderkey,
      |       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
      |       CAST(datediff('day', DATE '1899-12-30',
      |            CAST(o_orderdate AS DATE)) AS INT) AS excel_serial,
      |       strftime(DATE '1899-12-30' +
      |            CAST(datediff('day', DATE '1899-12-30',
      |                 CAST(o_orderdate AS DATE)) AS INT), '%Y-%m-%d')
      |         AS roundtrip,
      |       DATE '1899-12-30' +
      |            CAST(datediff('day', DATE '1899-12-30',
      |                 CAST(o_orderdate AS DATE)) AS INT)
      |         = CAST(o_orderdate AS DATE) AS ok
      |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin) {
    (spark, dir) =>
    val epoch = to_date(lit("1899-12-30"))
    val d = to_date(col("o_orderdate"))
    val serial = datediff(d, epoch).cast("int")
    t(spark, dir, "orders").filter(col("o_orderkey") < 200)
      .select(col("o_orderkey"),
        date_format(d, "yyyy-MM-dd").as("order_date"),
        serial.as("excel_serial"),
        date_format(date_add(epoch, serial), "yyyy-MM-dd").as("roundtrip"),
        (date_add(epoch, serial) === d).as("ok"))
      .orderBy("o_orderkey")
  }

  /** EAN-13 check digit: a synthetic 12-digit article number per part,
    * the weighted digit sum (odd×1, even×3), and the appended check
    * digit — pure integer div/mod digit extraction, no UDF, validated by
    * recomputation in the oracle. Identical SQL modulo the `//` vs `DIV`
    * integer-division spelling.
    */
  val f_checkdigit = OpQuery(
    "f_checkdigit",
    """WITH base AS (
      |  SELECT p_partkey,
      |         (p_partkey * 982451653) % 1000000000000 AS n
      |  FROM part WHERE p_partkey <= 300
      |), digits AS (
      |  SELECT p_partkey, n,
      |         (n // 100000000000) % 10 AS d1, (n // 10000000000) % 10 AS d2,
      |         (n // 1000000000) % 10 AS d3, (n // 100000000) % 10 AS d4,
      |         (n // 10000000) % 10 AS d5, (n // 1000000) % 10 AS d6,
      |         (n // 100000) % 10 AS d7, (n // 10000) % 10 AS d8,
      |         (n // 1000) % 10 AS d9, (n // 100) % 10 AS d10,
      |         (n // 10) % 10 AS d11, n % 10 AS d12
      |  FROM base
      |), s AS (
      |  SELECT p_partkey, n,
      |         d1 + d3 + d5 + d7 + d9 + d11 +
      |         3 * (d2 + d4 + d6 + d8 + d10 + d12) AS wsum
      |  FROM digits
      |)
      |SELECT p_partkey,
      |       lpad(CAST(n AS VARCHAR), 12, '0') ||
      |         CAST((10 - wsum % 10) % 10 AS VARCHAR) AS ean13,
      |       CAST((10 - wsum % 10) % 10 AS INT) AS check_digit,
      |       ((wsum + (10 - wsum % 10) % 10) % 10 = 0) AS valid
      |FROM s ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "part").filter(col("p_partkey") <= 300)
      .createOrReplaceTempView("graft_ean_part")
    spark.sql(
      """WITH base AS (
        |  SELECT p_partkey,
        |         (p_partkey * 982451653) % 1000000000000 AS n
        |  FROM graft_ean_part
        |), digits AS (
        |  SELECT p_partkey, n,
        |         (n DIV 100000000000) % 10 AS d1, (n DIV 10000000000) % 10 AS d2,
        |         (n DIV 1000000000) % 10 AS d3, (n DIV 100000000) % 10 AS d4,
        |         (n DIV 10000000) % 10 AS d5, (n DIV 1000000) % 10 AS d6,
        |         (n DIV 100000) % 10 AS d7, (n DIV 10000) % 10 AS d8,
        |         (n DIV 1000) % 10 AS d9, (n DIV 100) % 10 AS d10,
        |         (n DIV 10) % 10 AS d11, n % 10 AS d12
        |  FROM base
        |), s AS (
        |  SELECT p_partkey, n,
        |         d1 + d3 + d5 + d7 + d9 + d11 +
        |         3 * (d2 + d4 + d6 + d8 + d10 + d12) AS wsum
        |  FROM digits
        |)
        |SELECT p_partkey,
        |       lpad(CAST(n AS STRING), 12, '0') ||
        |         CAST((10 - wsum % 10) % 10 AS STRING) AS ean13,
        |       CAST((10 - wsum % 10) % 10 AS INT) AS check_digit,
        |       ((wsum + (10 - wsum % 10) % 10) % 10 = 0) AS valid
        |FROM s ORDER BY p_partkey""".stripMargin)
  }

  /** ULID-style Crockford base32 codec: a 50-bit id encoded to 10
    * symbols by pure div/mod digit extraction (no UDF, no codegen
    * break) and decoded back by positional lookup — the gate pins the
    * exact round trip. PI()-free integer arithmetic, identical in both
    * engines modulo the `//` vs `DIV` spelling.
    */
  val f_ulid = OpQuery(
    "f_ulid",
    """WITH base AS (
      |  SELECT event_id,
      |         (event_id * 2654435761) % 1125899906842624 AS n
      |  FROM events WHERE event_id < 150
      |), enc AS (
      |  SELECT event_id, n,
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST((n // 35184372088832) % 32 AS INT) + 1, 1) ||
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST((n // 1099511627776) % 32 AS INT) + 1, 1) ||
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST((n // 34359738368) % 32 AS INT) + 1, 1) ||
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST((n // 1073741824) % 32 AS INT) + 1, 1) ||
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST((n // 33554432) % 32 AS INT) + 1, 1) ||
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST((n // 1048576) % 32 AS INT) + 1, 1) ||
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST((n // 32768) % 32 AS INT) + 1, 1) ||
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST((n // 1024) % 32 AS INT) + 1, 1) ||
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST((n // 32) % 32 AS INT) + 1, 1) ||
      |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
      |      CAST(n % 32 AS INT) + 1, 1) AS ulid
      |  FROM base
      |), dec AS (
      |  SELECT event_id, n, ulid,
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 1, 1)) - 1 AS BIGINT)
      |      * 35184372088832 +
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 2, 1)) - 1 AS BIGINT)
      |      * 1099511627776 +
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 3, 1)) - 1 AS BIGINT)
      |      * 34359738368 +
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 4, 1)) - 1 AS BIGINT)
      |      * 1073741824 +
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 5, 1)) - 1 AS BIGINT)
      |      * 33554432 +
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 6, 1)) - 1 AS BIGINT)
      |      * 1048576 +
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 7, 1)) - 1 AS BIGINT)
      |      * 32768 +
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 8, 1)) - 1 AS BIGINT)
      |      * 1024 +
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 9, 1)) - 1 AS BIGINT)
      |      * 32 +
      |    CAST(strpos('0123456789ABCDEFGHJKMNPQRSTVWXYZ', substr(ulid, 10, 1)) - 1 AS BIGINT)
      |      AS decoded
      |  FROM enc
      |)
      |SELECT event_id, CAST(n AS BIGINT) AS n, ulid,
      |       CAST(decoded AS BIGINT) AS decoded, decoded = n AS ok
      |FROM dec ORDER BY event_id""".stripMargin) { (spark, dir) =>
    t(spark, dir, "events").filter(col("event_id") < 150)
      .createOrReplaceTempView("graft_ulid_events")
    val alpha = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
    val pows = Seq(35184372088832L, 1099511627776L, 34359738368L,
      1073741824L, 33554432L, 1048576L, 32768L, 1024L, 32L, 1L)
    val encExpr = pows.map(p =>
      s"substr('$alpha', CAST((n DIV $p) % 32 AS INT) + 1, 1)")
      .mkString(" || ")
    val decExpr = pows.zipWithIndex.map { case (p, i) =>
      s"CAST(instr('$alpha', substr(ulid, ${i + 1}, 1)) - 1 AS BIGINT) * ${p}L"
    }.mkString(" + ")
    spark.sql(
      s"""WITH base AS (
         |  SELECT event_id,
         |         (event_id * 2654435761) % 1125899906842624 AS n
         |  FROM graft_ulid_events
         |), enc AS (
         |  SELECT event_id, n, $encExpr AS ulid FROM base
         |), dec AS (
         |  SELECT event_id, n, ulid, $decExpr AS decoded FROM enc
         |)
         |SELECT event_id, CAST(n AS BIGINT) AS n, ulid,
         |       CAST(decoded AS BIGINT) AS decoded, decoded = n AS ok
         |FROM dec ORDER BY event_id""".stripMargin)
  }

  /** Roman-numeral codec: encode n ∈ [1, 3999] with per-digit lookup
    * tables (repeat for thousands, canonical subtractive forms for
    * hundreds/tens/ones), decode by joining the encoded string against
    * the full 3999-row encode dimension — the classic "invert a codec
    * with its own dimension table" pattern. The gate pins the exact
    * round trip.
    */
  val f_roman = OpQuery(
    "f_roman",
    """WITH dim AS (
      |  SELECT n,
      |    repeat('M', n // 1000) ||
      |    CASE (n // 100) % 10 WHEN 0 THEN '' WHEN 1 THEN 'C' WHEN 2 THEN 'CC'
      |      WHEN 3 THEN 'CCC' WHEN 4 THEN 'CD' WHEN 5 THEN 'D' WHEN 6 THEN 'DC'
      |      WHEN 7 THEN 'DCC' WHEN 8 THEN 'DCCC' ELSE 'CM' END ||
      |    CASE (n // 10) % 10 WHEN 0 THEN '' WHEN 1 THEN 'X' WHEN 2 THEN 'XX'
      |      WHEN 3 THEN 'XXX' WHEN 4 THEN 'XL' WHEN 5 THEN 'L' WHEN 6 THEN 'LX'
      |      WHEN 7 THEN 'LXX' WHEN 8 THEN 'LXXX' ELSE 'XC' END ||
      |    CASE n % 10 WHEN 0 THEN '' WHEN 1 THEN 'I' WHEN 2 THEN 'II'
      |      WHEN 3 THEN 'III' WHEN 4 THEN 'IV' WHEN 5 THEN 'V' WHEN 6 THEN 'VI'
      |      WHEN 7 THEN 'VII' WHEN 8 THEN 'VIII' ELSE 'IX' END AS roman
      |  FROM (SELECT unnest(generate_series(1, 3999)) AS n)),
      |ids AS (
      |  SELECT event_id, CAST(event_id % 3999 + 1 AS BIGINT) AS n
      |  FROM events WHERE event_id < 200),
      |enc AS (
      |  SELECT ids.event_id, ids.n, dim.roman
      |  FROM ids JOIN dim ON dim.n = ids.n),
      |dec AS (
      |  SELECT enc.event_id, enc.n, enc.roman, d2.n AS decoded
      |  FROM enc JOIN dim d2 ON d2.roman = enc.roman)
      |SELECT event_id, n, roman, CAST(decoded AS BIGINT) AS decoded,
      |       decoded = n AS ok
      |FROM dec ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_rom_events")
    spark.sql(
      """WITH dim AS (
        |  SELECT n,
        |    repeat('M', CAST(n DIV 1000 AS INT)) ||
        |    CASE (n DIV 100) % 10 WHEN 0 THEN '' WHEN 1 THEN 'C' WHEN 2 THEN 'CC'
        |      WHEN 3 THEN 'CCC' WHEN 4 THEN 'CD' WHEN 5 THEN 'D' WHEN 6 THEN 'DC'
        |      WHEN 7 THEN 'DCC' WHEN 8 THEN 'DCCC' ELSE 'CM' END ||
        |    CASE (n DIV 10) % 10 WHEN 0 THEN '' WHEN 1 THEN 'X' WHEN 2 THEN 'XX'
        |      WHEN 3 THEN 'XXX' WHEN 4 THEN 'XL' WHEN 5 THEN 'L' WHEN 6 THEN 'LX'
        |      WHEN 7 THEN 'LXX' WHEN 8 THEN 'LXXX' ELSE 'XC' END ||
        |    CASE n % 10 WHEN 0 THEN '' WHEN 1 THEN 'I' WHEN 2 THEN 'II'
        |      WHEN 3 THEN 'III' WHEN 4 THEN 'IV' WHEN 5 THEN 'V' WHEN 6 THEN 'VI'
        |      WHEN 7 THEN 'VII' WHEN 8 THEN 'VIII' ELSE 'IX' END AS roman
        |  FROM (SELECT explode(sequence(1, 3999)) AS n)),
        |ids AS (
        |  SELECT event_id, CAST(event_id % 3999 + 1 AS BIGINT) AS n
        |  FROM graft_rom_events WHERE event_id < 200),
        |enc AS (
        |  SELECT ids.event_id, ids.n, dim.roman
        |  FROM ids JOIN dim ON dim.n = ids.n),
        |dec AS (
        |  SELECT enc.event_id, enc.n, enc.roman, d2.n AS decoded
        |  FROM enc JOIN dim d2 ON d2.roman = enc.roman)
        |SELECT event_id, n, roman, CAST(decoded AS BIGINT) AS decoded,
        |       decoded = n AS ok
        |FROM dec ORDER BY event_id""".stripMargin)
  }

  /** Banded self-pairing of customer names scored by all three
    * comparators. The band (key distance ≤ 5) is the scale shape:
    * pair count stays linear in table size, never n².
    */
  val f_jaro_winkler = OpQuery(
    "f_jaro_winkler",
    """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |       CAST(ROUND(jaro_similarity(a.c_name, b.c_name), 6) AS DOUBLE) AS jaro,
      |       CAST(ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS DOUBLE) AS jw,
      |       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS lev
      |FROM customer a JOIN customer b
      |  ON b.c_custkey > a.c_custkey AND b.c_custkey <= a.c_custkey + 5
      |WHERE a.c_custkey <= 300
      |ORDER BY key_a, key_b""".stripMargin) { (spark, dir) =>
    FuzzyStrings.register(spark)
    val c = Tables.load(spark, dir, "customer")
    val a = c.filter(col("c_custkey") <= 300)
      .select(col("c_custkey").as("key_a"), col("c_name").as("name_a"))
    val b = c.select(col("c_custkey").as("key_b"), col("c_name").as("name_b"))
    a.join(b, col("key_b") > col("key_a") && col("key_b") <= col("key_a") + 5)
      .select(
        col("key_a"), col("key_b"),
        round(FuzzyStrings.jaroSim(col("name_a"), col("name_b")), 6)
          .cast("double").as("jaro"),
        round(FuzzyStrings.jaroWinklerSim(col("name_a"), col("name_b")), 6)
          .cast("double").as("jw"),
        levenshtein(col("name_a"), col("name_b")).cast("int").as("lev"))
      .orderBy("key_a", "key_b")
  }

  /** Unrestricted Damerau-Levenshtein vs plain Levenshtein over part
    * names — the rows where they differ are exactly the transposition
    * typos, surfaced as a flag plus a distance histogram.
    */
  val f_damerau_lev = OpQuery(
    "f_damerau_lev",
    """WITH pairs AS (
      |  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |         damerau_levenshtein(a.p_name, b.p_name) AS dl,
      |         levenshtein(a.p_name, b.p_name) AS lev
      |  FROM part a JOIN part b
      |    ON b.p_partkey > a.p_partkey AND b.p_partkey <= a.p_partkey + 3
      |  WHERE a.p_partkey <= 400)
      |SELECT CAST(dl AS INT) AS dl, CAST(COUNT(*) AS BIGINT) AS pairs,
      |       CAST(SUM(CASE WHEN dl < lev THEN 1 ELSE 0 END) AS BIGINT)
      |         AS transposition_wins,
      |       CAST(MIN(lev) AS INT) AS min_lev, CAST(MAX(lev) AS INT) AS max_lev
      |FROM pairs
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    FuzzyStrings.register(spark)
    val p = Tables.load(spark, dir, "part")
    val a = p.filter(col("p_partkey") <= 400)
      .select(col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    a.join(b, col("key_b") > col("key_a") && col("key_b") <= col("key_a") + 3)
      .select(
        FuzzyStrings.damerauLevenshtein(col("name_a"), col("name_b")).as("dl"),
        levenshtein(col("name_a"), col("name_b")).as("lev"))
      .groupBy(col("dl").cast("int").as("dl"))
      .agg(
        count(lit(1)).as("pairs"),
        sum(when(col("dl") < col("lev"), 1).otherwise(0))
          .cast("bigint").as("transposition_wins"),
        min("lev").cast("int").as("min_lev"),
        max("lev").cast("int").as("max_lev"))
      .orderBy("dl")
  }

  val all: Seq[OpQuery] = Seq(
    f_string, f_conditional, f_math, f_datetime, f_higher_order, f_generator,
    f_array_setops, f_json, f_array_agg, f_string_extra, f_try, f_bitwise,
    f_sql_udf, f_url_parse, f_collation, f_map_funcs, f_interval_arith,
    f_xpath, f_timezone, f_generator_outer, f_crypto_roundtrip, f_slugify,
    f_format, f_array_extra, f_width_bucket, f_regex_flags, f_greatest_least,
    f_uuid_deterministic, f_bit_count, f_map_zip_with, f_url_codec,
    f_json_array, f_luhn, f_base_convert, f_ipv4, f_haversine, f_morton_code,
    f_html_strip, f_mask_builtin, f_business_days, f_translate_homoglyphs,
    f_format_bytes, f_snowflake_id, f_geo_tile, f_semver_compare,
    f_excel_date, f_checkdigit, f_ulid, f_roman, f_jaro_winkler,
    f_damerau_lev)
}
