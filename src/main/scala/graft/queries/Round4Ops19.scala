package graft.queries

import graft.Tables

/** Round-4 batch 19: URL handling (parse + canonicalization dedup —
  * the web-crawl curation primitives), ordered string aggregation
  * (listagg), gaps-and-islands streak detection, and case-insensitive
  * collations (Spark 4 collation support).
  */
object Round4Ops19 {

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

  /** Ordered intra-group string aggregation: listagg ... WITHIN GROUP
    * (Spark 4) vs DuckDB's string_agg(... ORDER BY ...). The explicit
    * ORDER BY inside the aggregate is what makes the output
    * deterministic under any partitioning — an unordered collect would
    * hash differently run to run.
    */
  val a25_string_agg = OpQuery.sql("a25_string_agg", "nation", "region")(
    """SELECT r_name,
      |       string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin,
    "string_agg(n_name, ',' ORDER BY n_name)" ->
      "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")

  /** Gaps-and-islands: per-user consecutive-active-day streaks. The
    * classic (day_index - row_number) island key needs only ONE shuffle
    * (by user) shared by the window and both aggregations — no
    * self-join, no per-day driver loop; at 100 TB the shuffle key is
    * the uniform user id.
    */
  val ts_islands = OpQuery.sql("ts_islands", "events")(
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |idx AS (
      |  SELECT user_id, d,
      |         date_diff('day', DATE '2024-01-01', d)
      |           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS island
      |  FROM days),
      |streaks AS (
      |  SELECT user_id, island, COUNT(*) AS len FROM idx GROUP BY user_id, island)
      |SELECT user_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |       CAST(MAX(len) AS BIGINT) AS max_streak,
      |       CAST(SUM(len) AS BIGINT) AS active_days
      |FROM streaks
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin,
    "date_diff('day', DATE '2024-01-01', d)" ->
      "CAST(datediff(d, DATE '2024-01-01') AS BIGINT)")

  /** URL canonicalization dedup — the first pass of any web-crawl
    * pipeline: lowercase, strip fragments, strip utm_* tracking
    * queries, strip trailing slashes, then group. Variant construction
    * (case noise / trailing slash / utm query / fragment by doc_id%4,
    * collision targets via doc_id%499) is deterministic from the
    * documents table; canonicalization is map-only codegen'd regexes
    * and the single shuffle is on the canonical string.
    */
  val dedup_url_canonical = OpQuery(
    "dedup_url_canonical",
    """WITH messy AS (
      |  SELECT doc_id,
      |         CASE CAST(doc_id % 4 AS INT)
      |           WHEN 0 THEN concat('https://WWW.Example.com/docs/item-', CAST(doc_id % 499 AS VARCHAR))
      |           WHEN 1 THEN concat('https://www.example.com/docs/item-', CAST(doc_id % 499 AS VARCHAR), '/')
      |           WHEN 2 THEN concat('https://www.Example.com/docs/item-', CAST(doc_id % 499 AS VARCHAR), '?utm_source=feed&utm_campaign=x')
      |           ELSE concat('https://www.example.com/docs/item-', CAST(doc_id % 499 AS VARCHAR), '#section-2')
      |         END AS url
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id,
      |         regexp_replace(regexp_replace(regexp_replace(lower(url),
      |           '#.*$', ''), '\?utm_[^#]*', ''), '/$', '') AS canonical
      |  FROM messy)
      |SELECT canonical,
      |       CAST(COUNT(*) AS BIGINT) AS n_urls,
      |       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
      |FROM canon
      |GROUP BY canonical
      |ORDER BY canonical""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_urlc_docs")
    spark.sql(
      """WITH messy AS (
        |  SELECT doc_id,
        |         CASE CAST(doc_id % 4 AS INT)
        |           WHEN 0 THEN concat('https://WWW.Example.com/docs/item-', CAST(doc_id % 499 AS STRING))
        |           WHEN 1 THEN concat('https://www.example.com/docs/item-', CAST(doc_id % 499 AS STRING), '/')
        |           WHEN 2 THEN concat('https://www.Example.com/docs/item-', CAST(doc_id % 499 AS STRING), '?utm_source=feed&utm_campaign=x')
        |           ELSE concat('https://www.example.com/docs/item-', CAST(doc_id % 499 AS STRING), '#section-2')
        |         END AS url
        |  FROM graft_urlc_docs),
        |canon AS (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(regexp_replace(lower(url),
        |           '#.*$', ''), '\\?utm_[^#]*', ''), '/$', '') AS canonical
        |  FROM messy)
        |SELECT canonical,
        |       CAST(COUNT(*) AS BIGINT) AS n_urls,
        |       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
        |FROM canon
        |GROUP BY canonical
        |ORDER BY canonical""".stripMargin)
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

  val all: Seq[OpQuery] = Seq(
    f_url_parse, a25_string_agg, ts_islands, dedup_url_canonical, f_collation)
}
