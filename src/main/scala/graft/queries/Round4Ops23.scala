package graft.queries

import org.apache.spark.sql.functions.col

import graft.Tables

/** Round-4 batch 23: exact higher moments (skewness/kurtosis),
  * readability scoring, code-vs-prose detection, partition-discovery
  * reads, and keyset pagination.
  */
object Round4Ops23 {

  /** Skewness and excess kurtosis per group, computed from EXACT integer
    * moment sums (Σx..Σx⁴ in whole dollars, summed as DECIMAL(38,0)) —
    * engines disagree on sample-vs-population skewness definitions and
    * on float accumulation order, but raw integer moments are
    * definition-free and order-free; the one float expression at the end
    * is written identically on both sides.
    */
  val a27_moments = OpQuery.sql("a27_moments", "orders")(
    """WITH base AS (
      |  SELECT o_orderpriority AS pri, CAST(ROUND(o_totalprice) AS BIGINT) AS x
      |  FROM orders),
      |m AS (
      |  SELECT pri, COUNT(*) AS n,
      |         SUM(CAST(x AS DECIMAL(38,0))) AS s1,
      |         SUM(CAST(x AS DECIMAL(38,0)) * x) AS s2,
      |         SUM(CAST(x AS DECIMAL(38,0)) * x * x) AS s3,
      |         SUM(CAST(x AS DECIMAL(38,0)) * x * x * x) AS s4
      |  FROM base GROUP BY pri),
      |f AS (
      |  SELECT pri, n,
      |         CAST(s1 AS DOUBLE) / n AS mu,
      |         CAST(s2 AS DOUBLE) / n AS m2,
      |         CAST(s3 AS DOUBLE) / n AS m3,
      |         CAST(s4 AS DOUBLE) / n AS m4
      |  FROM m)
      |SELECT pri, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND((m3 - 3 * mu * m2 + 2 * mu * mu * mu)
      |                  / pow(m2 - mu * mu, 1.5), 6) AS DOUBLE) AS skew,
      |       CAST(ROUND((m4 - 4 * mu * m3 + 6 * mu * mu * m2 - 3 * mu * mu * mu * mu)
      |                  / pow(m2 - mu * mu, 2) - 3, 6) AS DOUBLE) AS excess_kurtosis
      |FROM f
      |ORDER BY pri""".stripMargin)

  /** Flesch-style readability from integer counts: words (whitespace
    * tokens), sentences (terminal punctuation runs), syllables (vowel
    * groups). Scores are one float expression over exact counts —
    * map-only, no shuffle; the curation signal that separates running
    * prose from lists and boilerplate.
    */
  val text_readability = OpQuery(
    "text_readability",
    """WITH counts AS (
      |  SELECT doc_id,
      |         len(regexp_extract_all(trim(text), '\S+')) AS words,
      |         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
      |         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syllables
      |  FROM documents)
      |SELECT doc_id, CAST(words AS BIGINT) AS words,
      |       CAST(sentences AS BIGINT) AS sentences,
      |       CAST(syllables AS BIGINT) AS syllables,
      |       CAST(ROUND(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
      |                  - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) AS DOUBLE) AS flesch
      |FROM counts WHERE words > 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_read_docs")
    spark.sql(
      """WITH counts AS (
        |  SELECT doc_id,
        |         size(regexp_extract_all(trim(text), '\\S+', 0)) AS words,
        |         greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) AS sentences,
        |         greatest(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)), 1) AS syllables
        |  FROM graft_read_docs)
        |SELECT doc_id, CAST(words AS BIGINT) AS words,
        |       CAST(sentences AS BIGINT) AS sentences,
        |       CAST(syllables AS BIGINT) AS syllables,
        |       CAST(ROUND(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
        |                  - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) AS DOUBLE) AS flesch
        |FROM counts WHERE words > 0
        |ORDER BY doc_id""".stripMargin)
  }

  /** Code-vs-prose detection: density of code punctuation and digits
    * via the length-difference trick (exact integers, no float
    * tokenization drift). The curation filter that keeps source files
    * out of a prose corpus — map-only codegen.
    */
  val text_code_detect = OpQuery.sql("text_code_detect", "documents")(
    """WITH feat AS (
      |  SELECT doc_id,
      |         length(text) AS n,
      |         length(text) - length(regexp_replace(text, '[{};=()<>#\[\]]', '', 'g')) AS code_chars,
      |         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id, CAST(n AS BIGINT) AS n,
      |       CAST(code_chars AS BIGINT) AS code_chars,
      |       CAST(digits AS BIGINT) AS digits,
      |       CAST(code_chars * 20 >= n OR digits * 5 >= n AS BOOLEAN) AS looks_like_code
      |FROM feat
      |ORDER BY doc_id""".stripMargin,
    """'[{};=()<>#\[\]]'""" -> """'[{};=()<>#\\[\\]]'""",
    ", 'g')" -> ")")

  /** Hive-style partition discovery: write partitioned by a low-
    * cardinality column, read the directory tree back (partition column
    * reconstructed from paths), filter on the partition column — the
    * scan must touch only matching directories. The oracle filters the
    * original table and never sees the partitioned layout.
    */
  val s25_partition_discovery = OpQuery(
    "s25_partition_discovery",
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE lang IN ('en', 'fr')
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
    val out = graft.queries.GateScratch.dir("graft-partdisc-").toString
    docs.select("doc_id", "source", "lang")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("lang").isin("en", "fr"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Keyset pagination (the scalable OFFSET replacement): page 3 of the
    * (o_orderdate, o_orderkey) total order, located by the composite-
    * key predicate from page 2's last row rather than a global skip —
    * the predicate pushes into the scan, so at 100 TB page N costs the
    * same as page 1 instead of reading N pages.
    */
  val o5_keyset_pagination = OpQuery(
    "o5_keyset_pagination",
    """WITH ordered AS (
      |  SELECT o_orderkey, o_orderdate, o_totalprice,
      |         ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders),
      |last_of_p2 AS (SELECT o_orderdate AS d, o_orderkey AS k FROM ordered WHERE rn = 200)
      |SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM orders o, last_of_p2
      |WHERE o.o_orderdate > last_of_p2.d
      |   OR (o.o_orderdate = last_of_p2.d AND o.o_orderkey > last_of_p2.k)
      |ORDER BY o.o_orderdate, o.o_orderkey
      |LIMIT 100""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_page_orders")
    // the page anchor (global row #200) via TotalOrder two-phase ranks;
    // ranking every order through one reducer to read a single anchor
    // row was the whole query's scale ceiling
    graft.operators.TotalOrder
      .rowNumber(
        spark.sql("SELECT o_orderkey, o_orderdate FROM graft_page_orders"),
        Seq(col("o_orderdate"), col("o_orderkey")), "rn")
      .filter(col("rn") === 200)
      .select(col("o_orderdate").as("d"), col("o_orderkey").as("k"))
      .localCheckpoint(true)
      .createOrReplaceTempView("graft_page_anchor")
    spark.sql(
      """WITH last_of_p2 AS (SELECT d, k FROM graft_page_anchor)
        |SELECT o.o_orderkey, date_format(o.o_orderdate, 'yyyy-MM-dd') AS order_date,
        |       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM graft_page_orders o, last_of_p2
        |WHERE o.o_orderdate > last_of_p2.d
        |   OR (o.o_orderdate = last_of_p2.d AND o.o_orderkey > last_of_p2.k)
        |ORDER BY o.o_orderdate, o.o_orderkey
        |LIMIT 100""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(
    a27_moments, text_readability, text_code_detect,
    s25_partition_discovery, o5_keyset_pagination)
}
