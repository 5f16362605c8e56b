package graft.queries

import graft.Tables

/** Round-4 batch 97: dedup blocking-quality comparison, semantic
  * version ordering, and the sample-ratio-mismatch guardrail.
  */
object Round4Ops97 {

  /** Blocking-quality report: three candidate blocking keys (8-char
    * prefix, document length bucket, first word) scored side by side on
    * block count, largest block, candidate pairs Σn(n−1)/2, and the
    * reduction ratio vs the naive all-pairs count — the design table
    * that decides which key a dedup pipeline shuffles on. Pure integer
    * accounting, one grouped pass per key.
    */
  val dedup_blocking_quality = OpQuery(
    "dedup_blocking_quality",
    """WITH keys AS (
      |  SELECT doc_id, 'prefix8' AS strategy, substr(text, 1, 8) AS k FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'len_bucket', CAST(n_chars // 100 AS VARCHAR) FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'first_word', split_part(lower(text), ' ', 1) FROM documents),
      |blocks AS (
      |  SELECT strategy, k, COUNT(*) AS n FROM keys GROUP BY strategy, k),
      |tot AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT b.strategy,
      |       CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |       CAST(MAX(b.n) AS BIGINT) AS max_block,
      |       CAST(SUM(b.n * (b.n - 1) // 2) AS BIGINT) AS candidate_pairs,
      |       CAST(ROUND(1.0 - CAST(SUM(b.n * (b.n - 1) // 2) AS DOUBLE) /
      |            (CAST(MAX(t.n) AS DOUBLE) * (MAX(t.n) - 1) / 2), 6) AS DOUBLE)
      |         AS reduction_ratio
      |FROM blocks b CROSS JOIN tot t
      |GROUP BY b.strategy
      |ORDER BY b.strategy""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_bq_docs")
    spark.sql(
      """WITH keys AS (
        |  SELECT doc_id, 'prefix8' AS strategy, substring(text, 1, 8) AS k
        |  FROM graft_bq_docs
        |  UNION ALL
        |  SELECT doc_id, 'len_bucket', CAST(n_chars DIV 100 AS STRING) FROM graft_bq_docs
        |  UNION ALL
        |  SELECT doc_id, 'first_word', split_part(lower(text), ' ', 1)
        |  FROM graft_bq_docs),
        |blocks AS (
        |  SELECT strategy, k, COUNT(*) AS n FROM keys GROUP BY strategy, k),
        |tot AS (SELECT COUNT(*) AS n FROM graft_bq_docs)
        |SELECT b.strategy,
        |       CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |       CAST(MAX(b.n) AS BIGINT) AS max_block,
        |       CAST(SUM(b.n * (b.n - 1) DIV 2) AS BIGINT) AS candidate_pairs,
        |       CAST(ROUND(1.0 - CAST(SUM(b.n * (b.n - 1) DIV 2) AS DOUBLE) /
        |            (CAST(MAX(t.n) AS DOUBLE) * (MAX(t.n) - 1) / 2), 6) AS DOUBLE)
        |         AS reduction_ratio
        |FROM blocks b CROSS JOIN tot t
        |GROUP BY b.strategy
        |ORDER BY b.strategy""".stripMargin)
  }

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

  /** Sample-ratio mismatch: the md5 hash split (the same assignment the
    * data_split gate uses) checked against its intended 50/50 ratio
    * with a binomial z — the guardrail that must pass before ANY A/B
    * readout is believed. Counts exact, one aggregate.
    */
  val a74_srm_check = OpQuery.sql("a74_srm_check", "events")(
    """WITH assigned AS (
      |  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |                    AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      |  FROM (SELECT DISTINCT user_id FROM events) u),
      |m AS (
      |  SELECT SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS a,
      |         COUNT(*) AS n
      |  FROM assigned)
      |SELECT CAST(a AS BIGINT) AS arm_a, CAST(n - a AS BIGINT) AS arm_b,
      |       CAST(ROUND((a - n * 0.5) / sqrt(n * 0.25), 6) AS DOUBLE) AS srm_z,
      |       (ABS((a - n * 0.5) / sqrt(n * 0.25)) < 3) AS ratio_ok
      |FROM m""".stripMargin,
    "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))" ->
      "conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)")

  val all: Seq[OpQuery] = Seq(dedup_blocking_quality, f_semver_compare, a74_srm_check)
}
