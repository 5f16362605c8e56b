package graft.queries

import graft.Tables

/** Round-4 batch 54: A/B analysis with Welch's t, id-gap integrity, and
  * the per-source duplication report.
  */
object Round4Ops54 {

  /** A/B test analysis end-to-end: deterministic md5 assignment (the
    * same content-stable bucketing the split operator uses), per-arm
    * purchase-value moments, and Welch's t statistic — exact integer
    * moments, one shared float expression, no RNG to disagree about.
    */
  val ab_test_analysis = OpQuery(
    "ab_test_analysis",
    """WITH assigned AS (
      |  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |              THEN 'control' ELSE 'treatment' END AS arm,
      |         CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT arm, COUNT(*) AS n,
      |         SUM(CAST(cents AS DECIMAL(38,0))) AS s1,
      |         SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
      |  FROM assigned GROUP BY arm),
      |f AS (
      |  SELECT arm, n, CAST(s1 AS DOUBLE) / n AS mu,
      |         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var_s
      |  FROM m),
      |wide AS (
      |  SELECT MAX(CASE WHEN arm = 'control' THEN n END) AS nc,
      |         MAX(CASE WHEN arm = 'control' THEN mu END) AS muc,
      |         MAX(CASE WHEN arm = 'control' THEN var_s END) AS vc,
      |         MAX(CASE WHEN arm = 'treatment' THEN n END) AS nt,
      |         MAX(CASE WHEN arm = 'treatment' THEN mu END) AS mut,
      |         MAX(CASE WHEN arm = 'treatment' THEN var_s END) AS vt
      |  FROM f)
      |SELECT CAST(nc AS BIGINT) AS n_control, CAST(nt AS BIGINT) AS n_treatment,
      |       CAST(ROUND(mut - muc, 4) AS DOUBLE) AS mean_diff_cents,
      |       CAST(ROUND((mut - muc) / sqrt(vc / nc + vt / nt), 4) AS DOUBLE) AS welch_t
      |FROM wide""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_ab_events")
    spark.sql(
      """WITH assigned AS (
        |  SELECT CASE WHEN pmod(CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT), 2) = 0
        |              THEN 'control' ELSE 'treatment' END AS arm,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM graft_ab_events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT arm, COUNT(*) AS n,
        |         SUM(CAST(cents AS DECIMAL(38,0))) AS s1,
        |         SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
        |  FROM assigned GROUP BY arm),
        |f AS (
        |  SELECT arm, n, CAST(s1 AS DOUBLE) / n AS mu,
        |         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var_s
        |  FROM m),
        |wide AS (
        |  SELECT MAX(CASE WHEN arm = 'control' THEN n END) AS nc,
        |         MAX(CASE WHEN arm = 'control' THEN mu END) AS muc,
        |         MAX(CASE WHEN arm = 'control' THEN var_s END) AS vc,
        |         MAX(CASE WHEN arm = 'treatment' THEN n END) AS nt,
        |         MAX(CASE WHEN arm = 'treatment' THEN mu END) AS mut,
        |         MAX(CASE WHEN arm = 'treatment' THEN var_s END) AS vt
        |  FROM f)
        |SELECT CAST(nc AS BIGINT) AS n_control, CAST(nt AS BIGINT) AS n_treatment,
        |       CAST(ROUND(mut - muc, 4) AS DOUBLE) AS mean_diff_cents,
        |       CAST(ROUND((mut - muc) / sqrt(vc / nc + vt / nt), 4) AS DOUBLE) AS welch_t
        |FROM wide""".stripMargin)
  }

  /** Id-gap integrity: missing stretches in what should be a dense id
    * sequence — one lag window, gap rows only (the sequence-audit query
    * every CDC consumer runs on resume).
    */
  val dq_id_gaps = OpQuery.sql("dq_id_gaps", "documents")(
    """WITH ids AS (SELECT DISTINCT doc_id * 2 AS id FROM documents),
      |gaps AS (
      |  SELECT LAG(id) OVER (ORDER BY id) AS prev_id, id
      |  FROM ids)
      |SELECT CAST(prev_id AS BIGINT) AS gap_after,
      |       CAST(id AS BIGINT) AS resumes_at,
      |       CAST(id - prev_id - 1 AS BIGINT) AS missing
      |FROM gaps
      |WHERE prev_id IS NOT NULL AND id - prev_id > 1
      |ORDER BY gap_after
      |LIMIT 50""".stripMargin)

  /** Per-source duplication report: the share of each source's
    * documents that are prefix-fingerprint duplicates — the provenance
    * scorecard that decides which feeds get renegotiated.
    */
  val dedup_source_report = OpQuery.sql("dedup_source_report", "documents")(
    """WITH fp AS (
      |  SELECT doc_id, source, md5(substr(text, 1, 64)) AS f FROM documents),
      |dup_fps AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) > 1)
      |SELECT fp.source,
      |       CAST(COUNT(*) AS BIGINT) AS docs,
      |       CAST(SUM(CASE WHEN d.f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
      |FROM fp LEFT JOIN dup_fps d ON fp.f = d.f
      |GROUP BY fp.source
      |ORDER BY fp.source""".stripMargin,
    "substr(" -> "substring(")

  val all: Seq[OpQuery] = Seq(ab_test_analysis, dq_id_gaps, dedup_source_report)
}
