package graft.queries

import graft.Tables

/** Round-4 batch 121: a Count-Min frequency sketch the oracle can
  * replay, a Dickey–Fuller unit-root test, and the two-group log-rank
  * survival test.
  */
object Round4Ops121 {

  /** Count-Min sketch (depth 3 × width 256) over part purchase
    * frequencies, built on an md5 hash family so every cell sum — and
    * therefore every estimate — is hash-exact in both engines. The
    * estimate is the MIN over the three hashed cells; the classic CM
    * guarantee (never under-counts, overshoot bounded by the cell
    * collision mass) is visible in the `overcount` column, which is
    * provably ≥ 0. Build is two grouped aggregates; lookup is a
    * 3-row-per-key join — the whole sketch is mergeable across
    * partitions because cells are plain sums.
    */
  val sketch_countmin = OpQuery(
    "sketch_countmin",
    """WITH truth AS (
      |  SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
      |rows_d AS (SELECT unnest(generate_series(0, 2)) AS r),
      |placed AS (
      |  SELECT truth.k, truth.c, rows_d.r,
      |         CAST(('0x' || substr(md5(CAST(truth.k AS VARCHAR) || '_'
      |                || CAST(rows_d.r AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS cell
      |  FROM truth CROSS JOIN rows_d),
      |cells AS (
      |  SELECT r, cell, SUM(c) AS cc FROM placed GROUP BY r, cell),
      |est AS (
      |  SELECT placed.k, placed.c, MIN(cells.cc) AS cm
      |  FROM placed JOIN cells ON cells.r = placed.r AND cells.cell = placed.cell
      |  GROUP BY placed.k, placed.c)
      |SELECT CAST(k AS BIGINT) AS partkey,
      |       CAST(c AS BIGINT) AS true_cnt,
      |       CAST(cm AS BIGINT) AS cm_est,
      |       CAST(cm - c AS BIGINT) AS overcount
      |FROM est
      |ORDER BY true_cnt DESC, partkey
      |LIMIT 15""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_cm_li")
    spark.sql(
      """WITH truth AS (
        |  SELECT l_partkey AS k, COUNT(*) AS c FROM graft_cm_li GROUP BY l_partkey),
        |rows_d AS (SELECT explode(sequence(0, 2)) AS r),
        |placed AS (
        |  SELECT truth.k, truth.c, rows_d.r,
        |         CAST(conv(substr(md5(CAST(truth.k AS STRING) || '_'
        |                || CAST(rows_d.r AS STRING)), 1, 8), 16, 10) AS BIGINT) % 256
        |           AS cell
        |  FROM truth CROSS JOIN rows_d),
        |cells AS (
        |  SELECT r, cell, SUM(c) AS cc FROM placed GROUP BY r, cell),
        |est AS (
        |  SELECT placed.k, placed.c, MIN(cells.cc) AS cm
        |  FROM placed JOIN cells ON cells.r = placed.r AND cells.cell = placed.cell
        |  GROUP BY placed.k, placed.c)
        |SELECT CAST(k AS BIGINT) AS partkey,
        |       CAST(c AS BIGINT) AS true_cnt,
        |       CAST(cm AS BIGINT) AS cm_est,
        |       CAST(cm - c AS BIGINT) AS overcount
        |FROM est
        |ORDER BY true_cnt DESC, partkey
        |LIMIT 15""".stripMargin)
  }

  /** Dickey–Fuller unit-root test on daily revenue: regress Δyₜ on
    * yₜ₋₁ (with intercept) and report the t-statistic of the slope —
    * the DF statistic whose strongly negative values reject a random
    * walk. All cross-moments are quantized-DECIMAL folds over the
    * lagged series (sum-order-proof); the OLS algebra and the
    * standard error are scalar arithmetic on those exact sums.
    */
  val ts_adf = OpQuery.sql("ts_adf", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT CAST(y AS DOUBLE) AS y, ROW_NUMBER() OVER (ORDER BY d) AS t
      |  FROM daily),
      |lagd AS (
      |  SELECT t, y, LAG(y) OVER (ORDER BY t) AS y1 FROM idx),
      |pairs AS (
      |  SELECT y1 AS x, y - y1 AS dy FROM lagd WHERE y1 IS NOT NULL),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(dy, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |         CAST(SUM(CAST(ROUND(x * dy, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
      |         CAST(SUM(CAST(ROUND(x * x, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
      |         CAST(SUM(CAST(ROUND(dy * dy, 4) AS DECIMAL(38,4))) AS DOUBLE) AS syy
      |  FROM pairs),
      |fit AS (
      |  SELECT n,
      |         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS beta,
      |         (sxx - sx * sx / n) AS cxx,
      |         (syy - sy * sy / n) AS cyy,
      |         (sxy - sx * sy / n) AS cxy
      |  FROM m),
      |stat AS (
      |  SELECT n, beta,
      |         (cyy - beta * cxy) / (n - 2) AS s2, cxx
      |  FROM fit)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       CAST(ROUND(beta, 8) AS DOUBLE) AS beta,
      |       CAST(ROUND(1.0 + beta, 8) AS DOUBLE) AS rho,
      |       CAST(ROUND(beta / SQRT(s2 / cxx), 4) AS DOUBLE) AS df_stat
      |FROM stat""".stripMargin)

  /** Two-group log-rank test: users are split into deterministic A/B
    * cohorts (user_id parity); lifetimes and censoring replay the
    * Kaplan–Meier construction. At every event time the observed
    * group-A deaths are compared to their hypergeometric expectation
    * given the at-risk counts, and the variance-weighted sum yields
    * the χ² statistic — the standard test for "do these two cohorts
    * churn at the same rate?". At-risk counts come from cumulative
    * windows over the per-time death/leaving tallies, so the pass
    * over the event table is single-shot.
    */
  val surv_logrank = OpQuery(
    "surv_logrank",
    """WITH spans AS (
      |  SELECT user_id, user_id % 2 AS g,
      |         CAST(FLOOR((TRUNC(epoch(MAX(ts))) - TRUNC(epoch(MIN(ts)))) / 3600) AS INT)
      |           AS life,
      |         MAX(ts) AS last_ts
      |  FROM events GROUP BY user_id),
      |horizon AS (SELECT MAX(last_ts) AS h FROM spans),
      |obs AS (
      |  SELECT life, g,
      |         CASE WHEN epoch(h) - epoch(last_ts) < 86400 THEN 0 ELSE 1 END AS died
      |  FROM spans, horizon),
      |totals AS (
      |  SELECT SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
      |         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1
      |  FROM obs),
      |by_t AS (
      |  SELECT life,
      |         SUM(CASE WHEN g = 1 THEN died ELSE 0 END) AS d1,
      |         SUM(died) AS d,
      |         SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS leave0,
      |         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS leave1
      |  FROM obs GROUP BY life),
      |risk AS (
      |  SELECT life, d1, d,
      |         (SELECT n0 FROM totals) -
      |           COALESCE(SUM(leave0) OVER (ORDER BY life
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r0,
      |         (SELECT n1 FROM totals) -
      |           COALESCE(SUM(leave1) OVER (ORDER BY life
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r1
      |  FROM by_t),
      |terms AS (
      |  SELECT d1,
      |         CAST(ROUND(d * CAST(r1 AS DOUBLE) / (r0 + r1), 8) AS DECIMAL(28,8)) AS e1,
      |         CAST(ROUND(d * (CAST(r1 AS DOUBLE) / (r0 + r1))
      |                      * (CAST(r0 AS DOUBLE) / (r0 + r1))
      |                      * (r0 + r1 - d) / (r0 + r1 - 1), 8) AS DECIMAL(28,8)) AS v
      |  FROM risk
      |  WHERE d > 0 AND r0 + r1 > 1),
      |agg AS (
      |  SELECT CAST(SUM(d1) AS DOUBLE) AS o1,
      |         CAST(SUM(e1) AS DOUBLE) AS e1,
      |         CAST(SUM(v) AS DOUBLE) AS v
      |  FROM terms)
      |SELECT CAST(ROUND(o1, 2) AS DOUBLE) AS observed_a,
      |       CAST(ROUND(e1, 4) AS DOUBLE) AS expected_a,
      |       CAST(ROUND(v, 4) AS DOUBLE) AS variance,
      |       CAST(ROUND((o1 - e1) * (o1 - e1) / v, 4) AS DOUBLE) AS chi2
      |FROM agg""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_lr_events")
    spark.sql(
      """WITH spans AS (
        |  SELECT user_id, user_id % 2 AS g,
        |         CAST(FLOOR((unix_timestamp(MAX(ts)) - unix_timestamp(MIN(ts))) / 3600)
        |           AS INT) AS life,
        |         MAX(ts) AS last_ts
        |  FROM graft_lr_events GROUP BY user_id),
        |horizon AS (SELECT MAX(last_ts) AS h FROM spans),
        |obs AS (
        |  SELECT life, g,
        |         CASE WHEN unix_timestamp(h) - unix_timestamp(last_ts) < 86400
        |              THEN 0 ELSE 1 END AS died
        |  FROM spans CROSS JOIN horizon),
        |totals AS (
        |  SELECT SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
        |         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1
        |  FROM obs),
        |by_t AS (
        |  SELECT life,
        |         SUM(CASE WHEN g = 1 THEN died ELSE 0 END) AS d1,
        |         SUM(died) AS d,
        |         SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS leave0,
        |         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS leave1
        |  FROM obs GROUP BY life),
        |risk AS (
        |  SELECT life, d1, d,
        |         (SELECT n0 FROM totals) -
        |           COALESCE(SUM(leave0) OVER (ORDER BY life
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r0,
        |         (SELECT n1 FROM totals) -
        |           COALESCE(SUM(leave1) OVER (ORDER BY life
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r1
        |  FROM by_t),
        |terms AS (
        |  SELECT d1,
        |         CAST(ROUND(d * CAST(r1 AS DOUBLE) / (r0 + r1), 8) AS DECIMAL(28,8)) AS e1,
        |         CAST(ROUND(d * (CAST(r1 AS DOUBLE) / (r0 + r1))
        |                      * (CAST(r0 AS DOUBLE) / (r0 + r1))
        |                      * (r0 + r1 - d) / (r0 + r1 - 1), 8) AS DECIMAL(28,8)) AS v
        |  FROM risk
        |  WHERE d > 0 AND r0 + r1 > 1),
        |agg AS (
        |  SELECT CAST(SUM(d1) AS DOUBLE) AS o1,
        |         CAST(SUM(e1) AS DOUBLE) AS e1,
        |         CAST(SUM(v) AS DOUBLE) AS v
        |  FROM terms)
        |SELECT CAST(ROUND(o1, 2) AS DOUBLE) AS observed_a,
        |       CAST(ROUND(e1, 4) AS DOUBLE) AS expected_a,
        |       CAST(ROUND(v, 4) AS DOUBLE) AS variance,
        |       CAST(ROUND((o1 - e1) * (o1 - e1) / v, 4) AS DOUBLE) AS chi2
        |FROM agg""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(sketch_countmin, ts_adf, surv_logrank)
}
