package graft.queries

import graft.Tables

/** Round-4 batch 79: pinball (quantile) loss for forecast evaluation,
  * the mask() PII builtin pinned against a first-principles oracle,
  * and LIKE with ESCAPE semantics.
  */
object Round4Ops79 {

  /** Pinball loss of the seasonal-naive forecast (ŷₜ = yₜ₋₇) at
    * q ∈ {0.1, 0.5, 0.9} — the metric that scores quantile forecasts
    * the way they are consumed. Daily totals and diffs stay in integer
    * cents; each quantile's mean loss is one conditional aggregate over
    * the lag-joined series.
    */
  val eval_pinball_loss = OpQuery(
    "eval_pinball_loss",
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |paired AS (
      |  SELECT a.d, a.y, f.y AS yhat
      |  FROM daily a JOIN daily f ON f.d = a.d - 7),
      |qs AS (SELECT unnest([0.1, 0.5, 0.9]) AS q),
      |losses AS (
      |  SELECT q.q, p.d,
      |         GREATEST(q.q * (p.y - p.yhat), (q.q - 1) * (p.y - p.yhat)) AS loss
      |  FROM paired p, qs q)
      |SELECT CAST(q AS DOUBLE) AS q, CAST(COUNT(*) AS BIGINT) AS n_days,
      |       CAST(ROUND(SUM(loss) / COUNT(*) / 100, 4) AS DOUBLE) AS mean_pinball
      |FROM losses
      |GROUP BY q
      |ORDER BY q""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_pin_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT) AS d,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
        |  FROM graft_pin_events WHERE event_type = 'purchase' GROUP BY 1),
        |paired AS (
        |  SELECT a.d, a.y, f.y AS yhat
        |  FROM daily a JOIN daily f ON f.d = a.d - 7),
        |qs AS (SELECT explode(array(0.1D, 0.5D, 0.9D)) AS q),
        |losses AS (
        |  SELECT q.q, p.d,
        |         GREATEST(q.q * (p.y - p.yhat), (q.q - 1) * (p.y - p.yhat)) AS loss
        |  FROM paired p CROSS JOIN qs q)
        |SELECT CAST(q AS DOUBLE) AS q, CAST(COUNT(*) AS BIGINT) AS n_days,
        |       CAST(ROUND(SUM(loss) / COUNT(*) / 100, 4) AS DOUBLE) AS mean_pinball
        |FROM losses
        |GROUP BY q
        |ORDER BY q""".stripMargin)
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

  /** LIKE with ESCAPE: patterns over strings that themselves contain %
    * and _ — the wildcard-literal disambiguation that silently corrupts
    * filters when ignored. The test strings inject both wildcards into
    * part names; matches compare an escaped literal-% pattern, an
    * unescaped (wildcard) form, and a single-char _ probe.
    */
  val p25_like_escape = OpQuery.sql("p25_like_escape", "part")(
    """WITH s AS (
      |  SELECT p_partkey,
      |         replace(replace(p_name, 'a', '%'), 'o', '_') AS tricky
      |  FROM part WHERE p_partkey < 300)
      |SELECT p_partkey, tricky,
      |       tricky LIKE '%!%%' ESCAPE '!' AS has_literal_pct,
      |       tricky LIKE '%!_%' ESCAPE '!' AS has_literal_us,
      |       tricky LIKE '%%' AS wild_any,
      |       tricky LIKE 's_r%' AS positional
      |FROM s
      |ORDER BY p_partkey""".stripMargin)

  val all: Seq[OpQuery] = Seq(eval_pinball_loss, f_mask_builtin, p25_like_escape)
}
