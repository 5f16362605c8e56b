package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 127: normal Q–Q plot points via the Acklam probit
  * approximation, TOST equivalence testing, and STL-style
  * trend/seasonality strength decomposition.
  */
object Round4Ops127 {

  /** Normal Q–Q plot points for order totals: at p = j/20
    * (j = 1…19) the empirical quantile (rank-based, deterministic
    * tie-break) is paired with μ + σ·Φ⁻¹(p), where Φ⁻¹ is Acklam's
    * central-region rational approximation — a fixed polynomial both
    * engines evaluate bit-identically (every p here is inside the
    * central branch). The diagnostic a modeler eyeballs, as a table.
    */
  val stat_qq_normal = OpQuery(
    "stat_qq_normal",
    """WITH v AS (
      |  SELECT CAST(o_totalprice AS DOUBLE) AS x,
      |         ROW_NUMBER() OVER (ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey)
      |           AS rk
      |  FROM orders),
      |n_all AS (SELECT COUNT(*) AS n FROM v),
      |mom AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s1,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s2
      |  FROM v),
      |ps AS (
      |  SELECT CAST(j AS INT) AS j, j / 20.0 AS p
      |  FROM (SELECT unnest(generate_series(1, 19)) AS j) t),
      |z AS (
      |  SELECT j, p,
      |         ((((( -3.969683028665376e+01 * (p - 0.5) * (p - 0.5)
      |            + 2.209460984245205e+02) * (p - 0.5) * (p - 0.5)
      |            - 2.759285104469687e+02) * (p - 0.5) * (p - 0.5)
      |            + 1.383577518672690e+02) * (p - 0.5) * (p - 0.5)
      |            - 3.066479806614716e+01) * (p - 0.5) * (p - 0.5)
      |            + 2.506628277459239e+00) * (p - 0.5)
      |         / ((((( -5.447609879822406e+01 * (p - 0.5) * (p - 0.5)
      |            + 1.615858368580409e+02) * (p - 0.5) * (p - 0.5)
      |            - 1.556989798598866e+02) * (p - 0.5) * (p - 0.5)
      |            + 6.680131188771972e+01) * (p - 0.5) * (p - 0.5)
      |            - 1.328068155288572e+01) * (p - 0.5) * (p - 0.5) + 1.0) AS zp
      |  FROM ps),
      |emp AS (
      |  SELECT z.j, z.p, z.zp, v.x AS empirical_q
      |  FROM z CROSS JOIN n_all
      |  JOIN v ON v.rk = CAST(CEIL(z.p * n_all.n) AS BIGINT))
      |SELECT j, CAST(p AS DOUBLE) AS p,
      |       CAST(ROUND(empirical_q, 2) AS DOUBLE) AS empirical_q,
      |       CAST(ROUND(mom.s1 / mom.n
      |         + SQRT((mom.s2 - mom.s1 * mom.s1 / mom.n) / (mom.n - 1)) * zp, 4)
      |         AS DOUBLE) AS theoretical_q
      |FROM emp CROSS JOIN mom
      |ORDER BY j""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_qq_orders")
    // global empirical-quantile ranks via TotalOrder (two-phase range
    // ranks, internally checkpointed so the three references below
    // re-read a materialized frame) — the window form single-reduced
    // every raw order row
    graft.operators.TotalOrder
      .rowNumber(
        spark.sql("""SELECT CAST(o_totalprice AS DOUBLE) AS x, o_orderkey
                    |FROM graft_qq_orders""".stripMargin),
        Seq(col("x"), col("o_orderkey")), "rk")
      .select(col("x"), col("rk"))
      .createOrReplaceTempView("graft_qq_v")
    spark.sql(
      """WITH v AS (SELECT x, rk FROM graft_qq_v),
        |n_all AS (SELECT COUNT(*) AS n FROM v),
        |mom AS (
        |  SELECT COUNT(*) AS n,
        |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s2
        |  FROM v),
        |ps AS (
        |  SELECT CAST(j AS INT) AS j, j / 20.0 AS p
        |  FROM (SELECT explode(sequence(1, 19)) AS j) t),
        |z AS (
        |  SELECT j, p,
        |         ((((( -3.969683028665376e+01 * (p - 0.5) * (p - 0.5)
        |            + 2.209460984245205e+02) * (p - 0.5) * (p - 0.5)
        |            - 2.759285104469687e+02) * (p - 0.5) * (p - 0.5)
        |            + 1.383577518672690e+02) * (p - 0.5) * (p - 0.5)
        |            - 3.066479806614716e+01) * (p - 0.5) * (p - 0.5)
        |            + 2.506628277459239e+00) * (p - 0.5)
        |         / ((((( -5.447609879822406e+01 * (p - 0.5) * (p - 0.5)
        |            + 1.615858368580409e+02) * (p - 0.5) * (p - 0.5)
        |            - 1.556989798598866e+02) * (p - 0.5) * (p - 0.5)
        |            + 6.680131188771972e+01) * (p - 0.5) * (p - 0.5)
        |            - 1.328068155288572e+01) * (p - 0.5) * (p - 0.5) + 1.0) AS zp
        |  FROM ps),
        |emp AS (
        |  SELECT z.j, z.p, z.zp, v.x AS empirical_q
        |  FROM z CROSS JOIN n_all
        |  JOIN v ON v.rk = CAST(CEIL(z.p * n_all.n) AS BIGINT))
        |SELECT j, CAST(p AS DOUBLE) AS p,
        |       CAST(ROUND(empirical_q, 2) AS DOUBLE) AS empirical_q,
        |       CAST(ROUND(mom.s1 / mom.n
        |         + SQRT((mom.s2 - mom.s1 * mom.s1 / mom.n) / (mom.n - 1)) * zp, 4)
        |         AS DOUBLE) AS theoretical_q
        |FROM emp CROSS JOIN mom
        |ORDER BY j""".stripMargin)
  }

  /** TOST equivalence test: are AUTOMOBILE and FURNITURE mean account
    * balances equivalent within ±50? Two one-sided Welch t-statistics
    * against the margin; equivalence holds when BOTH clear the 1.645
    * normal critical value. The inverse of the usual difference test —
    * the question A/B platforms actually need for "no-regression"
    * launches. One grouped moment pass, scalar algebra after.
    */
  val stat_tost_equivalence = OpQuery.sql("stat_tost_equivalence", "customer")(
    """WITH g AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(c_acctbal AS DOUBLE) AS x
      |  FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'FURNITURE')),
      |mom AS (
      |  SELECT seg, COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s1,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s2
      |  FROM g GROUP BY seg),
      |wide AS (
      |  SELECT MAX(CASE WHEN seg = 'AUTOMOBILE' THEN n END) AS n1,
      |         MAX(CASE WHEN seg = 'AUTOMOBILE' THEN s1 END) AS a1,
      |         MAX(CASE WHEN seg = 'AUTOMOBILE' THEN s2 END) AS a2,
      |         MAX(CASE WHEN seg = 'FURNITURE' THEN n END) AS n2,
      |         MAX(CASE WHEN seg = 'FURNITURE' THEN s1 END) AS f1,
      |         MAX(CASE WHEN seg = 'FURNITURE' THEN s2 END) AS f2
      |  FROM mom),
      |calc AS (
      |  SELECT a1 / n1 - f1 / n2 AS d,
      |         SQRT((a2 - a1 * a1 / n1) / (n1 - 1) / n1
      |            + (f2 - f1 * f1 / n2) / (n2 - 1) / n2) AS se
      |  FROM wide)
      |SELECT CAST(ROUND(d, 4) AS DOUBLE) AS mean_diff,
      |       CAST(ROUND(se, 4) AS DOUBLE) AS std_err,
      |       CAST(ROUND((d + 50) / se, 4) AS DOUBLE) AS t_lower,
      |       CAST(ROUND((d - 50) / se, 4) AS DOUBLE) AS t_upper,
      |       CAST(CASE WHEN (d + 50) / se > 1.645 AND (d - 50) / se < -1.645
      |            THEN 1 ELSE 0 END AS INT) AS equivalent
      |FROM calc""".stripMargin)

  /** Trend and seasonality strength (the STL diagnostics): a 7-day
    * centered moving average is the trend, weekday means of the
    * detrended series are the seasonal component, and strength is
    * 1 − Var(remainder)/Var(component-plus-remainder), floored at 0.
    * Tells you at a glance whether the weekly cycle in revenue is
    * structure or noise. Windows + two grouped passes, all variances
    * by quantized folds.
    */
  val ts_strengths = OpQuery.sql("ts_strengths", "orders")(
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS e,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      |  FROM orders GROUP BY 1),
      |ma AS (
      |  SELECT e, y,
      |         AVG(y) OVER (ORDER BY e ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |           AS trend,
      |         COUNT(*) OVER (ORDER BY e ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |           AS wn
      |  FROM daily),
      |det AS (
      |  SELECT e, (e + 3) % 7 AS dow, y, trend, y - trend AS detr
      |  FROM ma WHERE wn = 7),
      |seas AS (
      |  SELECT dow,
      |         CAST(SUM(CAST(ROUND(detr, 4) AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*)
      |           AS s
      |  FROM det GROUP BY dow),
      |parts AS (
      |  SELECT det.detr - seas.s AS rem, det.detr, det.y - seas.s AS deseas
      |  FROM det JOIN seas ON seas.dow = det.dow),
      |vv AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(rem, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sr,
      |         CAST(SUM(CAST(ROUND(rem * rem, 2) AS DECIMAL(38,2))) AS DOUBLE) AS srr,
      |         CAST(SUM(CAST(ROUND(detr, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sd,
      |         CAST(SUM(CAST(ROUND(detr * detr, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sdd,
      |         CAST(SUM(CAST(ROUND(deseas, 4) AS DECIMAL(38,4))) AS DOUBLE) AS ss,
      |         CAST(SUM(CAST(ROUND(deseas * deseas, 2) AS DECIMAL(38,2))) AS DOUBLE)
      |           AS sss
      |  FROM parts)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(ROUND(GREATEST(0.0, 1.0 - (srr - sr * sr / n) / (sdd - sd * sd / n)),
      |         6) AS DOUBLE) AS seasonal_strength,
      |       CAST(ROUND(GREATEST(0.0, 1.0 - (srr - sr * sr / n) / (sss - ss * ss / n)),
      |         6) AS DOUBLE) AS trend_strength
      |FROM vv""".stripMargin,
    "epoch(o_orderdate)" -> "unix_timestamp(CAST(o_orderdate AS TIMESTAMP))")

  val all: Seq[OpQuery] = Seq(stat_qq_normal, stat_tost_equivalence, ts_strengths)
}
