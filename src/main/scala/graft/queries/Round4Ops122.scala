package graft.queries

/** Round-4 batch 122: a one-step Newton logistic regression, Kish
  * effective sample size for weighted sampling designs, and the
  * Breusch–Pagan heteroscedasticity test.
  */
object Round4Ops122 {

  /** Logistic regression, one exact Newton–Raphson step from β = 0:
    * at the origin the IRLS weights are ¼ and the update has the
    * closed form β₁ = 4·(XᵀX)⁻¹ Xᵀ(y − ½) — a 2×2 solve on five
    * quantized moment sums (intercept + ln-price predicting order
    * urgency). The reported log-loss at β₁ is a second quantized fold.
    * One distributed pass for the moments, scalar algebra for the
    * solve — the same shape an L-BFGS driver would run per iteration.
    */
  val ml_logistic_newton = OpQuery.sql("ml_logistic_newton", "orders")(
    """WITH base AS (
      |  SELECT LN(CAST(o_totalprice AS DOUBLE)) AS x,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y
      |  FROM orders),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 8) AS DECIMAL(38,8))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(x * x, 8) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
      |         CAST(SUM(CAST(ROUND(y - 0.5, 1) AS DECIMAL(38,1))) AS DOUBLE) AS g0,
      |         CAST(SUM(CAST(ROUND(x * (y - 0.5), 8) AS DECIMAL(38,8))) AS DOUBLE) AS g1
      |  FROM base),
      |step AS (
      |  SELECT n,
      |         ROUND(4.0 * (sxx * g0 - sx * g1) / (n * sxx - sx * sx), 10) AS b0,
      |         ROUND(4.0 * (n * g1 - sx * g0) / (n * sxx - sx * sx), 10) AS b1
      |  FROM m),
      |loss AS (
      |  SELECT step.b0, step.b1, step.n,
      |         CAST(SUM(CAST(ROUND(
      |           LN(1.0 + EXP(step.b0 + step.b1 * base.x))
      |             - base.y * (step.b0 + step.b1 * base.x), 8)
      |           AS DECIMAL(38,8))) AS DOUBLE) AS nll
      |  FROM base CROSS JOIN step
      |  GROUP BY step.b0, step.b1, step.n)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       CAST(ROUND(b0, 6) AS DOUBLE) AS beta0,
      |       CAST(ROUND(b1, 6) AS DOUBLE) AS beta1,
      |       CAST(ROUND(nll / n, 6) AS DOUBLE) AS avg_logloss
      |FROM loss""".stripMargin)

  /** Kish effective sample size per market segment, treating order
    * value as the sampling weight (the "how much signal do my
    * importance weights actually keep" audit every weighted corpus
    * mix needs): ESS = (Σw)²/Σw², design effect = n/ESS. Weight sums
    * fold through DECIMAL so segment ESS is sum-order-exact.
    */
  val sample_ess = OpQuery.sql("sample_ess", "orders", "customer")(
    """WITH w AS (
      |  SELECT c.c_mktsegment AS seg, CAST(o.o_totalprice AS DECIMAL(15,2)) AS w
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      |agg AS (
      |  SELECT seg, COUNT(*) AS n,
      |         CAST(SUM(w) AS DOUBLE) AS sw,
      |         CAST(SUM(CAST(ROUND(CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 2)
      |           AS DECIMAL(38,2))) AS DOUBLE) AS sw2
      |  FROM w GROUP BY seg)
      |SELECT seg AS segment, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(sw * sw / sw2, 4) AS DOUBLE) AS ess,
      |       CAST(ROUND(n / (sw * sw / sw2), 6) AS DOUBLE) AS design_effect,
      |       CAST(ROUND(sw * sw / sw2 / n, 6) AS DOUBLE) AS efficiency
      |FROM agg
      |ORDER BY seg""".stripMargin)

  /** Breusch–Pagan heteroscedasticity test on the price-vs-quantity
    * regression: fit OLS by quantized moments, square the residuals,
    * regress them on the predictor again, and report LM = n·R² — the
    * statistic that says whether error variance grows with the
    * regressor (it does here: price residual spread scales with
    * quantity). Two distributed moment passes, zero data movement
    * beyond two scalar cross joins.
    */
  val stat_breusch_pagan = OpQuery.sql("stat_breusch_pagan", "lineitem")(
    """WITH base AS (
      |  SELECT CAST(l_quantity AS DOUBLE) AS x,
      |         CAST(l_extendedprice AS DOUBLE) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(y, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sy,
      |         CAST(SUM(CAST(ROUND(x * y, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxx
      |  FROM base),
      |fit AS (
      |  SELECT n,
      |         ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 8) AS b,
      |         ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n, 6)
      |           AS a
      |  FROM m),
      |aux AS (
      |  SELECT fit.n, fit.a, fit.b,
      |         CAST(SUM(CAST(ROUND(base.x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(base.x * base.x, 2) AS DECIMAL(38,2))) AS DOUBLE)
      |           AS sxx,
      |         CAST(SUM(CAST(ROUND(
      |           (base.y - fit.a - fit.b * base.x)
      |             * (base.y - fit.a - fit.b * base.x), 2) AS DECIMAL(38,2)))
      |           AS DOUBLE) AS su,
      |         CAST(SUM(CAST(ROUND(
      |           base.x * (base.y - fit.a - fit.b * base.x)
      |             * (base.y - fit.a - fit.b * base.x), 1) AS DECIMAL(38,1)))
      |           AS DOUBLE) AS sxu,
      |         CAST(SUM(CAST(ROUND(
      |           POW((base.y - fit.a - fit.b * base.x)
      |             * (base.y - fit.a - fit.b * base.x), 2), 0) AS DECIMAL(38,0)))
      |           AS DOUBLE) AS suu
      |  FROM base CROSS JOIN fit
      |  GROUP BY fit.n, fit.a, fit.b),
      |r2 AS (
      |  SELECT n, b,
      |         POW(sxu - sx * su / n, 2)
      |           / ((sxx - sx * sx / n) * (suu - su * su / n)) AS r2aux
      |  FROM aux)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       CAST(ROUND(b, 4) AS DOUBLE) AS slope,
      |       CAST(ROUND(r2aux, 6) AS DOUBLE) AS aux_r2,
      |       CAST(ROUND(n * r2aux, 4) AS DOUBLE) AS lm_stat
      |FROM r2""".stripMargin)

  val all: Seq[OpQuery] = Seq(ml_logistic_newton, sample_ess, stat_breusch_pagan)
}
