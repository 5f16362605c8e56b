package graft.queries

import graft.Tables

/** Round-4 batch 115: Shapley-value marketing attribution, a Gumbel
  * extreme-value fit on block maxima, and higher-order array lambdas.
  */
object Round4Ops115 {

  /** Exact Shapley attribution over the four touch channels (view,
    * click, signup, error): each user's coalition is the bitmask of
    * channels they touched, v(S) is the observed conversion rate
    * (purchase) of users with exactly coalition S (unobserved
    * coalitions contribute v = 0 — pinned), and each channel's Shapley
    * value enumerates all 8 marginal contributions with exact
    * factorial weights. The data-sized work is ONE groupBy(user) +
    * ONE groupBy(mask); the 16-coalition Shapley sum is constant-time.
    */
  val event_shapley = OpQuery.sql("event_shapley", "events")(
    """WITH u AS (
      |  SELECT user_id,
      |         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |         + 2 * MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |         + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      |         + 8 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |           AS mask,
      |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id),
      |co AS (
      |  SELECT mask, COUNT(*) AS n, SUM(conv) AS k FROM u GROUP BY mask),
      |masks AS (SELECT unnest(generate_series(0, 15)) AS m),
      |v AS (
      |  SELECT masks.m,
      |         COALESCE(CAST(co.k AS DOUBLE) / co.n, 0) AS v
      |  FROM masks LEFT JOIN co ON co.mask = masks.m),
      |ch AS (SELECT * FROM (VALUES (0, 1), (1, 2), (2, 4), (3, 8)) t(c, b)),
      |terms AS (
      |  SELECT ch.c, s.m AS sm,
      |         CASE bit_count(CAST(s.m AS BIGINT))
      |           WHEN 0 THEN 0.25 WHEN 3 THEN 0.25
      |           ELSE CAST(1 AS DOUBLE) / 12 END AS w,
      |         vs1.v - vs0.v AS marginal
      |  FROM ch
      |  JOIN v s ON (CAST(s.m AS BIGINT) & ch.b) = 0
      |  JOIN v vs0 ON vs0.m = s.m
      |  JOIN v vs1 ON vs1.m = s.m + ch.b),
      |shap AS (
      |  SELECT c,
      |         CAST(SUM(CAST(ROUND(w * marginal, 10) AS DECIMAL(28,10)))
      |           AS DOUBLE) AS phi
      |  FROM terms GROUP BY c)
      |SELECT CASE c WHEN 0 THEN 'view' WHEN 1 THEN 'click'
      |              WHEN 2 THEN 'signup' ELSE 'error' END AS channel,
      |       CAST(ROUND(phi, 8) AS DOUBLE) AS shapley_value
      |FROM shap
      |ORDER BY channel""".stripMargin,
    "unnest(generate_series(0, 15))" -> "explode(sequence(0, 15))")

  /** Gumbel (type-I extreme value) fit on weekly block maxima of daily
    * revenue via method of moments: β = s·√6/π, μ = x̄ − γβ (γ =
    * Euler–Mascheroni). Block maxima are exact DECIMAL; moments come
    * from exact power sums. Returns location/scale plus the fitted
    * 52-week return level μ − β·ln(−ln(1 − 1/52)).
    */
  val a91_gumbel_fit = OpQuery.sql("a91_gumbel_fit", "orders")(
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS e,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |wk AS (
      |  SELECT e // 7 AS w, MAX(y) AS mx FROM daily GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(mx) AS s1,
      |         SUM(CAST(mx * mx AS DECIMAL(38,4))) AS s2
      |  FROM wk),
      |fit AS (
      |  SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
      |         SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
      |           AS sd
      |  FROM m),
      |p AS (
      |  SELECT n, mean, sd,
      |         sd * SQRT(6) / PI() AS beta
      |  FROM fit)
      |SELECT CAST(n AS BIGINT) AS n_weeks,
      |       CAST(ROUND(mean, 4) AS DOUBLE) AS mean_max,
      |       CAST(ROUND(beta, 4) AS DOUBLE) AS scale_beta,
      |       CAST(ROUND(mean - 0.57721566490153286 * beta, 4) AS DOUBLE)
      |         AS location_mu,
      |       CAST(ROUND(mean - 0.57721566490153286 * beta
      |         - beta * LN(-LN(1 - CAST(1 AS DOUBLE) / 52)), 4) AS DOUBLE)
      |         AS return_level_52w
      |FROM p""".stripMargin,
    "epoch(" -> "unix_timestamp(",
    "//" -> "DIV")

  /** Higher-order array lambdas end-to-end: per order, the array of its
    * item quantities (sorted), then transform (×2), filter (evens),
    * exists/forall predicates, and a fold to the sum — Spark's
    * transform/filter/aggregate against DuckDB's list_* family, same
    * results. Arrays built by collect_list over an explicit sort.
    * Array-typed columns are serialized to comma-joined strings in BOTH
    * engines: the driver's checker row-sorts with pandas before hashing
    * and numpy arrays are unhashable, so every gate output column must
    * be scalar (round-5 verdict item 1).
    */
  val p26_lambda_funcs = OpQuery(
    "p26_lambda_funcs",
    """WITH arr AS (
      |  SELECT l_orderkey,
      |         list_sort(list(CAST(l_quantity AS INT))) AS qs
      |  FROM lineitem WHERE l_orderkey < 100
      |  GROUP BY l_orderkey)
      |SELECT l_orderkey,
      |       array_to_string(qs, ',') AS qs_str,
      |       array_to_string(list_transform(qs, x -> x * 2), ',') AS doubled,
      |       COALESCE(array_to_string(list_filter(qs, x -> x % 2 = 0), ','), '')
      |         AS evens,
      |       len(list_filter(qs, x -> x > 30)) > 0 AS any_gt30,
      |       len(list_filter(qs, x -> x > 0)) = len(qs) AS all_pos,
      |       CAST(list_sum(qs) AS BIGINT) AS total
      |FROM arr ORDER BY l_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_hof_li")
    spark.sql(
      """WITH arr AS (
        |  SELECT l_orderkey,
        |         array_sort(collect_list(CAST(l_quantity AS INT))) AS qs
        |  FROM graft_hof_li WHERE l_orderkey < 100
        |  GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |       array_join(qs, ',') AS qs_str,
        |       array_join(transform(qs, x -> x * 2), ',') AS doubled,
        |       array_join(filter(qs, x -> x % 2 = 0), ',') AS evens,
        |       exists(qs, x -> x > 30) AS any_gt30,
        |       forall(qs, x -> x > 0) AS all_pos,
        |       CAST(aggregate(qs, 0L, (acc, x) -> acc + x) AS BIGINT) AS total
        |FROM arr ORDER BY l_orderkey""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(event_shapley, a91_gumbel_fit, p26_lambda_funcs)
}
