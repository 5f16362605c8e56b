package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 108: rank-based and residual diagnostics — the
  * Kruskal–Wallis H test, the Brown–Forsythe (median-centered Levene)
  * variance-homogeneity test, and the Durbin–Watson autocorrelation
  * statistic on trend residuals.
  */
object Round4Ops108 {

  /** Kruskal–Wallis H across the five market segments on account
    * balance: tie-averaged ranks (AVG of row_number per distinct value —
    * exact multiples of 0.5, summed as DECIMAL), H from per-group rank
    * sums, and the tie-correction factor from exact integer Σ(t³−t).
    * One sort window + two aggregates; the rank window is the only
    * shuffle that grows with data.
    */
  val a86_kruskal_wallis = OpQuery(
    "a86_kruskal_wallis",
    """WITH v AS (
      |  SELECT c_mktsegment AS g, CAST(c_acctbal AS DECIMAL(15,2)) AS x
      |  FROM customer),
      |rn AS (SELECT g, x, ROW_NUMBER() OVER (ORDER BY x) AS r FROM v),
      |ar AS (
      |  SELECT g, x,
      |         CAST(AVG(CAST(r AS DOUBLE)) OVER (PARTITION BY x)
      |           AS DECIMAL(28,1)) AS ar
      |  FROM rn),
      |gs AS (SELECT g, COUNT(*) AS n, SUM(ar) AS s FROM ar GROUP BY g),
      |nn AS (SELECT SUM(n) AS n FROM gs),
      |ties AS (SELECT x, COUNT(*) AS t FROM v GROUP BY x),
      |tc AS (
      |  SELECT SUM(t * t * t - t) AS tsum FROM ties),
      |h AS (
      |  SELECT CAST(12 AS DOUBLE) / (nn.n * (nn.n + 1)) *
      |         CAST(SUM(CAST(ROUND(CAST(gs.s AS DOUBLE) * gs.s / gs.n, 6)
      |           AS DECIMAL(38,6))) AS DOUBLE)
      |         - 3 * (nn.n + 1) AS h, MAX(nn.n) AS n
      |  FROM gs CROSS JOIN nn GROUP BY nn.n)
      |SELECT gs.g AS segment, CAST(gs.n AS BIGINT) AS n,
      |       CAST(gs.s AS DOUBLE) AS rank_sum,
      |       CAST(ROUND(CAST(gs.s AS DOUBLE) / gs.n, 4) AS DOUBLE) AS mean_rank,
      |       CAST(ROUND(h.h, 6) AS DOUBLE) AS h_stat,
      |       CAST(ROUND(h.h / (1 - CAST(tc.tsum AS DOUBLE) /
      |         (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)), 6) AS DOUBLE)
      |         AS h_tie_corrected
      |FROM gs CROSS JOIN h CROSS JOIN tc
      |ORDER BY segment""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "customer").createOrReplaceTempView("graft_kw_customer")
    // Midranks WITHOUT the table-sized global ROW_NUMBER (winscan r9:
    // RAW global window): the midrank of value x is
    // (# values < x) + (t_x + 1)/2 — a function of DISTINCT-value
    // prefix counts only. The distinct-value prefix sum itself goes
    // through TotalOrder.prefixSum (ADVICE r9: the c_acctbal value
    // domain is ≤ ~1.1M distinct at any scale — "post-agg bounded" but
    // large enough that a single-reducer ORDER BY frame deserves the
    // distributed prefix machinery like every other round-9 rewrite).
    // Exactness unchanged: prefixSum's running total is bit-equal to
    // SUM(t) OVER (ORDER BY x) on distinct keys, midranks stay exact
    // 0.5-multiples in DECIMAL(28,1), and the count-weighted group sum
    // equals the per-row sum term-for-term.
    val v = spark.table("graft_kw_customer").select(
      col("c_mktsegment").as("g"),
      col("c_acctbal").cast("decimal(15,2)").as("x"))
    v.createOrReplaceTempView("graft_kw_v")
    val tiesd = v.groupBy(col("x")).agg(count(lit(1)).as("t"))
    graft.operators.TotalOrder.prefixSum(
      tiesd, Seq(col("x").asc), "t", "ct")
      .select(col("x"), col("t"),
        (col("ct") - col("t") + (col("t") + 1) / 2.0)
          .cast("decimal(28,1)").as("ar"))
      .createOrReplaceTempView("graft_kw_mr")
    spark.sql(
      """WITH v AS (SELECT g, x FROM graft_kw_v),
        |tiesd AS (SELECT x, t FROM graft_kw_mr),
        |mr AS (SELECT x, ar FROM graft_kw_mr),
        |vg AS (SELECT g, x, COUNT(*) AS c FROM v GROUP BY g, x),
        |gs AS (
        |  SELECT g, SUM(c) AS n,
        |         CAST(SUM(CAST(c AS DECIMAL(18,0)) * ar) AS DECIMAL(38,1)) AS s
        |  FROM vg JOIN mr USING (x) GROUP BY g),
        |nn AS (SELECT SUM(n) AS n FROM gs),
        |tc AS (
        |  SELECT SUM(t * t * t - t) AS tsum FROM tiesd),
        |h AS (
        |  SELECT CAST(12 AS DOUBLE) / (nn.n * (nn.n + 1)) *
        |         CAST(SUM(CAST(ROUND(CAST(gs.s AS DOUBLE) * gs.s / gs.n, 6)
        |           AS DECIMAL(38,6))) AS DOUBLE)
        |         - 3 * (nn.n + 1) AS h, MAX(nn.n) AS n
        |  FROM gs CROSS JOIN nn GROUP BY nn.n)
        |SELECT gs.g AS segment, CAST(gs.n AS BIGINT) AS n,
        |       CAST(gs.s AS DOUBLE) AS rank_sum,
        |       CAST(ROUND(CAST(gs.s AS DOUBLE) / gs.n, 4) AS DOUBLE) AS mean_rank,
        |       CAST(ROUND(h.h, 6) AS DOUBLE) AS h_stat,
        |       CAST(ROUND(h.h / (1 - CAST(tc.tsum AS DOUBLE) /
        |         (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)), 6) AS DOUBLE)
        |         AS h_tie_corrected
        |FROM gs CROSS JOIN h CROSS JOIN tc
        |ORDER BY segment""".stripMargin)
  }

  /** Brown–Forsythe test (Levene with median centers) for variance
    * homogeneity of order totals across the five priorities: exact
    * lower-median per group by order statistic, |x − med| spreads as
    * exact DECIMALs, then a one-way ANOVA F on the spreads from exact
    * power sums with quantized cross-group folds.
    */
  val a87_levene_bf = OpQuery.sql("a87_levene_bf", "orders")(
    """WITH v AS (
      |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DECIMAL(18,2)) AS x
      |  FROM orders),
      |rk AS (
      |  SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS r,
      |         COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM v),
      |med AS (
      |  SELECT g, MAX(CASE WHEN r * 2 = n OR r * 2 = n + 1 THEN x END) AS m
      |  FROM rk GROUP BY g),
      |z AS (
      |  SELECT v.g, CAST(ABS(v.x - med.m) AS DECIMAL(18,2)) AS z
      |  FROM v JOIN med ON v.g = med.g),
      |gs AS (
      |  SELECT g, COUNT(*) AS n, SUM(z) AS s1 FROM z GROUP BY g),
      |tt AS (
      |  SELECT SUM(n) AS n, SUM(s1) AS s1, COUNT(*) AS k FROM gs),
      |gm AS (
      |  SELECT g, n, CAST(s1 AS DOUBLE) / n AS m FROM gs),
      |ssbq AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |    gm.n * (gm.m - CAST(tt.s1 AS DOUBLE) / tt.n)
      |         * (gm.m - CAST(tt.s1 AS DOUBLE) / tt.n), 6)
      |    AS DECIMAL(38,6))) AS DOUBLE) AS ssb
      |  FROM gm CROSS JOIN tt),
      |sswq AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |    (CAST(z.z AS DOUBLE) - gm.m) * (CAST(z.z AS DOUBLE) - gm.m), 6)
      |    AS DECIMAL(38,6))) AS DOUBLE) AS ssw
      |  FROM z JOIN gm ON z.g = gm.g),
      |parts AS (
      |  SELECT ssbq.ssb, sswq.ssw, tt.n, tt.k
      |  FROM ssbq CROSS JOIN sswq CROSS JOIN tt)
      |SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(ssb, 2) AS DOUBLE) AS ssb,
      |       CAST(ROUND(ssw, 2) AS DOUBLE) AS ssw,
      |       CAST(ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS DOUBLE) AS f
      |FROM parts""".stripMargin)

  /** Durbin–Watson statistic on the residuals of the daily-revenue
    * OLS trend: slope/intercept from exact DECIMAL normal-equation
    * sums, residuals evaluated per day, DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² with both
    * residual sums quantized to DECIMAL so the fold order cannot move
    * the statistic. DW ≈ 2 means uncorrelated residuals.
    */
  val a88_durbin_watson = OpQuery.sql("a88_durbin_watson", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      |  FROM daily),
      |s AS (
      |  SELECT COUNT(*) AS n, SUM(t) AS st, SUM(t * t) AS stt,
      |         SUM(y) AS sy, SUM(CAST(t AS DECIMAL(18,0)) * y) AS sty
      |  FROM idx),
      |fit AS (
      |  SELECT n,
      |         (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
      |           / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS b,
      |         st, sy
      |  FROM s),
      |ab AS (
      |  SELECT n, b, (CAST(sy AS DOUBLE) - b * st) / n AS a FROM fit),
      |res AS (
      |  SELECT idx.t, CAST(idx.y AS DOUBLE) - (ab.a + ab.b * idx.t) AS e
      |  FROM idx CROSS JOIN ab),
      |lagged AS (
      |  SELECT e, LAG(e) OVER (ORDER BY t) AS ep FROM res),
      |dw AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND((e - ep) * (e - ep), 6) AS DECIMAL(38,6)))
      |      AS DOUBLE) AS num,
      |    CAST(SUM(CAST(ROUND(e * e, 6) AS DECIMAL(38,6))) AS DOUBLE) AS den
      |  FROM lagged WHERE ep IS NOT NULL)
      |SELECT CAST(ab.n AS BIGINT) AS n_days,
      |       CAST(ROUND(ab.b, 6) AS DOUBLE) AS slope,
      |       CAST(ROUND(ab.a, 4) AS DOUBLE) AS intercept,
      |       CAST(ROUND(dw.num / dw.den, 6) AS DOUBLE) AS dw
      |FROM ab CROSS JOIN dw""".stripMargin)

  val all: Seq[OpQuery] = Seq(a86_kruskal_wallis, a87_levene_bf,
    a88_durbin_watson)
}
