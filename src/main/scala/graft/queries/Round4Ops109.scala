package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 109: a trained-and-scored naive-Bayes classifier, a
  * two-feature OLS fit by normal equations, and ranked-retrieval
  * average precision.
  */
object Round4Ops109 {

  /** Multinomial naive Bayes trained IN SQL: split customers 80/20 by
    * key hash, learn Laplace-smoothed log-likelihoods of (nation,
    * balance band) per market segment on the train split, score the
    * holdout by joining the two likelihood tables plus the prior, and
    * report the confusion matrix. Scores are quantized to 8 decimals
    * before the argmax window so tie-breaks (then by class name) are
    * engine-stable. Three aggregates + two broadcast-size joins.
    */
  val ml_naive_bayes = OpQuery.sql("ml_naive_bayes", "customer")(
    """WITH base AS (
      |  SELECT c_custkey AS id, c_mktsegment AS cls, c_nationkey AS f1,
      |         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000) AS INT) AS f2,
      |         c_custkey % 5 = 4 AS is_test
      |  FROM customer),
      |pri AS (
      |  SELECT cls, COUNT(*) AS nc FROM base WHERE NOT is_test GROUP BY cls),
      |tot AS (SELECT SUM(nc) AS n, COUNT(*) AS k FROM pri),
      |l1 AS (
      |  SELECT cls, f1, COUNT(*) AS c FROM base WHERE NOT is_test GROUP BY cls, f1),
      |l2 AS (
      |  SELECT cls, f2, COUNT(*) AS c FROM base WHERE NOT is_test GROUP BY cls, f2),
      |v1 AS (SELECT COUNT(DISTINCT f1) AS v FROM base),
      |v2 AS (SELECT COUNT(DISTINCT f2) AS v FROM base),
      |scored AS (
      |  SELECT b.id, b.cls AS actual, pri.cls AS cand,
      |         ROUND(
      |           LN(CAST(pri.nc AS DOUBLE) / tot.n) +
      |           LN((COALESCE(l1.c, 0) + 1.0) / (pri.nc + v1.v)) +
      |           LN((COALESCE(l2.c, 0) + 1.0) / (pri.nc + v2.v)), 8) AS s
      |  FROM base b
      |  CROSS JOIN pri CROSS JOIN tot CROSS JOIN v1 CROSS JOIN v2
      |  LEFT JOIN l1 ON l1.cls = pri.cls AND l1.f1 = b.f1
      |  LEFT JOIN l2 ON l2.cls = pri.cls AND l2.f2 = b.f2
      |  WHERE b.is_test),
      |pred AS (
      |  SELECT id, actual, cand,
      |         ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cand) AS rk
      |  FROM scored)
      |SELECT actual, cand AS predicted, COUNT(*) AS n
      |FROM pred WHERE rk = 1
      |GROUP BY actual, cand
      |ORDER BY actual, predicted""".stripMargin)

  /** Two-feature OLS by normal equations: daily revenue regressed on
    * the day index and a weekend indicator (weekday from pure epoch-day
    * arithmetic — no engine calendar involved). The 3×3 system is
    * solved by Cramer's rule on EXACT integer/decimal sums, so the
    * coefficients are bit-identical; R² comes from quantized residual
    * sums. One aggregation over the daily series.
    */
  val ml_ols2 = OpQuery.sql("ml_ols2", "orders")(
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS e,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |xy AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY e) AS t,
      |         CASE WHEN (e + 3) % 7 IN (5, 6) THEN 1 ELSE 0 END AS w, y
      |  FROM daily),
      |s AS (
      |  SELECT COUNT(*) AS n, SUM(t) AS st, SUM(w) AS sw,
      |         SUM(t * t) AS stt, SUM(t * w) AS stw, SUM(w * w) AS sww,
      |         SUM(y) AS sy, SUM(CAST(t AS DECIMAL(18,0)) * y) AS sty,
      |         SUM(CAST(w AS DECIMAL(18,0)) * y) AS swy
      |  FROM xy),
      |d AS (
      |  SELECT n, st, sw, stt, stw, sww,
      |         CAST(sy AS DOUBLE) AS sy, CAST(sty AS DOUBLE) AS sty,
      |         CAST(swy AS DOUBLE) AS swy,
      |         CAST(n AS DOUBLE) * (CAST(stt AS DOUBLE) * sww - CAST(stw AS DOUBLE) * stw)
      |           - CAST(st AS DOUBLE) * (CAST(st AS DOUBLE) * sww - CAST(stw AS DOUBLE) * sw)
      |           + CAST(sw AS DOUBLE) * (CAST(st AS DOUBLE) * stw - CAST(stt AS DOUBLE) * sw)
      |           AS det
      |  FROM s),
      |coef AS (
      |  SELECT n,
      |    (sy * (CAST(stt AS DOUBLE) * sww - CAST(stw AS DOUBLE) * stw)
      |     - CAST(st AS DOUBLE) * (sty * sww - CAST(stw AS DOUBLE) * swy)
      |     + CAST(sw AS DOUBLE) * (sty * CAST(stw AS DOUBLE) - CAST(stt AS DOUBLE) * swy))
      |      / det AS a,
      |    (CAST(n AS DOUBLE) * (sty * sww - CAST(stw AS DOUBLE) * swy)
      |     - sy * (CAST(st AS DOUBLE) * sww - CAST(stw AS DOUBLE) * sw)
      |     + CAST(sw AS DOUBLE) * (CAST(st AS DOUBLE) * swy - sty * sw))
      |      / det AS b1,
      |    (CAST(n AS DOUBLE) * (CAST(stt AS DOUBLE) * swy - sty * CAST(stw AS DOUBLE))
      |     - CAST(st AS DOUBLE) * (CAST(st AS DOUBLE) * swy - sty * sw)
      |     + sy * (CAST(st AS DOUBLE) * stw - CAST(stt AS DOUBLE) * sw))
      |      / det AS b2,
      |    sy
      |  FROM d),
      |errs AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND(
      |      (CAST(xy.y AS DOUBLE) - (c.a + c.b1 * xy.t + c.b2 * xy.w))
      |      * (CAST(xy.y AS DOUBLE) - (c.a + c.b1 * xy.t + c.b2 * xy.w)), 4)
      |      AS DECIMAL(38,4))) AS DOUBLE) AS sse,
      |    CAST(SUM(CAST(ROUND(
      |      (CAST(xy.y AS DOUBLE) - c.sy / c.n)
      |      * (CAST(xy.y AS DOUBLE) - c.sy / c.n), 4)
      |      AS DECIMAL(38,4))) AS DOUBLE) AS sst
      |  FROM xy CROSS JOIN coef c)
      |SELECT CAST(coef.n AS BIGINT) AS n_days,
      |       CAST(ROUND(coef.a, 4) AS DOUBLE) AS intercept,
      |       CAST(ROUND(coef.b1, 6) AS DOUBLE) AS slope_t,
      |       CAST(ROUND(coef.b2, 4) AS DOUBLE) AS weekend_effect,
      |       CAST(ROUND(1 - errs.sse / errs.sst, 6) AS DOUBLE) AS r2
      |FROM coef CROSS JOIN errs""".stripMargin,
    "epoch(" -> "unix_timestamp(")

  /** Average precision of the pinned scorer (score = embedding[1],
    * relevant = label%2): AP = Σₖ P(k)·rel(k) / n⁺ down the full
    * ranking, plus precision@10 and precision@100. One sort window; the
    * per-rank precision terms are exact rationals quantized to 10
    * decimals before the DECIMAL sum.
    */
  val eval_average_precision = OpQuery(
    "eval_average_precision",
    """WITH scored AS (
      |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
      |         CAST(label % 2 AS INT) AS y
      |  FROM embeddings),
      |ranked AS (
      |  SELECT y, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS k,
      |         SUM(y) OVER (ORDER BY score DESC, vec_id
      |                      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM scored),
      |m AS (
      |  SELECT SUM(y) AS npos, COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(CASE WHEN y = 1
      |             THEN CAST(cum AS DOUBLE) / k ELSE 0 END, 10)
      |           AS DECIMAL(28,10))) AS DOUBLE) AS apsum,
      |         MAX(CASE WHEN k = 10 THEN cum END) AS hit10,
      |         MAX(CASE WHEN k = 100 THEN cum END) AS hit100
      |  FROM ranked)
      |SELECT CAST(npos AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(apsum / npos, 6) AS DOUBLE) AS avg_precision,
      |       CAST(hit10 AS DOUBLE) / 10 AS p_at_10,
      |       CAST(hit100 AS DOUBLE) / 100 AS p_at_100
      |FROM m""".stripMargin) { (spark, dir) =>
    // The rank index and running-positives prefix both come from ONE
    // TotalOrder range shuffle — the embeddings frame is table-sized, so
    // no un-partitioned row_number/SUM window.
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") % 2).cast("int").as("y"))
    val ranked = graft.operators.TotalOrder.prefixAggs(
        base, Seq(col("score").desc, col("vec_id")),
        sums = Seq("y" -> "cum"), rnCol = Some("k"))
      .select(col("y"), col("k"), col("cum"))
    ranked.agg(
        sum(col("y")).as("npos"), count(lit(1)).as("n"),
        sum(round(when(col("y") === 1, col("cum").cast("double") / col("k"))
            .otherwise(0), 10).cast("decimal(28,10)"))
          .cast("double").as("apsum"),
        max(when(col("k") === 10, col("cum"))).as("hit10"),
        max(when(col("k") === 100, col("cum"))).as("hit100"))
      .select(col("npos").cast("long").as("n_pos"), col("n").cast("long").as("n"),
        round(col("apsum") / col("npos"), 6).cast("double").as("avg_precision"),
        (col("hit10").cast("double") / 10).as("p_at_10"),
        (col("hit100").cast("double") / 100).as("p_at_100"))
  }

  val all: Seq[OpQuery] = Seq(ml_naive_bayes, ml_ols2, eval_average_precision)
}
