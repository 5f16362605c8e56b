package graft.queries

import graft.Tables

/** Round-4 batch 119: partial autocorrelation via Durbin–Levinson,
  * a hash-uniformity KS audit, and an exponential inter-arrival fit.
  */
object Round4Ops119 {

  /** PACF at lags 1–3 by the Durbin–Levinson recursion on the first
    * three autocorrelations of daily revenue. The ACF numerators are
    * quantized-DECIMAL folds over the lag-joined series (one window,
    * three self-aligned lags in a single pass); the recursion itself is
    * a fixed scalar formula. PACF(2)/PACF(3) tell you the true AR
    * order where the plain ACF can't.
    */
  val ts_pacf3 = OpQuery.sql("ts_pacf3", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT CAST(y AS DOUBLE) AS y, ROW_NUMBER() OVER (ORDER BY d) AS t
      |  FROM daily),
      |mu AS (
      |  SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS m FROM
      |    (SELECT CAST(y AS DECIMAL(18,2)) AS y FROM daily)),
      |lagd AS (
      |  SELECT idx.t, idx.y - mu.m AS e,
      |         LAG(idx.y, 1) OVER (ORDER BY idx.t) - mu.m AS e1,
      |         LAG(idx.y, 2) OVER (ORDER BY idx.t) - mu.m AS e2,
      |         LAG(idx.y, 3) OVER (ORDER BY idx.t) - mu.m AS e3
      |  FROM idx CROSS JOIN mu),
      |acv AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND(e * e, 6) AS DECIMAL(38,6))) AS DOUBLE) AS c0,
      |    CAST(SUM(CAST(ROUND(e * e1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS c1,
      |    CAST(SUM(CAST(ROUND(e * e2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS c2,
      |    CAST(SUM(CAST(ROUND(e * e3, 6) AS DECIMAL(38,6))) AS DOUBLE) AS c3
      |  FROM lagd),
      |r AS (
      |  SELECT c1 / c0 AS r1, c2 / c0 AS r2, c3 / c0 AS r3 FROM acv),
      |dl AS (
      |  SELECT r1, r2, r3,
      |         (r2 - r1 * r1) / (1 - r1 * r1) AS p22
      |  FROM r),
      |dl2 AS (
      |  SELECT r1, r2, r3, p22, r1 - p22 * r1 AS p21 FROM dl)
      |SELECT CAST(ROUND(r1, 6) AS DOUBLE) AS pacf1,
      |       CAST(ROUND(p22, 6) AS DOUBLE) AS pacf2,
      |       CAST(ROUND((r3 - p21 * r2 - p22 * r1)
      |         / (1 - p21 * r1 - p22 * r2), 6) AS DOUBLE) AS pacf3
      |FROM dl2""".stripMargin)

  /** Hash-uniformity audit: md5-derived 32-bit values of the customer
    * keys, tested against Uniform(0,1) with the one-sample
    * Kolmogorov–Smirnov D (both one-sided gaps from exact ranks) and a
    * 10-bucket chi-square. If a partitioner used this hash, D tells you
    * how even the split would be — the pre-shuffle key-skew check.
    */
  val dq_hash_uniformity = OpQuery(
    "dq_hash_uniformity",
    """WITH h AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
      |           AS BIGINT) AS v, c_custkey
      |  FROM customer),
      |u AS (
      |  SELECT CAST(v AS DOUBLE) / 4294967296.0 AS x,
      |         ROW_NUMBER() OVER (ORDER BY v, c_custkey) AS r,
      |         COUNT(*) OVER () AS n
      |  FROM h),
      |ks AS (
      |  SELECT MAX(ROUND(GREATEST(CAST(r AS DOUBLE) / n - x,
      |                            x - CAST(r - 1 AS DOUBLE) / n), 8)) AS d,
      |         MAX(n) AS n
      |  FROM u),
      |buckets AS (
      |  SELECT CAST(FLOOR(x * 10) AS INT) AS b, COUNT(*) AS c FROM u GROUP BY 1),
      |chi AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |    POW(c - CAST(ks.n AS DOUBLE) / 10, 2) / (CAST(ks.n AS DOUBLE) / 10),
      |    8) AS DECIMAL(28,8))) AS DOUBLE) AS x2
      |  FROM buckets CROSS JOIN ks)
      |SELECT CAST(ks.n AS BIGINT) AS n,
      |       CAST(ks.d AS DOUBLE) AS ks_d,
      |       CAST(ROUND(ks.d * SQRT(ks.n), 6) AS DOUBLE) AS ks_stat,
      |       CAST(ROUND(chi.x2, 6) AS DOUBLE) AS chi2_10bucket
      |FROM ks CROSS JOIN chi""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "customer").createOrReplaceTempView("graft_hu_customer")
    // the ECDF rank of every hashed key via TotalOrder two-phase ranks
    // (the window form single-reduced the whole customer table)
    graft.operators.TotalOrder
      .rowNumberWithCount(
        spark.sql(
          """SELECT CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10)
            |         AS BIGINT) AS v, c_custkey
            |FROM graft_hu_customer""".stripMargin),
        Seq(org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("c_custkey")), "r", "n")
      .selectExpr("CAST(v AS DOUBLE) / 4294967296.0 AS x", "r", "n")
      .createOrReplaceTempView("graft_hu_u")
    spark.sql(
      """WITH u AS (SELECT x, r, n FROM graft_hu_u),
        |ks AS (
        |  SELECT MAX(ROUND(GREATEST(CAST(r AS DOUBLE) / n - x,
        |                            x - CAST(r - 1 AS DOUBLE) / n), 8)) AS d,
        |         MAX(n) AS n
        |  FROM u),
        |buckets AS (
        |  SELECT CAST(FLOOR(x * 10) AS INT) AS b, COUNT(*) AS c FROM u GROUP BY 1),
        |chi AS (
        |  SELECT CAST(SUM(CAST(ROUND(
        |    POW(c - CAST(ks.n AS DOUBLE) / 10, 2) / (CAST(ks.n AS DOUBLE) / 10),
        |    8) AS DECIMAL(28,8))) AS DOUBLE) AS x2
        |  FROM buckets CROSS JOIN ks)
        |SELECT CAST(ks.n AS BIGINT) AS n,
        |       CAST(ks.d AS DOUBLE) AS ks_d,
        |       CAST(ROUND(ks.d * SQRT(ks.n), 6) AS DOUBLE) AS ks_stat,
        |       CAST(ROUND(chi.x2, 6) AS DOUBLE) AS chi2_10bucket
        |FROM ks CROSS JOIN chi""".stripMargin)
  }

  /** Inter-arrival analysis of the event stream: per-user gaps in
    * EXACT microseconds (epoch arithmetic on the raw timestamps), the
    * exponential rate fit λ = 1/mean, the coefficient of variation
    * (CV ≈ 1 ⇒ Poisson arrivals, > 1 ⇒ bursty), and the KS distance of
    * the observed gaps from Exp(λ). Moments are exact DECIMAL sums of
    * integer microseconds.
    */
  val event_interarrival = OpQuery(
    "event_interarrival",
    """WITH g AS (
      |  SELECT CAST(epoch_us(ts) - LAG(epoch_us(ts))
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
      |           AS gap
      |  FROM events),
      |v AS (SELECT gap FROM g WHERE gap IS NOT NULL AND gap > 0),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(CAST(gap AS DECIMAL(28,0))) AS s1,
      |         SUM(CAST(gap AS DECIMAL(28,0)) * gap) AS s2
      |  FROM v),
      |fit AS (
      |  SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
      |         SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
      |           AS sd
      |  FROM m),
      |ks AS (
      |  SELECT MAX(ROUND(GREATEST(
      |           CAST(r AS DOUBLE) / u.n - (1 - EXP(-x / fit.mean)),
      |           (1 - EXP(-x / fit.mean)) - CAST(r - 1 AS DOUBLE) / u.n), 8))
      |           AS d
      |  FROM (
      |    SELECT CAST(gap AS DOUBLE) AS x,
      |           ROW_NUMBER() OVER (ORDER BY gap) AS r,
      |           COUNT(*) OVER () AS n
      |    FROM v) u CROSS JOIN fit)
      |SELECT CAST(fit.n AS BIGINT) AS n_gaps,
      |       CAST(ROUND(fit.mean / 1000000, 4) AS DOUBLE) AS mean_gap_sec,
      |       CAST(ROUND(1000000 / fit.mean, 6) AS DOUBLE) AS rate_per_sec,
      |       CAST(ROUND(fit.sd / fit.mean, 6) AS DOUBLE) AS cv,
      |       CAST(ks.d AS DOUBLE) AS ks_d_vs_exp
      |FROM fit CROSS JOIN ks""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_ia_events")
    // the ECDF rank of every gap via TotalOrder two-phase ranks (the
    // per-user LAG stays a PARTITIONED window — that one scales); only
    // the partition-less global rank moved off the single reducer
    graft.operators.TotalOrder
      .rowNumberWithCount(
        spark.sql(
          """WITH g AS (
            |  SELECT CAST(unix_micros(ts) - LAG(unix_micros(ts))
            |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
            |           AS gap
            |  FROM graft_ia_events)
            |SELECT gap FROM g WHERE gap IS NOT NULL AND gap > 0""".stripMargin),
        Seq(org.apache.spark.sql.functions.col("gap")), "r", "n")
      .selectExpr("CAST(gap AS DOUBLE) AS x", "r", "n")
      .createOrReplaceTempView("graft_ia_u")
    spark.sql(
      """WITH g AS (
        |  SELECT CAST(unix_micros(ts) - LAG(unix_micros(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
        |           AS gap
        |  FROM graft_ia_events),
        |v AS (SELECT gap FROM g WHERE gap IS NOT NULL AND gap > 0),
        |m AS (
        |  SELECT COUNT(*) AS n, SUM(CAST(gap AS DECIMAL(28,0))) AS s1,
        |         SUM(CAST(gap AS DECIMAL(28,0)) * gap) AS s2
        |  FROM v),
        |fit AS (
        |  SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
        |         SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
        |           AS sd
        |  FROM m),
        |ks AS (
        |  SELECT MAX(ROUND(GREATEST(
        |           CAST(r AS DOUBLE) / u.n - (1 - EXP(-x / fit.mean)),
        |           (1 - EXP(-x / fit.mean)) - CAST(r - 1 AS DOUBLE) / u.n), 8))
        |           AS d
        |  FROM graft_ia_u u CROSS JOIN fit)
        |SELECT CAST(fit.n AS BIGINT) AS n_gaps,
        |       CAST(ROUND(fit.mean / 1000000, 4) AS DOUBLE) AS mean_gap_sec,
        |       CAST(ROUND(1000000 / fit.mean, 6) AS DOUBLE) AS rate_per_sec,
        |       CAST(ROUND(fit.sd / fit.mean, 6) AS DOUBLE) AS cv,
        |       CAST(ks.d AS DOUBLE) AS ks_d_vs_exp
        |FROM fit CROSS JOIN ks""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(ts_pacf3, dq_hash_uniformity, event_interarrival)
}
