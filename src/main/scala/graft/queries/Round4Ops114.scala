package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 114: Haar wavelet energy decomposition, the Atkinson
  * inequality index, and a gap-aware RANGE window frame.
  */
object Round4Ops114 {

  /** Three-level Haar wavelet decomposition of the first 256 days of
    * revenue: UNNORMALIZED pairwise sums/differences computed ENTIRELY in
    * DECIMAL (no division anywhere, so every coefficient is exact and
    * engine-identical; energies carry the 2^level factor — pinned
    * contract), detail energy per level as exact DECIMAL sums. Shows where the series' variance lives —
    * day-to-day noise vs multi-day swings. Each level is one
    * conditional aggregate over pair ids: O(n) total, no FFT shuffle.
    */
  val ts_haar = OpQuery.sql("ts_haar", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |base AS (
      |  SELECT t, x FROM (
      |    SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS t,
      |           CAST(y / 10000 AS DECIMAL(16,6)) AS x
      |    FROM daily) q
      |  WHERE t < 256),
      |l1 AS (
      |  SELECT t // 2 AS t2,
      |         CAST(SUM(CASE WHEN t % 2 = 0 THEN x ELSE -x END)
      |           AS DECIMAL(16,6)) AS det,
      |         CAST(SUM(x) AS DECIMAL(16,6)) AS app
      |  FROM base GROUP BY 1),
      |l2 AS (
      |  SELECT t2 // 2 AS t3,
      |         CAST(SUM(CASE WHEN t2 % 2 = 0 THEN app ELSE -app END)
      |           AS DECIMAL(16,6)) AS det,
      |         CAST(SUM(app) AS DECIMAL(16,6)) AS app
      |  FROM l1 GROUP BY 1),
      |l3 AS (
      |  SELECT t3 // 2 AS t4,
      |         CAST(SUM(CASE WHEN t3 % 2 = 0 THEN app ELSE -app END)
      |           AS DECIMAL(16,6)) AS det,
      |         CAST(SUM(app) AS DECIMAL(16,6)) AS app
      |  FROM l2 GROUP BY 1),
      |e AS (
      |  SELECT 1 AS level, COUNT(*) AS n_coeffs,
      |         CAST(SUM(CAST(det * det AS DECIMAL(38,12))) AS DOUBLE) AS energy
      |  FROM l1
      |  UNION ALL
      |  SELECT 2, COUNT(*),
      |         CAST(SUM(CAST(det * det AS DECIMAL(38,12))) AS DOUBLE)
      |  FROM l2
      |  UNION ALL
      |  SELECT 3, COUNT(*),
      |         CAST(SUM(CAST(det * det AS DECIMAL(38,12))) AS DOUBLE)
      |  FROM l3),
      |tot AS (SELECT SUM(energy) AS te FROM e)
      |SELECT CAST(level AS INT) AS level, CAST(n_coeffs AS BIGINT) AS n_coeffs,
      |       CAST(ROUND(energy, 6) AS DOUBLE) AS energy,
      |       CAST(ROUND(energy / tot.te, 6) AS DOUBLE) AS energy_share
      |FROM e CROSS JOIN tot
      |ORDER BY level""".stripMargin,
    "//" -> "DIV")

  /** Atkinson inequality index over positive account balances at two
    * inequality-aversion levels: ε = 0.5 (EDE from the mean of √x,
    * quantized-DECIMAL sum of per-row square roots) and ε = 2 (EDE =
    * harmonic mean, per-row reciprocals likewise quantized). One scan,
    * one reduce — the welfare-weighted sibling of the Gini gate.
    */
  val a90_atkinson = OpQuery(
    "a90_atkinson",
    """WITH v AS (
      |  SELECT CAST(c_acctbal AS DECIMAL(15,2)) AS x FROM customer
      |  WHERE c_acctbal > 0),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS s1,
      |         CAST(SUM(CAST(ROUND(SQRT(CAST(x AS DOUBLE)), 8)
      |           AS DECIMAL(28,8))) AS DOUBLE) AS ssqrt,
      |         CAST(SUM(CAST(ROUND(1 / CAST(x AS DOUBLE), 12)
      |           AS DECIMAL(28,12))) AS DOUBLE) AS sinv
      |  FROM v)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(CAST(s1 AS DOUBLE) / n, 4) AS DOUBLE) AS mean,
      |       CAST(ROUND(1 - (ssqrt / n) * (ssqrt / n)
      |         / (CAST(s1 AS DOUBLE) / n), 6) AS DOUBLE) AS atkinson_eps05,
      |       CAST(ROUND(1 - (n / sinv) / (CAST(s1 AS DOUBLE) / n), 6)
      |         AS DOUBLE) AS atkinson_eps2
      |FROM m""".stripMargin) { (spark, dir) =>
    val m = Tables.load(spark, dir, "customer")
      .filter(col("c_acctbal") > 0)
      .select(col("c_acctbal").cast("decimal(15,2)").as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(round(sqrt(col("x").cast("double")), 8).cast("decimal(28,8)"))
          .cast("double").as("ssqrt"),
        sum(round(lit(1) / col("x").cast("double"), 12).cast("decimal(28,12)"))
          .cast("double").as("sinv"))
    val mean = col("s1").cast("double") / col("n")
    m.select(col("n").cast("long").as("n"),
      round(mean, 4).cast("double").as("mean"),
      round(lit(1) - (col("ssqrt") / col("n")) * (col("ssqrt") / col("n")) / mean, 6)
        .cast("double").as("atkinson_eps05"),
      round(lit(1) - (col("n") / col("sinv")) / mean, 6)
        .cast("double").as("atkinson_eps2"))
  }

  /** Gap-aware rolling revenue: a RANGE frame over the epoch-day
    * ORDER BY covers "the last 7 calendar days" even when days are
    * missing from the series — the frame ROWS cannot express. Also
    * reports the day count actually inside each frame. DECIMAL sums
    * keep it exact; dates leave as strings per the cross-engine
    * timestamp contract.
    */
  val w13_range_frame = OpQuery(
    "w13_range_frame",
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS e,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT e, y,
      |         SUM(y) OVER (ORDER BY e RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |           AS sum7,
      |         COUNT(*) OVER (ORDER BY e RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |           AS days7
      |  FROM daily)
      |SELECT strftime(DATE '1970-01-01' + CAST(e AS INT), '%Y-%m-%d') AS day,
      |       CAST(y AS DOUBLE) AS revenue,
      |       CAST(sum7 AS DOUBLE) AS revenue_7d,
      |       CAST(days7 AS INT) AS days_in_frame
      |FROM r ORDER BY e
      |LIMIT 400""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_rf_orders")
    spark.sql(
      """WITH daily AS (
        |  SELECT CAST(FLOOR(unix_timestamp(o_orderdate) / 86400) AS BIGINT) AS e,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM graft_rf_orders GROUP BY 1),
        |r AS (
        |  SELECT e, y,
        |         SUM(y) OVER (ORDER BY e RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |           AS sum7,
        |         COUNT(*) OVER (ORDER BY e RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |           AS days7
        |  FROM daily)
        |SELECT date_format(date_add(DATE '1970-01-01', CAST(e AS INT)),
        |         'yyyy-MM-dd') AS day,
        |       CAST(y AS DOUBLE) AS revenue,
        |       CAST(sum7 AS DOUBLE) AS revenue_7d,
        |       CAST(days7 AS INT) AS days_in_frame
        |FROM r ORDER BY e
        |LIMIT 400""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(ts_haar, a90_atkinson, w13_range_frame)
}
