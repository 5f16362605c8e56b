package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 111: best-split changepoint detection, the
  * Nelson–Aalen cumulative-hazard estimator, and Good–Turing frequency
  * smoothing.
  */
object Round4Ops111 {

  /** Single-changepoint binary segmentation on daily revenue: for every
    * candidate split t the two-segment SSE is computed in O(1) from
    * DECIMAL prefix sums (SSE(a..b) = S2 − S1²/n, windows do the
    * prefixing), and the argmin split is the changepoint. The window
    * over the daily series is the only ordered pass — the classic
    * "where did the level shift" scan, O(n) not O(n²). Revenue is
    * pre-scaled by 1e-4 (exact at 6 decimals) so every SSE stays well
    * inside double's exact-integer range on both engines; SSEs are
    * reported in scaled² units (pinned contract), means in currency.
    */
  val ts_changepoint = OpQuery.sql("ts_changepoint", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |scaled AS (
      |  SELECT d, CAST(y / 10000 AS DECIMAL(20,6)) AS y FROM daily),
      |idx AS (
      |  SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS t,
      |         COUNT(*) OVER () AS n,
      |         SUM(y) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS p1,
      |         SUM(CAST(y * y AS DECIMAL(38,12)))
      |           OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS p2,
      |         SUM(y) OVER () AS tot1,
      |         SUM(CAST(y * y AS DECIMAL(38,12))) OVER () AS tot2
      |  FROM scaled),
      |cost AS (
      |  SELECT t, n,
      |         ROUND((CAST(p2 AS DOUBLE) - CAST(p1 AS DOUBLE) * p1 / t) +
      |               (CAST(tot2 - p2 AS DOUBLE)
      |                - CAST(tot1 - p1 AS DOUBLE) * CAST(tot1 - p1 AS DOUBLE)
      |                  / (n - t)), 4) AS sse,
      |         ROUND(CAST(tot2 AS DOUBLE)
      |               - CAST(tot1 AS DOUBLE) * tot1 / n, 4) AS sse0,
      |         CAST(p1 AS DOUBLE) / t * 10000 AS mean_left,
      |         CAST(tot1 - p1 AS DOUBLE) / (n - t) * 10000 AS mean_right
      |  FROM idx WHERE t < n),
      |best AS (
      |  SELECT t, n, sse, sse0, mean_left, mean_right,
      |         ROW_NUMBER() OVER (ORDER BY sse, t) AS rk
      |  FROM cost)
      |SELECT CAST(t AS BIGINT) AS split_t, CAST(n AS BIGINT) AS n_days,
      |       CAST(sse AS DOUBLE) AS sse_split,
      |       CAST(sse0 AS DOUBLE) AS sse_nosplit,
      |       CAST(ROUND(1 - sse / sse0, 6) AS DOUBLE) AS var_explained,
      |       CAST(ROUND(mean_left, 4) AS DOUBLE) AS mean_left,
      |       CAST(ROUND(mean_right, 4) AS DOUBLE) AS mean_right
      |FROM best WHERE rk = 1""".stripMargin)

  /** Nelson–Aalen cumulative hazard for order→ship fulfilment times,
    * with returned items (l_returnflag = 'R') treated as censored at
    * their duration. At each distinct duration: d events over n
    * at-risk, H(t) = Σ d/n accumulated by a window, each increment
    * floor-scaled to integer 1e-10 units (exact on both engines). One aggregate + one
    * ordered window — the survival-analysis sibling of the
    * Kaplan–Meier gate.
    */
  val surv_nelson_aalen = OpQuery.sql("surv_nelson_aalen", "lineitem", "orders")(
    """WITH obs AS (
      |  SELECT CAST(FLOOR(epoch(l.l_shipdate) / 86400)
      |           - FLOOR(epoch(o.o_orderdate) / 86400) AS INT) AS dur,
      |         CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END AS ev
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |tot AS (SELECT COUNT(*) AS n FROM obs),
      |at_t AS (
      |  SELECT dur, SUM(ev) AS d, COUNT(*) AS c FROM obs GROUP BY dur),
      |risk AS (
      |  SELECT dur, d, c,
      |         MAX(tot.n) - COALESCE(SUM(c) OVER (ORDER BY dur
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM at_t CROSS JOIN tot
      |  GROUP BY dur, d, c),
      |haz AS (
      |  SELECT dur, d, n_risk,
      |         SUM((CAST(d AS BIGINT) * 10000000000) // n_risk)
      |           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS h
      |  FROM risk)
      |SELECT CAST(dur AS INT) AS duration_days, CAST(d AS BIGINT) AS events,
      |       CAST(n_risk AS BIGINT) AS n_risk,
      |       CAST(h AS DOUBLE) / 10000000000 AS cum_hazard
      |FROM haz ORDER BY duration_days""".stripMargin,
    "epoch(" -> "unix_timestamp(",
    "//" -> "DIV")

  /** Good–Turing smoothing over the customer "vocabulary" (orders per
    * customer as token counts): the frequency-
    * of-frequencies table N_c, the smoothed count c* = (c+1)·N_{c+1}/N_c
    * for small c, and the unseen-mass estimate P₀ = N₁/N — the language-
    * model discounting step, all exact rationals. Two tiny aggregates
    * after the one big per-clerk count.
    */
  val stat_good_turing = OpQuery(
    "stat_good_turing",
    """WITH sp AS (
      |  SELECT o_custkey AS w, COUNT(*) AS c FROM orders GROUP BY o_custkey),
      |fof AS (
      |  SELECT c, COUNT(*) AS nc FROM sp GROUP BY c),
      |tot AS (
      |  SELECT SUM(CAST(c AS DECIMAL(18,0)) * nc) AS n,
      |         MAX(CASE WHEN c = 1 THEN nc ELSE 0 END) AS n1
      |  FROM fof)
      |SELECT CAST(f.c AS BIGINT) AS c, CAST(f.nc AS BIGINT) AS n_c,
      |       CAST(f2.nc AS BIGINT) AS n_c1,
      |       CAST(ROUND((f.c + 1) * CAST(f2.nc AS DOUBLE) / f.nc, 6) AS DOUBLE)
      |         AS c_star,
      |       CAST(ROUND(CAST(tot.n1 AS DOUBLE) / CAST(tot.n AS DOUBLE), 8)
      |         AS DOUBLE) AS p_unseen
      |FROM fof f
      |JOIN fof f2 ON f2.c = f.c + 1
      |CROSS JOIN tot
      |ORDER BY c
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    val sp = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("w")).agg(count(lit(1)).as("c"))
    val fof = sp.groupBy("c").agg(count(lit(1)).as("nc"))
    val tot = fof.agg(
      sum(col("c").cast("decimal(18,0)") * col("nc")).as("n"),
      max(when(col("c") === 1, col("nc")).otherwise(0)).as("n1"))
    val f2 = fof.select(col("c").as("c2"), col("nc").as("nc2"))
    fof.join(f2, col("c2") === col("c") + 1).crossJoin(tot)
      .select(col("c").cast("long").as("c"), col("nc").cast("long").as("n_c"),
        col("nc2").cast("long").as("n_c1"),
        round((col("c") + 1) * col("nc2").cast("double") / col("nc"), 6)
          .cast("double").as("c_star"),
        round(col("n1").cast("double") / col("n").cast("double"), 8)
          .cast("double").as("p_unseen"))
      .orderBy("c")
      .limit(10)
  }

  val all: Seq[OpQuery] = Seq(ts_changepoint, surv_nelson_aalen,
    stat_good_turing)
}
