package graft.queries

import graft.Tables

/** Round-4 batch 130: time-windowed funnel depth (the windowFunnel
  * operator), a 1-D Kalman local-level filter, and Neyman-optimal
  * stratified sample allocation.
  */
object Round4Ops130 {

  /** windowFunnel semantics: per user, the deepest strictly-ordered
    * view → click → purchase chain whose LAST step lands within one
    * hour of the chain's FIRST view. Each depth is an EXISTS over
    * user-keyed equi self-joins (per-user event counts bound the
    * fan-out, so the join never goes quadratic in users), and the
    * funnel report is one conditional aggregate: users at depth ≥ k
    * and the step-to-step conversion. The session-window analytics
    * ClickHouse ships as a builtin, as three joins.
    */
  val event_window_funnel = OpQuery.sql("event_window_funnel", "events")(
    """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |l2 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM v JOIN c ON c.user_id = v.user_id
      |   AND c.ts > v.ts AND epoch(c.ts) - epoch(v.ts) <= 3600),
      |l3 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM v
      |  JOIN c ON c.user_id = v.user_id AND c.ts > v.ts
      |  JOIN p ON p.user_id = v.user_id AND p.ts > c.ts
      |   AND epoch(p.ts) - epoch(v.ts) <= 3600),
      |counts AS (
      |  SELECT (SELECT COUNT(DISTINCT user_id) FROM v) AS d1,
      |         (SELECT COUNT(*) FROM l2) AS d2,
      |         (SELECT COUNT(*) FROM l3) AS d3)
      |SELECT CAST(d1 AS BIGINT) AS depth1_users,
      |       CAST(d2 AS BIGINT) AS depth2_users,
      |       CAST(d3 AS BIGINT) AS depth3_users,
      |       CAST(ROUND(CAST(d2 AS DOUBLE) / d1, 6) AS DOUBLE) AS conv_1_2,
      |       CAST(ROUND(CAST(d3 AS DOUBLE) / d2, 6) AS DOUBLE) AS conv_2_3
      |FROM counts""".stripMargin,
    "epoch(" -> "unix_timestamp(")

  /** 1-D Kalman local-level filter over the last 60 days of revenue:
    * predict/update recursion (Q = 1e8, R = 1e9) as a recursive CTE,
    * with state, gain, and variance rounded per step so both engines
    * walk one float path. The gain column converging to its
    * steady-state Riccati value is visible in the output — the
    * smoothing weight the filter "learned". Same scale shape as
    * ts_holt: heavy aggregation distributed, O(days) recursion on the
    * driver-sized series.
    */
  val ts_kalman_level = OpQuery(
    "ts_kalman_level",
    """WITH RECURSIVE daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |lastd AS (SELECT MAX(d) AS mx FROM daily),
      |s AS (
      |  SELECT CAST(y AS DOUBLE) AS y,
      |         ROW_NUMBER() OVER (ORDER BY d) AS t,
      |         COUNT(*) OVER () AS n
      |  FROM daily, lastd WHERE d > mx - INTERVAL 60 DAY),
      |kal(t, x, pv, k) AS (
      |  SELECT 1, s1.y, CAST(1e10 AS DOUBLE), CAST(0.0 AS DOUBLE)
      |  FROM (SELECT y FROM s WHERE t = 1) s1
      |  UNION ALL
      |  SELECT kal.t + 1,
      |         ROUND(kal.x + ROUND((kal.pv + 1e8) / (kal.pv + 1e8 + 1e9), 10)
      |               * (s.y - kal.x), 4),
      |         ROUND((1 - ROUND((kal.pv + 1e8) / (kal.pv + 1e8 + 1e9), 10))
      |               * (kal.pv + 1e8), 2),
      |         ROUND((kal.pv + 1e8) / (kal.pv + 1e8 + 1e9), 10)
      |  FROM kal JOIN s ON s.t = kal.t + 1)
      |SELECT CAST(t AS INT) AS n_days,
      |       CAST(ROUND(x, 4) AS DOUBLE) AS level,
      |       CAST(ROUND(k, 6) AS DOUBLE) AS gain,
      |       CAST(ROUND(pv / 1e8, 6) AS DOUBLE) AS p_scaled
      |FROM kal
      |WHERE t = (SELECT MAX(n) FROM s)""".stripMargin) { (spark, dir) =>
    // Spark side: like ts_holt, the predict/update recursion folds into
    // one `aggregate()` over the collected ≤60-double daily array instead
    // of 60 scheduler rounds of recursive-CTE joins (~26 s at sf0.1).
    // Per-step ROUNDs are identical to the oracle's recursive form.
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_kal_orders")
    spark.sql(
      """WITH daily AS (
        |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM graft_kal_orders GROUP BY 1),
        |lastd AS (SELECT MAX(d) AS mx FROM daily),
        |s AS (
        |  SELECT d, CAST(y AS DOUBLE) AS y
        |  FROM daily CROSS JOIN lastd WHERE d > mx - INTERVAL 60 DAY),
        |arr AS (
        |  SELECT transform(array_sort(collect_list(struct(d, y))), x -> x.y) AS ys
        |  FROM s),
        |folded AS (
        |  SELECT size(ys) AS n,
        |         aggregate(
        |           slice(ys, 2, size(ys) - 1),
        |           named_struct('x', ys[0], 'pv', CAST(1e10 AS DOUBLE),
        |                        'k', CAST(0.0 AS DOUBLE)),
        |           (acc, y) -> named_struct(
        |             'x', ROUND(acc.x + ROUND((acc.pv + 1e8) / (acc.pv + 1e8 + 1e9), 10)
        |                        * (y - acc.x), 4),
        |             'pv', ROUND((1 - ROUND((acc.pv + 1e8) / (acc.pv + 1e8 + 1e9), 10))
        |                         * (acc.pv + 1e8), 2),
        |             'k', ROUND((acc.pv + 1e8) / (acc.pv + 1e8 + 1e9), 10))) AS st
        |  FROM arr)
        |SELECT CAST(n AS INT) AS n_days,
        |       CAST(ROUND(st.x, 4) AS DOUBLE) AS level,
        |       CAST(ROUND(st.k, 6) AS DOUBLE) AS gain,
        |       CAST(ROUND(st.pv / 1e8, 6) AS DOUBLE) AS p_scaled
        |FROM folded""".stripMargin)
  }

  /** Neyman-optimal stratified allocation: for a 1 000-unit sample,
    * each market segment gets n_h ∝ N_h·σ_h — the allocation that
    * minimizes the stratified-mean variance for a fixed budget.
    * Per-stratum σ comes from exact-decimal moments; shares are exact
    * ratios. The difference vs proportional allocation is reported —
    * the rows a survey designer actually compares.
    */
  val sample_neyman = OpQuery.sql("sample_neyman", "orders", "customer")(
    """WITH mom AS (
      |  SELECT c.c_mktsegment AS seg, COUNT(*) AS nh,
      |         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))
      |                  * CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |sig AS (
      |  SELECT seg, nh,
      |         SQRT((s2 - s1 * s1 / nh) / (nh - 1)) AS sd
      |  FROM mom),
      |tot AS (
      |  SELECT CAST(SUM(CAST(ROUND(nh * sd, 4) AS DECIMAL(38,4))) AS DOUBLE) AS z,
      |         SUM(nh) AS n_all
      |  FROM sig)
      |SELECT sig.seg AS segment, CAST(sig.nh AS BIGINT) AS stratum_n,
      |       CAST(ROUND(sig.sd, 2) AS DOUBLE) AS stratum_sd,
      |       CAST(ROUND(sig.nh * sig.sd / tot.z, 6) AS DOUBLE) AS neyman_share,
      |       CAST(ROUND(1000 * sig.nh * sig.sd / tot.z, 2) AS DOUBLE) AS neyman_n,
      |       CAST(ROUND(1000.0 * sig.nh / tot.n_all, 2) AS DOUBLE) AS proportional_n
      |FROM sig CROSS JOIN tot
      |ORDER BY segment""".stripMargin)

  val all: Seq[OpQuery] = Seq(event_window_funnel, ts_kalman_level, sample_neyman)
}
