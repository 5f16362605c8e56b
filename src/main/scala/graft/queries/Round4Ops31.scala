package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{IncrementalJoin, TableStore}

/** Round-4 batch 31: join-view IVM gate, seasonal-naive forecasting
  * with backtest, Wilson confidence intervals, and exact variance
  * moments.
  */
object Round4Ops31 {

  /** Join-view IVM driven end-to-end on the versioned store: build the
    * multiset join view over version-0 slices, mutate BOTH base tables
    * (inserts and deletes), refresh via the signed delta algebra
    * (ΔA⋈B₀ + A₀⋈ΔB + ΔA⋈ΔB), and emit the refreshed view. The oracle
    * states the FULL join of the final slices — a hash match proves the
    * incremental path reproduces it without the full re-join.
    */
  val ivm_join_refresh = OpQuery(
    "ivm_join_refresh",
    """WITH a1 AS (
      |  SELECT o_custkey AS k, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_orderkey % 100 < 6),
      |b1 AS (
      |  SELECT c_custkey AS k, c_mktsegment FROM customer WHERE c_custkey % 4 < 3)
      |SELECT a1.k, a1.o_orderkey, CAST(a1.price AS DOUBLE) AS price,
      |       b1.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS mult
      |FROM a1 JOIN b1 ON a1.k = b1.k
      |GROUP BY a1.k, a1.o_orderkey, a1.price, b1.c_mktsegment
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val customer = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment"))

    val root = graft.queries.GateScratch.dir("graft-ivmj-gate-").toString
    val store = new TableStore(spark, root, retainVersions = 5)
    // version 0: different slices than the final state — both tables
    // will see inserts AND deletes on the way to v1
    store.overwrite("A", orders.filter(col("o_orderkey") % 100 < 4))
    store.overwrite("B", customer.filter(col("k") % 4 > 0))
    val (av0, bv0) = (store.currentVersion("A"), store.currentVersion("B"))
    store.overwrite("V",
      IncrementalJoin.fullJoin(store.read("A"), store.read("B"), Seq("k")))

    store.overwrite("A", orders.filter(col("o_orderkey") % 100 < 6))
    store.overwrite("B", customer.filter(col("k") % 4 < 3))
    val (av1, bv1) = (store.currentVersion("A"), store.currentVersion("B"))
    IncrementalJoin.refresh(store, "V", "A", av0, av1, "B", bv0, bv1, Seq("k"))

    store.read("V")
      .select(col("k"), col("o_orderkey"), col("price").cast("double").as("price"),
        col("c_mktsegment"), col("__mult").cast("long").as("mult"))
      .orderBy("o_orderkey")
  }

  /** Seasonal-naive forecast with walk-forward backtest: predict each of
    * the last 14 days as the same weekday one week earlier, score with
    * integer absolute errors — the baseline every forecasting system
    * must beat, and the backtest join is one lag self-join on the day
    * spine.
    */
  val ts_forecast_snaive = OpQuery(
    "ts_forecast_snaive",
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM events GROUP BY CAST(ts AS DATE)),
      |hi AS (SELECT MAX(d) AS mx FROM daily),
      |scored AS (
      |  SELECT cur.d, cur.c AS actual, prev.c AS forecast,
      |         abs(cur.c - prev.c) AS abs_err
      |  FROM daily cur JOIN daily prev ON prev.d = cur.d - INTERVAL 7 DAY
      |  CROSS JOIN hi
      |  WHERE cur.d > hi.mx - INTERVAL 14 DAY)
      |SELECT strftime(d, '%Y-%m-%d') AS day,
      |       CAST(actual AS BIGINT) AS actual,
      |       CAST(forecast AS BIGINT) AS forecast,
      |       CAST(abs_err AS BIGINT) AS abs_err,
      |       CAST(SUM(abs_err) OVER () AS BIGINT) AS total_abs_err
      |FROM scored
      |ORDER BY d""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_sn_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM graft_sn_events GROUP BY CAST(ts AS DATE)),
        |hi AS (SELECT MAX(d) AS mx FROM daily),
        |scored AS (
        |  SELECT cur.d, cur.c AS actual, prev.c AS forecast,
        |         abs(cur.c - prev.c) AS abs_err
        |  FROM daily cur JOIN daily prev ON prev.d = date_sub(cur.d, 7)
        |  CROSS JOIN hi
        |  WHERE cur.d > date_sub(hi.mx, 14))
        |SELECT date_format(d, 'yyyy-MM-dd') AS day,
        |       CAST(actual AS BIGINT) AS actual,
        |       CAST(forecast AS BIGINT) AS forecast,
        |       CAST(abs_err AS BIGINT) AS abs_err,
        |       CAST(SUM(abs_err) OVER () AS BIGINT) AS total_abs_err
        |FROM scored
        |ORDER BY d""".stripMargin)
  }

  /** Wilson score interval for per-source view→purchase conversion —
    * the ratio-metric CI that stays sane at small n (unlike the normal
    * approximation). Exact integer numerators; the closed-form bound is
    * one shared float expression (z = 1.96).
    */
  val a32_wilson_ci = OpQuery.sql("a32_wilson_ci", "events")(
    """WITH per AS (
      |  SELECT user_id % 10 AS cohort,
      |         SUM(hv) AS views,
      |         SUM(hv * hb) AS buys
      |  FROM (SELECT user_id,
      |               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
      |               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hb
      |        FROM events GROUP BY user_id)
      |  GROUP BY user_id % 10),
      |ci AS (
      |  SELECT cohort, views, buys,
      |         CAST(buys AS DOUBLE) / views AS p,
      |         1.96 * 1.96 AS z2
      |  FROM per WHERE views > 0)
      |SELECT CAST(cohort AS BIGINT) AS cohort,
      |       CAST(views AS BIGINT) AS views, CAST(buys AS BIGINT) AS buys,
      |       CAST(ROUND((p + z2 / (2 * views)
      |                   - 1.96 * sqrt((p * (1 - p) + z2 / (4 * views)) / views))
      |                  / (1 + z2 / views), 6) AS DOUBLE) AS wilson_lo,
      |       CAST(ROUND((p + z2 / (2 * views)
      |                   + 1.96 * sqrt((p * (1 - p) + z2 / (4 * views)) / views))
      |                  / (1 + z2 / views), 6) AS DOUBLE) AS wilson_hi
      |FROM ci
      |ORDER BY cohort""".stripMargin)

  /** Variance / stddev from exact DECIMAL moments — population and
    * sample variants from the same Σx, Σx² (definition-free, order-free;
    * the one place engines' var_samp/var_pop built-ins are bypassed so
    * the gate is about the math, not the accumulator).
    */
  val a31_variance = OpQuery.sql("a31_variance", "lineitem")(
    """WITH m AS (
      |  SELECT l_returnflag AS grp, COUNT(*) AS n,
      |         SUM(CAST(CAST(ROUND(l_extendedprice) AS BIGINT) AS DECIMAL(38,0))) AS s1,
      |         SUM(CAST(CAST(ROUND(l_extendedprice) AS BIGINT) AS DECIMAL(38,0))
      |             * CAST(ROUND(l_extendedprice) AS BIGINT)) AS s2
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT grp, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n, 4) AS DOUBLE) AS var_pop,
      |       CAST(ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 4) AS DOUBLE) AS var_samp,
      |       CAST(ROUND(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n), 4) AS DOUBLE) AS stddev_pop
      |FROM m
      |ORDER BY grp""".stripMargin)

  val all: Seq[OpQuery] = Seq(
    ivm_join_refresh, ts_forecast_snaive, a32_wilson_ci, a31_variance)
}
