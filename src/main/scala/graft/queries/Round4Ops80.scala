package graft.queries

import graft.Tables

/** Round-4 batch 80: 1-D Wasserstein (earth mover's) drift distance,
  * cohort LTV accumulation curves, and the G-test of independence.
  */
object Round4Ops80 {

  /** 1-D earth mover's distance between purchase and view value
    * distributions: ∫|F₁−F₂| as the sum of ECDF-gap × value-gap over
    * the merged sorted support. The ECDF gap stays an integer
    * cross-term (c₁n₂−c₂n₁); each slice's contribution is quantized to
    * DECIMAL(28,12) before the global sum. One sort + one window pass —
    * the drift metric that, unlike KS, weighs HOW FAR mass moved.
    */
  val ts_emd_drift = OpQuery(
    "ts_emd_drift",
    """WITH samples AS (
      |  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |counts AS (SELECT SUM(g) AS n1, SUM(1 - g) AS n2 FROM samples),
      |cum AS (
      |  SELECT value,
      |         SUM(g) OVER (ORDER BY value
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
      |         SUM(1 - g) OVER (ORDER BY value
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      |  FROM samples),
      |at_value AS (
      |  SELECT value, MAX(c1) AS c1, MAX(c2) AS c2 FROM cum GROUP BY value),
      |slices AS (
      |  SELECT value, c1, c2,
      |         LEAD(value) OVER (ORDER BY value) AS next_v
      |  FROM at_value),
      |terms AS (
      |  SELECT CAST(ROUND(ABS(c1 * (SELECT n2 FROM counts) -
      |                         c2 * (SELECT n1 FROM counts)) * (next_v - value), 12)
      |              AS DECIMAL(28,12)) AS t
      |  FROM slices WHERE next_v IS NOT NULL)
      |SELECT CAST((SELECT n1 FROM counts) AS BIGINT) AS n_purchase,
      |       CAST((SELECT n2 FROM counts) AS BIGINT) AS n_view,
      |       CAST(ROUND(CAST(SUM(t) AS DOUBLE) /
      |            ((SELECT n1 FROM counts) * (SELECT n2 FROM counts)), 6) AS DOUBLE)
      |         AS emd
      |FROM terms""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_emd_events")
    // running ECDF counters via ONE TotalOrder.prefixAggs pass, and the
    // LEAD over distinct values as an equi-join on the dense TotalOrder
    // rank (b.rn = a.rn + 1) — the window forms pushed every sampled
    // event (and then every distinct value) through a single reducer
    import org.apache.spark.sql.functions.{col, max}
    val emdSamples = spark.sql(
      """SELECT value,
        |       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
        |       CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS ig
        |FROM graft_emd_events
        |WHERE event_type IN ('purchase', 'view')""".stripMargin)
    val emdAtValue = graft.operators.TotalOrder
      .prefixAggs(emdSamples, Seq(col("value")),
        sums = Seq("g" -> "c1", "ig" -> "c2"))
      .groupBy(col("value"))
      .agg(max(col("c1")).as("c1"), max(col("c2")).as("c2"))
    graft.operators.TotalOrder
      .rowNumber(emdAtValue, Seq(col("value")), "rn")
      .createOrReplaceTempView("graft_emd_sl")
    spark.sql(
      """WITH samples AS (
        |  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        |  FROM graft_emd_events WHERE event_type IN ('purchase', 'view')),
        |counts AS (SELECT SUM(g) AS n1, SUM(1 - g) AS n2 FROM samples),
        |slices AS (
        |  SELECT a.value, a.c1, a.c2, b.value AS next_v
        |  FROM graft_emd_sl a LEFT JOIN graft_emd_sl b ON b.rn = a.rn + 1),
        |terms AS (
        |  SELECT CAST(ROUND(ABS(c1 * (SELECT n2 FROM counts) -
        |                         c2 * (SELECT n1 FROM counts)) * (next_v - value), 12)
        |              AS DECIMAL(28,12)) AS t
        |  FROM slices WHERE next_v IS NOT NULL)
        |SELECT CAST((SELECT n1 FROM counts) AS BIGINT) AS n_purchase,
        |       CAST((SELECT n2 FROM counts) AS BIGINT) AS n_view,
        |       CAST(ROUND(CAST(SUM(t) AS DOUBLE) /
        |            ((SELECT n1 FROM counts) * (SELECT n2 FROM counts)), 6) AS DOUBLE)
        |         AS emd
        |FROM terms""".stripMargin)
  }

  /** Cohort LTV curves: customers grouped by first-order year, then
    * cumulative revenue per cohort age in years — the "how fast does a
    * cohort pay back" view. First-order assignment is one min-aggregate;
    * the curve is a cumulative window over exact DECIMAL revenue.
    */
  val event_cohort_ltv = OpQuery.sql("event_cohort_ltv", "orders")(
    """WITH firsts AS (
      |  SELECT o_custkey, MIN(EXTRACT(year FROM o_orderdate)) AS cohort
      |  FROM orders GROUP BY o_custkey),
      |rev AS (
      |  SELECT f.cohort,
      |         EXTRACT(year FROM o.o_orderdate) - f.cohort AS age,
      |         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r,
      |         COUNT(DISTINCT o.o_custkey) AS buyers
      |  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      |  GROUP BY f.cohort, EXTRACT(year FROM o.o_orderdate) - f.cohort)
      |SELECT CAST(cohort AS INT) AS cohort, CAST(age AS INT) AS age,
      |       CAST(buyers AS BIGINT) AS buyers,
      |       CAST(SUM(r) OVER (PARTITION BY cohort ORDER BY age
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         AS cum_revenue
      |FROM rev
      |ORDER BY cohort, age""".stripMargin)

  /** G-test (log-likelihood ratio) of independence between market
    * segment and order priority — the chi-square alternative that is
    * additive across partitions. G = 2Σ O·ln(O/E); each cell term is
    * quantized to DECIMAL(28,12) so the statistic is engine-exact, and
    * the contingency table is one grouped pass plus broadcast marginals.
    */
  val a55_g_test = OpQuery.sql("a55_g_test", "orders", "customer")(
    """WITH joined AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |cells AS (SELECT seg, pri, COUNT(*) AS o FROM joined GROUP BY seg, pri),
      |margins AS (
      |  SELECT seg, SUM(o) AS rs FROM cells GROUP BY seg),
      |cols AS (SELECT pri, SUM(o) AS cs FROM cells GROUP BY pri),
      |tot AS (SELECT SUM(o) AS n FROM cells),
      |terms AS (
      |  SELECT CAST(ROUND(2.0 * c.o *
      |           ln(CAST(c.o AS DOUBLE) * t.n / (m.rs * cl.cs)), 12)
      |           AS DECIMAL(28,12)) AS t
      |  FROM cells c
      |  JOIN margins m ON c.seg = m.seg
      |  JOIN cols cl ON c.pri = cl.pri
      |  CROSS JOIN tot t)
      |SELECT CAST(ROUND(CAST(SUM(t) AS DOUBLE), 6) AS DOUBLE) AS g_stat,
      |       CAST((SELECT COUNT(*) FROM margins) AS BIGINT) AS n_segments,
      |       CAST((SELECT COUNT(*) FROM cols) AS BIGINT) AS n_priorities
      |FROM terms""".stripMargin)

  val all: Seq[OpQuery] = Seq(ts_emd_drift, event_cohort_ltv, a55_g_test)
}
