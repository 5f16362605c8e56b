package graft.queries

import graft.Tables

/** Round-4 batch 82: two HITS iterations on the supplier–part
  * bipartite graph, business-day date arithmetic, and the paired
  * t-test.
  */
object Round4Ops82 {

  /** HITS hubs-and-authorities, two synchronous iterations over the
    * bounded supplier→part bipartite graph (the 200 least-supplied parts, first 8 suppliers each — non-empty at every SF, bounded at every SF). Iteration 1's authority
    * scores are pure integers (degrees); after the L2 normalization the
    * propagated hub scores are quantized to 12 decimals before their
    * DECIMAL sums, keeping the second iteration engine-exact. Top-20
    * authorities — the "which parts does the healthy supply web agree
    * on" ranking next to PageRank's flat graph.
    */
  val graph_hits = OpQuery.sql("graph_hits", "lineitem")(
    """WITH eligible AS (
      |  SELECT l_partkey FROM (
      |    SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS ns
      |    FROM lineitem GROUP BY l_partkey) t
      |  ORDER BY ns, l_partkey LIMIT 200),
      |edges AS (
      |  SELECT l_partkey AS p, l_suppkey AS s FROM (
      |    SELECT d.l_partkey, d.l_suppkey,
      |           ROW_NUMBER() OVER (PARTITION BY d.l_partkey
      |             ORDER BY d.l_suppkey) AS rk
      |    FROM (SELECT DISTINCT l.l_partkey, l.l_suppkey
      |          FROM lineitem l JOIN eligible e ON l.l_partkey = e.l_partkey) d) r
      |  WHERE rk <= 8),
      |auth1 AS (
      |  SELECT p, COUNT(*) AS a FROM edges GROUP BY p),
      |norm1 AS (
      |  SELECT sqrt(CAST(SUM(CAST(a AS DECIMAL(38,0)) * CAST(a AS DECIMAL(38,0)))
      |         AS DOUBLE)) AS z FROM auth1),
      |hub2 AS (
      |  SELECT e.s,
      |         SUM(CAST(ROUND(a1.a / n.z, 12) AS DECIMAL(28,12))) AS h
      |  FROM edges e JOIN auth1 a1 ON e.p = a1.p CROSS JOIN norm1 n
      |  GROUP BY e.s),
      |auth2 AS (
      |  SELECT e.p,
      |         SUM(CAST(ROUND(CAST(h2.h AS DOUBLE), 12) AS DECIMAL(28,12))) AS a
      |  FROM edges e JOIN hub2 h2 ON e.s = h2.s
      |  GROUP BY e.p)
      |SELECT p AS partkey, CAST(ROUND(CAST(a AS DOUBLE), 6) AS DOUBLE) AS authority
      |FROM auth2
      |ORDER BY a DESC, p
      |LIMIT 20""".stripMargin)

  /** Business-day arithmetic: each order's promise date is its order
    * date plus 10 business days, computed entirely in epoch-day
    * integers (weekday = (day+3) mod 7, weekend starts snapped forward,
    * whole weeks + remainder with a weekend hop) — no calendar UDF, no
    * engine weekday convention involved, identical on every engine and
    * timezone.
    */
  val f_business_days = OpQuery(
    "f_business_days",
    """WITH base AS (
      |  SELECT o_orderkey,
      |         CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS e
      |  FROM orders WHERE o_orderkey < 400),
      |snapped AS (
      |  SELECT o_orderkey, e, (e + 3) % 7 AS dow,
      |         e + CASE (e + 3) % 7 WHEN 5 THEN 2 WHEN 6 THEN 1 ELSE 0 END AS start_e
      |  FROM base),
      |added AS (
      |  SELECT o_orderkey, e, start_e,
      |         start_e + 14 AS end_e
      |  FROM snapped)
      |SELECT o_orderkey,
      |       strftime(DATE '1970-01-01' + CAST(e AS INT), '%Y-%m-%d') AS order_day,
      |       strftime(DATE '1970-01-01' + CAST(end_e AS INT), '%Y-%m-%d') AS promise_day,
      |       CAST((end_e + 3) % 7 AS INT) AS promise_dow
      |FROM added
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_bd_orders")
    spark.sql(
      """WITH base AS (
        |  SELECT o_orderkey,
        |         CAST(FLOOR(unix_timestamp(o_orderdate) / 86400) AS BIGINT) AS e
        |  FROM graft_bd_orders WHERE o_orderkey < 400),
        |snapped AS (
        |  SELECT o_orderkey, e, (e + 3) % 7 AS dow,
        |         e + CASE (e + 3) % 7 WHEN 5 THEN 2 WHEN 6 THEN 1 ELSE 0 END AS start_e
        |  FROM base),
        |added AS (
        |  SELECT o_orderkey, e, start_e,
        |         start_e + 14 AS end_e
        |  FROM snapped)
        |SELECT o_orderkey,
        |       date_format(date_add(DATE '1970-01-01', CAST(e AS INT)), 'yyyy-MM-dd')
        |         AS order_day,
        |       date_format(date_add(DATE '1970-01-01', CAST(end_e AS INT)), 'yyyy-MM-dd')
        |         AS promise_day,
        |       CAST((end_e + 3) % 7 AS INT) AS promise_dow
        |FROM added
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Paired t-test on per-customer spend across two adjacent years:
    * the within-subject design that cancels customer-level variance.
    * Differences are exact integer cents; the t statistic comes from
    * the usual Σd / Σd² moments with one division at the end.
    */
  val a57_paired_ttest = OpQuery.sql("a57_paired_ttest", "orders")(
    """WITH spend AS (
      |  SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS y,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
      |  FROM orders
      |  WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
      |  GROUP BY o_custkey, EXTRACT(year FROM o_orderdate)),
      |paired AS (
      |  SELECT a.o_custkey, b.c - a.c AS d
      |  FROM spend a JOIN spend b
      |    ON a.o_custkey = b.o_custkey AND a.y = 1996 AND b.y = 1997),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(d) AS sd,
      |         SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))) AS sdd
      |  FROM paired)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |       CAST(ROUND(CAST(sd AS DOUBLE) / n / 100, 4) AS DOUBLE) AS mean_diff,
      |       CAST(ROUND((CAST(sd AS DOUBLE) / n) /
      |            (sqrt((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n) / (n - 1))
      |             / sqrt(CAST(n AS DOUBLE))), 6) AS DOUBLE) AS t_stat
      |FROM m""".stripMargin)

  val all: Seq[OpQuery] = Seq(graph_hits, f_business_days, a57_paired_ttest)
}
