package graft.queries

/** Round-4 batch 28: the remaining famous TPC-H query SHAPES, adapted to
  * this schema (no partsupp/phone/comment columns) — each exercises a
  * distinct planner pattern: aggregate-reuse with a global threshold
  * (Q11), left-join distribution (Q13), argmax-by-tie view (Q15),
  * HAVING-IN spine (Q18), and anti-join + scalar average (Q22).
  */
object Round4Ops28 {

  /** Q11 shape: per-part value vs a same-aggregate global threshold —
    * the aggregate computed once per part, then re-aggregated for the
    * broadcast scalar; the HAVING comparison reuses, not recomputes.
    */
  val tpch_q11_shape = OpQuery.sql("tpch_q11_shape", "lineitem")(
    """WITH value_per_part AS (
      |  SELECT l_partkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
      |FROM value_per_part
      |WHERE v > (SELECT SUM(v) * 0.0005 FROM value_per_part)
      |ORDER BY part_value DESC, l_partkey""".stripMargin)

  /** Q13 shape: orders-per-customer distribution INCLUDING zero-order
    * customers — the left join whose null side must survive two
    * aggregation levels.
    */
  val tpch_q13_shape = OpQuery.sql("tpch_q13_shape", "customer", "orders")(
    """WITH per_cust AS (
      |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      |  FROM customer c
      |  LEFT JOIN orders o
      |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY c.c_custkey)
      |SELECT CAST(n_orders AS BIGINT) AS n_orders,
      |       CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM per_cust
      |GROUP BY n_orders
      |ORDER BY n_customers DESC, n_orders DESC""".stripMargin)

  /** Q15 shape: top revenue supplier(s) via equality with the MAX of the
    * same derived view — ties must ALL surface (the reason Q15 is a
    * correctness trap for argmax shortcuts).
    */
  val tpch_q15_shape = OpQuery.sql("tpch_q15_shape", "lineitem", "supplier")(
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |             * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-07-01'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, CAST(r.total AS DOUBLE) AS total_revenue
      |FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
      |WHERE r.total = (SELECT MAX(total) FROM revenue)
      |ORDER BY s.s_suppkey""".stripMargin)

  /** Q18 shape: large-volume orders — the IN over a grouped-HAVING
    * subquery on the same fact (semi-join against an aggregate of
    * yourself), then the customer spine join.
    */
  val tpch_q18_shape = OpQuery.sql("tpch_q18_shape", "customer", "orders", "lineitem")(
    """SELECT c.c_custkey, o.o_orderkey,
      |       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      |GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate
      |ORDER BY total_qty DESC, o.o_orderkey""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  /** Q22 shape: above-average-balance customers with NO orders, grouped
    * by nation band — scalar-average subquery + anti-join, the
    * "dormant high-value accounts" report.
    */
  val tpch_q22_shape = OpQuery.sql("tpch_q22_shape", "customer", "orders")(
    """WITH avg_bal AS (
      |  SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0),
      |dormant AS (
      |  SELECT c.c_nationkey % 5 AS nation_band, c.c_acctbal
      |  FROM customer c, avg_bal
      |  WHERE c.c_acctbal > avg_bal.a
      |    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '1998-01-01'))
      |SELECT CAST(nation_band AS INT) AS nation_band,
      |       CAST(COUNT(*) AS BIGINT) AS n_custs,
      |       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal
      |FROM dormant
      |GROUP BY nation_band
      |ORDER BY nation_band""".stripMargin)

  val all: Seq[OpQuery] = Seq(
    tpch_q11_shape, tpch_q13_shape, tpch_q15_shape, tpch_q18_shape,
    tpch_q22_shape)
}
