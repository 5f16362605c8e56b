package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** TPC-H query shapes over the sf tables: the join trees, correlated
  * subqueries and aggregations of the benchmark, one gate per query.
  */
object TpchGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** TPC-H Q3-shaped shipping-priority query: selective filters on both
    * join sides (pushed to the scans), join, aggregate, top-k. The
    * classic "filters reach the scan, small side first" plan.
    */
  val tpch_q3_shape = OpQuery(
    "tpch_q3_shape",
    """SELECT l.l_orderkey,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |       o.o_orderpriority
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < DATE '1998-01-01'
      |  AND l.l_shipdate > DATE '1998-01-01'
      |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    val l = t(spark, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
    val o = t(spark, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(l("l_orderkey"), o("o_orderdate"), o("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast("double").as("revenue"))
      .select(
        col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q4-shaped order-priority check: EXISTS semi-join + count. */
  val tpch_q4_shape = OpQuery(
    "tpch_q4_shape",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= DATE '1997-01-01' AND o.o_orderdate < DATE '1998-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val l = t(spark, dir, "lineitem")
    o.join(l,
        o("o_orderkey") === l("l_orderkey") && l("l_shipdate") > o("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q5-shaped local-supplier revenue: the deep join pyramid —
    * two facts (lineitem ⨝ orders) plus four dimensions, with the
    * correlated c_nationkey = s_nationkey condition. The plan to want at
    * scale: region/nation/customer/supplier broadcast, facts join on
    * their keys with ONE shuffle each, aggregate partial+final on the
    * (tiny) nation key.
    */
  val tpch_q5_shape = OpQuery(
    "tpch_q5_shape",
    """SELECT n.n_name,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer c
      |JOIN orders o   ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      |JOIN nation n   ON s.s_nationkey = n.n_nationkey
      |JOIN region r   ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= DATE '1997-01-01' AND o.o_orderdate < DATE '1998-01-01'
      |GROUP BY n.n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (spark, dir) =>
    val c = t(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val s = t(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(s),
        l("l_suppkey") === s("s_suppkey") && c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q7 shape — bi-directional volume shipping between two
    * nations: lineitem joined through supplier AND (via orders) customer
    * to TWO nation dimensions, the symmetric nation-pair disjunction,
    * shipping-year extraction, decimal-exact revenue. Both nation dims
    * broadcast; the fact side shuffles only for the final group-by.
    */
  val tpch_q7_shape = OpQuery(
    "tpch_q7_shape",
    """SELECT supp_nation, cust_nation, yr,
      |       CAST(SUM(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS yr,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2)) AS volume
      |  FROM supplier s
      |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o   ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      |  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      |  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
      |)
      |GROUP BY supp_nation, cust_nation, yr
      |ORDER BY supp_nation, cust_nation, yr""".stripMargin) { (spark, dir) =>
    val s = t(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val l = t(spark, dir, "lineitem").select(
      col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
      col("l_extendedprice"), col("l_discount"))
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c = t(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val n1 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
    val n2 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
    l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("nk1"))
      .join(broadcast(n2), col("c_nationkey") === col("nk2"))
      .filter(
        (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .select(
        col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("yr"),
        (dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("volume"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("yr"))
      .agg(sum(col("volume")).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("yr"))
  }

  /** TPC-H Q8 shape: 8-table market-share query — the deepest join tree
    * in the suite (part→lineitem→orders→customer→nation→region plus the
    * second nation leg through supplier). Every dimension leg is
    * broadcast-sized; only the lineitem⋈orders spine shuffles. Share
    * arithmetic stays DECIMAL until the final division.
    */
  val tpch_q8_shape = OpQuery.sql("tpch_q8_shape", "lineitem", "part",
    "orders", "customer", "nation", "region", "supplier")(
    """WITH vol AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |         CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
      |         n2.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01')
      |SELECT o_year,
      |       CAST(ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
      |                  / CAST(SUM(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share,
      |       CAST(SUM(volume) AS DOUBLE) AS total_volume
      |FROM vol
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin)

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

  /** Q10 shape: top returned-item customers — fact-heavy 4-table join,
    * grouped revenue, TakeOrdered top-20.
    */
  val tpch_q10_shape = OpQuery.sql("tpch_q10_shape", "customer", "orders",
    "lineitem", "nation")(
    """SELECT c.c_custkey, c.c_name, n.n_name,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE l.l_returnflag = 'R'
      |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-07-01'
      |GROUP BY c.c_custkey, c.c_name, n.n_name
      |ORDER BY revenue DESC, c.c_custkey
      |LIMIT 20""".stripMargin)

  /** Q12 shape: priority classification by ship bucket — the CASE-
    * conditional double aggregation over one fact⋈fact join.
    */
  val tpch_q12_shape = OpQuery.sql("tpch_q12_shape", "lineitem", "orders")(
    """SELECT l.l_linestatus,
      |       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l.l_linestatus
      |ORDER BY l.l_linestatus""".stripMargin)

  /** Q14 shape: promo revenue share — conditional-aggregate ratio over
    * a broadcast part join, DECIMAL until the final division.
    */
  val tpch_q14_shape = OpQuery.sql("tpch_q14_shape", "lineitem", "part")(
    """WITH j AS (
      |  SELECT p.p_type,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2))
      |           * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS rev
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      |    AND l.l_shipdate < TIMESTAMP '1997-04-01')
      |SELECT CAST(ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE)
      |                  / CAST(SUM(rev) AS DOUBLE), 6) AS DOUBLE) AS promo_share_pct,
      |       CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM j""".stripMargin)

  /** Q6 shape: the scan-dominated filter+aggregate — THE predicate-
    * pushdown microbenchmark; every predicate must reach the parquet
    * reader.
    */
  val tpch_q6_shape = OpQuery.sql("tpch_q6_shape", "lineitem")(
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin)

  /** Q17 shape: small-quantity outliers vs the per-part average — the
    * correlated scalar aggregate Catalyst decorrelates into an
    * aggregate + join (running it correlated per row would be O(n²)).
    */
  val tpch_q17_shape = OpQuery.sql("tpch_q17_shape", "lineitem", "part")(
    """SELECT CAST(ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4) AS DOUBLE) AS avg_yearly,
      |       CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_brand = 'Brand#1'
      |  AND l.l_quantity < (
      |    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin)

  /** Q19 shape: OR-of-ANDs disjunctive join predicates — the query that
    * punishes planners that cannot extract the common join key from
    * the disjunction (the l_partkey = p_partkey equi-core must still
    * drive a hash join, with the disjunction as residual).
    */
  val tpch_q19_shape = OpQuery.sql("tpch_q19_shape", "lineitem", "part")(
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
      |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
      |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 35 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)

  /** TPC-H Q2 shape: min-cost supplier per European part. The correlated
    * scalar subquery re-enters the cost⋈supplier⋈nation⋈region tree per
    * part; Catalyst rewrites it into an aggregate + join (one extra
    * shuffle on partkey), never a per-row loop. All dims broadcast; the
    * only data-sized shuffle is the (part,supplier) cost aggregation of
    * lineitem. Cost is an exact decimal MIN, so the equality predicate
    * against the subquery MIN is bit-exact in both engines.
    */
  val tpch_q2_shape = OpQuery.sql("tpch_q2_shape", "lineitem", "part",
    "supplier", "nation", "region")(
    """WITH cost AS (
      |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
      |         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS supplycost
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT p.p_partkey AS p_partkey, p.p_name AS p_name, s.s_name AS s_name,
      |       n.n_name AS nation, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal,
      |       CAST(c.supplycost AS DOUBLE) AS supplycost
      |FROM part p
      |JOIN cost c ON p.p_partkey = c.partkey
      |JOIN supplier s ON s.s_suppkey = c.suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'EUROPE' AND p.p_size <= 5
      |  AND c.supplycost = (
      |    SELECT MIN(c2.supplycost)
      |    FROM cost c2
      |    JOIN supplier s2 ON s2.s_suppkey = c2.suppkey
      |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE c2.partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, nation, s_name, p_partkey""".stripMargin)

  /** TPC-H Q9 shape: profit (revenue − 60%-of-retail cost proxy) by
    * supplier nation × order year over name-filtered parts. The part
    * filter prunes before the join (PushedFilters on p_name is a LIKE,
    * so it evaluates post-scan but pre-join); part and supplier legs
    * broadcast; the lineitem⋈orders spine is the one shuffle. All
    * arithmetic stays DECIMAL until the final ROUND+CAST, so the sum is
    * order-independent under any partitioning.
    */
  val tpch_q9_shape = OpQuery.sql("tpch_q9_shape", "lineitem", "part",
    "supplier", "orders", "nation")(
    """WITH profit AS (
      |  SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
      |           - CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2)) * CAST(0.6 AS DECIMAL(3,2)) AS amount
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  WHERE p.p_name LIKE '%red%')
      |SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
      |FROM profit GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin)

  /** TPC-H Q16 shape: supplier diversity per (brand, type, size) bucket,
    * excluding flagged suppliers via NOT IN. The part↔supplier relation
    * is the DISTINCT (partkey, suppkey) projection of lineitem — one
    * shuffle dedup, then a broadcast join against filtered part. The
    * NOT IN subquery (non-null key) plans as a broadcast anti-join, not
    * a per-row probe. COUNT(DISTINCT suppkey) expands to a two-phase
    * aggregate; buckets are bounded (brand × type × 8 sizes), so the
    * final aggregation is tiny.
    */
  val tpch_q16_shape = OpQuery.sql("tpch_q16_shape", "lineitem", "part",
    "supplier")(
    """WITH ps AS (SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem)
      |SELECT p.p_brand AS p_brand, p.p_type AS p_type, CAST(p.p_size AS INT) AS p_size,
      |       CAST(COUNT(DISTINCT ps.suppkey) AS BIGINT) AS supplier_cnt
      |FROM ps JOIN part p ON p.p_partkey = ps.partkey
      |WHERE p.p_brand <> 'Brand#4' AND p.p_type NOT LIKE 'MEDIUM%'
      |  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND ps.suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)

  /** TPC-H Q20 shape: suppliers who moved serious volume of 'small%'
    * parts in 1996 — a two-level nested IN (part filter inside the
    * lineitem aggregate inside the supplier semi-join) with a decimal
    * HAVING threshold. Both IN subqueries plan as semi-joins (the inner
    * part filter broadcasts); the (suppkey, partkey) aggregate is the
    * one shuffle and is date-pruned at the scan.
    */
  val tpch_q20_shape = OpQuery.sql("tpch_q20_shape", "lineitem", "part",
    "supplier", "nation")(
    """SELECT s.s_name AS s_name, n.n_name AS nation
      |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE s.s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY l_suppkey, l_partkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
      |ORDER BY s_name""".stripMargin)

  /** TPC-H Q21 shape: suppliers who were the ONLY late shipper on a
    * finished multi-supplier order — the suite's hardest correlation:
    * one EXISTS (some other supplier on the order) and one NOT EXISTS
    * (no other LATE supplier on the order), both correlated on
    * l_orderkey. Catalyst plans them as a left-semi and a left-anti
    * join of lineitem against itself, shuffled on orderkey — three
    * passes over the fact, no per-row subquery execution. "Late" =
    * shipped >60 days after order date (no receipt/commit dates in
    * this schema); the interval arithmetic is identical in both
    * engines.
    */
  val tpch_q21_shape = OpQuery.sql("tpch_q21_shape", "lineitem", "orders",
    "supplier")(
    """SELECT s.s_name AS s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
      |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin)

  val all: Seq[OpQuery] = Seq(
    tpch_q3_shape, tpch_q4_shape, tpch_q5_shape, tpch_q7_shape, tpch_q8_shape,
    tpch_q11_shape, tpch_q13_shape, tpch_q15_shape, tpch_q18_shape,
    tpch_q22_shape, tpch_q10_shape, tpch_q12_shape, tpch_q14_shape,
    tpch_q6_shape, tpch_q17_shape, tpch_q19_shape, tpch_q2_shape,
    tpch_q9_shape, tpch_q16_shape, tpch_q20_shape, tpch_q21_shape)
}
