package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Capability extensions beyond the reference's literal usage — the rest
  * of the standard analytic surface a migrating user would expect:
  * the full window-function family, ROLLUP subtotals, set operators,
  * and pivot. All oracle-checked.
  */
object Extended {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Window-function family: rank/dense_rank/percent_rank over a tie-ful
    * ordering (deterministic outputs under ties), lag/lead/ntile and
    * explicit ROWS frames over a total ordering.
    */
  val w4_window_family = OpQuery(
    "w4_window_family",
    """SELECT o_orderkey,
      |  CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY EXTRACT(year FROM o_orderdate)) AS INT) AS yr_rank,
      |  CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY EXTRACT(year FROM o_orderdate)) AS INT) AS yr_dense_rank,
      |  CAST(ROUND(PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY EXTRACT(year FROM o_orderdate)), 6) AS DOUBLE) AS yr_pct_rank,
      |  CAST(NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS price_quartile,
      |  LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_order,
      |  LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS next_order,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS window3_total
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val byYear = Window.partitionBy(col("o_custkey"))
      .orderBy(year(col("o_orderdate")))
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      rank().over(byYear).as("yr_rank"),
      dense_rank().over(byYear).as("yr_dense_rank"),
      round(percent_rank().over(byYear), 6).cast("double").as("yr_pct_rank"),
      ntile(4).over(byPrice).as("price_quartile"),
      lag(col("o_orderkey"), 1).over(byPrice).as("prev_order"),
      lead(col("o_orderkey"), 1).over(byPrice).as("next_order"),
      sum(dec(col("o_totalprice")))
        .over(byPrice.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("running_total"),
      sum(dec(col("o_totalprice")))
        .over(byPrice.rowsBetween(-2, Window.currentRow))
        .cast("double").as("window3_total"))
      .orderBy(col("o_orderkey"))
  }

  /** ROLLUP subtotals with GROUPING() disambiguation. */
  val a12_rollup = OpQuery(
    "a12_rollup",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
      |       o_orderstatus,
      |       CAST(GROUPING(EXTRACT(year FROM o_orderdate)) AS INT) AS g_year,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM orders
      |GROUP BY ROLLUP(EXTRACT(year FROM o_orderdate), o_orderstatus)
      |ORDER BY g_year, g_status, order_year NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .select(year(col("o_orderdate")).as("order_year"), col("o_orderstatus"),
        col("o_totalprice"))
      .rollup(col("order_year"), col("o_orderstatus"))
      .agg(
        grouping(col("order_year")).cast("int").as("g_year"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_value"))
      .select("order_year", "o_orderstatus", "g_year", "g_status",
        "n_orders", "total_value")
      .orderBy(col("g_year"), col("g_status"),
        col("order_year").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
  }

  /** Set operators: INTERSECT / EXCEPT (distinct semantics) / UNION
    * DISTINCT over customer-key sets.
    */
  val j11_set_ops = OpQuery(
    "j11_set_ops",
    """WITH with_orders AS (SELECT DISTINCT o_custkey AS k FROM orders),
      |     big_balance AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
      |SELECT 'intersect' AS op, k FROM (SELECT k FROM with_orders INTERSECT SELECT k FROM big_balance)
      |UNION ALL
      |SELECT 'except' AS op, k FROM (SELECT k FROM big_balance EXCEPT SELECT k FROM with_orders)
      |UNION ALL
      |SELECT 'union_d' AS op, k FROM (SELECT k FROM with_orders UNION SELECT k FROM big_balance)
      |ORDER BY op, k""".stripMargin) { (spark, dir) =>
    val withOrders = t(spark, dir, "orders").select(col("o_custkey").as("k")).distinct()
    val bigBalance = t(spark, dir, "customer")
      .filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
    withOrders.intersect(bigBalance).withColumn("op", lit("intersect"))
      .unionByName(bigBalance.except(withOrders).withColumn("op", lit("except")))
      .unionByName(withOrders.union(bigBalance).distinct().withColumn("op", lit("union_d")))
      .select("op", "k")
      .orderBy(col("op"), col("k"))
  }

  /** Pivot — sugar over conditional aggregation (which is exactly how
    * the oracle states it).
    */
  val p9_pivot = OpQuery(
    "p9_pivot",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
      |       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
      |       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
      |       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .select(year(col("o_orderdate")).as("order_year"), col("o_orderstatus"))
      .groupBy("order_year")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy(col("order_year"))
  }

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

  /** Array-aggregation family: collect_list + array_sort + array_join
    * (emitted as a canonical string so the value compare is
    * engine-neutral), array_contains, element count.
    */
  val f_array_agg = OpQuery(
    "f_array_agg",
    """SELECT c_nationkey,
      |       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
      |       CAST(COUNT(DISTINCT c_mktsegment) AS INT) AS n_segments,
      |       contains(string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment), 'BUILDING') AS has_building
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(
        array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segments"),
        countDistinct(col("c_mktsegment")).cast("int").as("n_segments"))
      .withColumn("has_building",
        array_contains(split(col("segments"), ","), "BUILDING"))
      .orderBy(col("c_nationkey"))
  }

  /** CUBE — all grouping-set combinations (complements a12_rollup). */
  val a13_cube = OpQuery(
    "a13_cube",
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n_orders"))
      .select("o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n_orders")
      .orderBy(col("g_status"), col("g_priority"),
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** UNPIVOT / melt — wide-to-long reshape (complements p9_pivot). */
  val p10_unpivot = OpQuery(
    "p10_unpivot",
    """SELECT c_custkey, 'c_acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS value FROM customer
      |UNION ALL
      |SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
      |ORDER BY c_custkey, metric""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        col("c_acctbal").cast("double"), col("c_nationkey").cast("double"))
      .unpivot(
        ids = Array(col("c_custkey")),
        values = Array(col("c_acctbal"), col("c_nationkey")),
        variableColumnName = "metric", valueColumnName = "value")
      .orderBy(col("c_custkey"), col("metric"))
  }

  /** RANGE window frames — value-based (not row-based) frame bounds:
    * the trailing-2-year running sum includes every peer year in range,
    * regardless of row ties, so it is deterministic where a ROWS frame
    * over tied years would not be.
    */
  val w5_range_frames = OpQuery(
    "w5_range_frames",
    """SELECT o_orderkey,
      |       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |         PARTITION BY o_custkey ORDER BY EXTRACT(year FROM o_orderdate)
      |         RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE) AS two_year_total,
      |       CAST(COUNT(*) OVER (
      |         PARTITION BY o_custkey ORDER BY EXTRACT(year FROM o_orderdate)
      |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS orders_to_date,
      |       CAST(ROUND(CUME_DIST() OVER (
      |         PARTITION BY o_custkey ORDER BY EXTRACT(year FROM o_orderdate)), 6) AS DOUBLE) AS yr_cume_dist
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val byYear = Window.partitionBy(col("o_custkey")).orderBy(year(col("o_orderdate")))
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      sum(dec(col("o_totalprice")))
        .over(byYear.rangeBetween(-1, Window.currentRow))
        .cast("double").as("two_year_total"),
      count(lit(1))
        .over(byYear.rangeBetween(Window.unboundedPreceding, Window.currentRow))
        .as("orders_to_date"),
      round(cume_dist().over(byYear), 6).cast("double").as("yr_cume_dist"))
      .orderBy(col("o_orderkey"))
  }

  /** Value window functions — first_value / last_value / nth_value with
    * the explicit full-partition frame (the default frame makes
    * last_value trivially equal the current row; the full frame is the
    * form people actually want and the one worth pinning).
    */
  val w6_value_windows = OpQuery(
    "w6_value_windows",
    """SELECT o_orderkey,
      |       FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_order,
      |       LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest_order,
      |       NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_priciest
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      first(col("o_orderkey")).over(byPrice).as("priciest_order"),
      last(col("o_orderkey")).over(byPrice).as("cheapest_order"),
      nth_value(col("o_orderkey"), 2).over(byPrice).as("second_priciest"))
      .orderBy(col("o_orderkey"))
  }

  /** Explicit GROUPING SETS — arbitrary subtotal combinations beyond
    * what ROLLUP/CUBE generate (the two one-dimension margins plus the
    * grand total, but NOT the (status, priority) cross).
    */
  val a14_grouping_sets = OpQuery.sql("a14_grouping_sets", "orders")(
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)

  /** Statistical aggregates: sample stddev/variance, covariance, and
    * Pearson correlation per group. Both engines accumulate central
    * moments in double precision; results rounded to 6 decimals (the
    * verified fp-parity bound for normalized stats) and 2 decimals for
    * the magnitude-bearing stddev/variance.
    */
  val a15_stats = OpQuery(
    "a15_stats",
    """SELECT o_orderpriority,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(ROUND(stddev_samp(o_totalprice), 2) AS DOUBLE) AS sd_price,
      |       CAST(ROUND(var_samp(o_totalprice), 2) AS DOUBLE) AS var_price,
      |       CAST(ROUND(covar_samp(o_totalprice, o_custkey), 2) AS DOUBLE) AS cov_price_cust,
      |       CAST(ROUND(corr(o_totalprice, o_custkey), 6) AS DOUBLE) AS corr_price_cust
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        round(stddev_samp(col("o_totalprice")), 2).cast("double").as("sd_price"),
        round(var_samp(col("o_totalprice")), 2).cast("double").as("var_price"),
        round(covar_samp(col("o_totalprice"), col("o_custkey")), 2)
          .cast("double").as("cov_price_cust"),
        round(corr(col("o_totalprice"), col("o_custkey")), 6)
          .cast("double").as("corr_price_cust"))
      .orderBy(col("o_orderpriority"))
  }

  /** Exact interpolated percentiles (the non-approximate complement of
    * a8_percentile): Spark `percentile()` ≡ DuckDB `quantile_cont` by
    * definition (linear interpolation at rank p·(n-1)); values carried
    * in exact cents so only the interpolation itself is floating-point,
    * rounded at 4 decimals of a cent.
    */
  val a16_percentile_exact = OpQuery(
    "a16_percentile_exact",
    """WITH c AS (
      |  SELECT c_nationkey, CAST(TRUNC(c_acctbal * 100) AS BIGINT) AS cents FROM customer
      |)
      |SELECT c_nationkey,
      |       CAST(ROUND(quantile_cont(cents, 0.25), 4) AS DOUBLE) AS p25,
      |       CAST(ROUND(quantile_cont(cents, 0.50), 4) AS DOUBLE) AS p50,
      |       CAST(ROUND(quantile_cont(cents, 0.95), 4) AS DOUBLE) AS p95
      |FROM c
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .select(col("c_nationkey"),
        (col("c_acctbal") * 100).cast("long").as("cents"))
      .groupBy(col("c_nationkey"))
      .agg(
        round(percentile(col("cents"), lit(0.25)), 4).cast("double").as("p25"),
        round(percentile(col("cents"), lit(0.50)), 4).cast("double").as("p50"),
        round(percentile(col("cents"), lit(0.95)), 4).cast("double").as("p95"))
      .orderBy(col("c_nationkey"))
  }

  val all: Seq[OpQuery] = Seq(
    w4_window_family, w5_range_frames, w6_value_windows, a12_rollup, a13_cube, a14_grouping_sets,
    a15_stats, a16_percentile_exact, j11_set_ops, p9_pivot, p10_unpivot,
    tpch_q3_shape, tpch_q4_shape, tpch_q5_shape, tpch_q7_shape, f_array_agg)
}
