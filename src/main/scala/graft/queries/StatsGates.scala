package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.KmvSketch
import graft.functions.TypedAggs
import graft.operators.TotalOrder

/** Aggregation and descriptive statistics: grouping sets, distinct
  * counts, percentiles, moments, concentration and diversity indices,
  * sketches (HLL, KMV, count-min, heavy hitters), finance metrics and
  * privacy checks (k-anonymity, l-diversity, t-closeness).
  */
object StatsGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  private def $(name: String): Column = col(name)

  /** A5 conditional aggregates — SUM(CASE WHEN)/AVG(CASE WHEN), the
    * backbone of all 15 reference views (05_dashboard_queries.ipynb:49-105
    * kpi view). AVG over CASE is null-skipping in both engines.
    */
  val a5_conditional_agg = OpQuery(
    "a5_conditional_agg",
    """SELECT o_orderpriority,
      |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
      |       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS filled_value,
      |       CAST(COUNT(*) AS BIGINT) AS n_total
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy($("o_orderpriority"))
      .agg(
        sum(when($("o_orderstatus") === "F", 1).otherwise(0)).as("n_filled"),
        sum(when($("o_orderstatus") === "O", 1).otherwise(0)).as("n_open"),
        sum(when($("o_orderstatus") === "F", dec($("o_totalprice"))))
          .cast("double").as("filled_value"),
        count(lit(1)).as("n_total"))
      .orderBy($("o_orderpriority"))
  }

  /** A4/A7 exact count-distinct per group (04b_gold_dim_countries
    * .ipynb:344-350). Spark plans this as a two-phase expand+agg; at
    * scale prefer approx_count_distinct unless exactness is required —
    * the reference requires exact.
    */
  val a4_count_distinct = OpQuery(
    "a4_count_distinct",
    """SELECT c_mktsegment,
      |       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
      |       CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .groupBy($("c_mktsegment"))
      .agg(
        countDistinct($("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"))
      .orderBy($("c_mktsegment"))
  }

  /** A3 distinct values of a column with a null guard
    * (04b_gold_dim_countries.ipynb:131-139).
    */
  val a3_distinct = OpQuery(
    "a3_distinct",
    """SELECT DISTINCT o_orderpriority
      |FROM orders
      |WHERE o_orderpriority IS NOT NULL
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .select($("o_orderpriority"))
      .where($("o_orderpriority").isNotNull)
      .distinct()
      .orderBy($("o_orderpriority"))
  }

  /** A1 duplicate-key audit: groupBy(key).count.filter(>1)
    * (02_bronze.ipynb:254). lineitem's l_orderkey repeats per line, so
    * the audit finds real duplicates here.
    */
  val a1_dup_audit = OpQuery(
    "a1_dup_audit",
    """SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY l_orderkey
      |HAVING COUNT(*) > 3
      |ORDER BY l_orderkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .groupBy($("l_orderkey"))
      .agg(count(lit(1)).as("n"))
      .filter($("n") > 3)
      .orderBy($("l_orderkey"))
  }

  /** A8 approximate median — PERCENTILE_APPROX(x, 0.5)
    * (05_dashboard_queries.ipynb:877). At full accuracy on integer cents
    * Spark returns the actual element at rank ceil(n/2) (smallest rank >=
    * p*n); the oracle pins exactly that rank. Cents via truncation on
    * both sides (Spark double->long cast truncates; DuckDB CAST rounds,
    * so the oracle uses TRUNC explicitly).
    */
  val a8_percentile = OpQuery(
    "a8_percentile",
    """WITH c AS (
      |  SELECT c_nationkey, CAST(TRUNC(c_acctbal * 100) AS BIGINT) AS cents FROM customer
      |), r AS (
      |  SELECT c_nationkey, cents,
      |         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY cents) AS rn,
      |         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      |  FROM c
      |)
      |SELECT c_nationkey, cents AS median_cents
      |FROM r WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
      |ORDER BY c_nationkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .withColumn("cents", ($("c_acctbal") * 100).cast("long"))
      .groupBy($("c_nationkey"))
      .agg(percentile_approx($("cents"), lit(0.5), lit(1000000)).as("median_cents"))
      .orderBy($("c_nationkey"))
  }

  /** A9 group-by-computed-expression histogram bucketing —
    * GROUP BY FLOOR(x/3600) (05_dashboard_queries.ipynb:549-560).
    */
  val a9_histogram = OpQuery(
    "a9_histogram",
    """SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS price_bucket,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy(floor($("o_totalprice") / 50000).cast("long").as("price_bucket"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($("price_bucket"))
  }

  /** A10 ratio-of-aggregates — AVG(part)*100/AVG(total) segment share
    * (05_dashboard_queries.ipynb:436-439).
    */
  val a10_ratio_of_aggs = OpQuery(
    "a10_ratio_of_aggs",
    """SELECT l_returnflag,
      |       CAST(ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,2))) AS DOUBLE) * 100
      |             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS DOUBLE) AS discount_share_pct
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .groupBy($("l_returnflag"))
      .agg(
        round(
          sum(dec($("l_extendedprice") * $("l_discount"))).cast("double") * 100 /
            sum(dec($("l_extendedprice"))).cast("double"),
          4).as("discount_share_pct"))
      .orderBy($("l_returnflag"))
  }

  /** Heavy hitters, exact relational form: event users above a 1%
    * frequency threshold — one uniform groupBy shuffle, the ground truth
    * the Misra–Gries sketch is validated against (FreqSketchSpec pins the
    * sketch's survival + lower-bound guarantees vs these exact counts).
    */
  val freq_heavy_hitters = OpQuery(
    "freq_heavy_hitters",
    """WITH counts AS (
      |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
      |), total AS (
      |  SELECT COUNT(*) AS t FROM events
      |)
      |SELECT user_id, CAST(n AS BIGINT) AS n_events,
      |       CAST(ROUND(n * 100.0 / t, 4) AS DOUBLE) AS pct
      |FROM counts, total
      |WHERE n * 200.0 > t
      |ORDER BY n_events DESC, user_id""".stripMargin) { (spark, dir) =>
    val events = t(spark, dir, "events")
    val counts = events.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    counts.crossJoin(broadcast(events.agg(count(lit(1)).as("t"))))
      .filter(col("n_events") * 200 > col("t"))
      .select(
        col("user_id"), col("n_events"),
        round(col("n_events") * 100.0 / col("t"), 4).cast("double").as("pct"))
      .orderBy(col("n_events").desc, col("user_id"))
  }

  /** approx_count_distinct (HLL++) next to the exact count — the at-scale
    * substitute for A4/A7 when exactness isn't required. Approximate →
    * rows-only at the gate; the relative error bound is pinned in
    * ScaleExtrasSpec.
    */
  val a11_approx_distinct = OpQuery.noOracle("a11_approx_distinct") { (spark, dir) =>
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .orderBy(col("l_returnflag"))
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

  /** Winsorized aggregation: per-group exact p05/p95 (over cents — the
    * a16 integer-domain trick, so interpolation is exact in both
    * engines), values clipped to the band, then the robust mean.
    */
  val a17_winsorize = OpQuery(
    "a17_winsorize",
    """WITH c AS (
      |  SELECT l_returnflag, CAST(TRUNC(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem
      |), p AS (
      |  SELECT l_returnflag,
      |         quantile_cont(cents, 0.05) AS p05,
      |         quantile_cont(cents, 0.95) AS p95
      |  FROM c GROUP BY l_returnflag
      |)
      |SELECT c.l_returnflag,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(ROUND(p05, 4) AS DOUBLE) AS p05_cents,
      |       CAST(ROUND(p95, 4) AS DOUBLE) AS p95_cents,
      |       CAST(ROUND(AVG(LEAST(GREATEST(cents, p05), p95)), 4) AS DOUBLE) AS winsor_mean_cents
      |FROM c JOIN p USING (l_returnflag)
      |GROUP BY c.l_returnflag, p05, p95
      |ORDER BY c.l_returnflag""".stripMargin) { (spark, dir) =>
    val cents = t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        (col("l_extendedprice") * 100).cast("long").as("cents"))
    // ONE percentile buffer per group, not two: each percentile(...)
    // aggregate keeps its own full value-count map per partition; the
    // array form computes both quantiles from a single shared buffer
    // (identical interpolation per element — results bit-equal) and
    // halves the ObjectHashAggregate's per-row and merge cost (r13-opt)
    val p = cents.groupBy(col("l_returnflag"))
      .agg(percentile(col("cents"), lit(Array(0.05, 0.95))).as("pb"))
      .select(col("l_returnflag"),
        element_at(col("pb"), 1).as("p05"),
        element_at(col("pb"), 2).as("p95"))
    cents.join(broadcast(p), "l_returnflag")
      .groupBy(col("l_returnflag"), col("p05"), col("p95"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(least(greatest(col("cents"), col("p05")), col("p95"))), 4)
          .cast("double").as("winsor_mean_cents"))
      .select(col("l_returnflag"), col("n"),
        round(col("p05"), 4).cast("double").as("p05_cents"),
        round(col("p95"), 4).cast("double").as("p95_cents"),
        col("winsor_mean_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** FILTER-clause aggregates: per-aggregate predicates in one pass —
    * the SQL-standard form of the conditional-aggregate family (A5's
    * CASE WHEN shape, stated declaratively).
    */
  val a18_filter_clause = OpQuery.sql("a18_filter_clause", "lineitem")(
    """SELECT l_returnflag,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DECIMAL(18,2)) AS rev_disc,
      |       CAST(ROUND(AVG(l_quantity) FILTER (WHERE l_linestatus = 'F'), 6) AS DOUBLE) AS avg_qty_f
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin)

  /** KMV distinct sketch ([[KmvSketch]]): per-group estimate vs exact,
    * with the relative error in the output. Rows-only gate — xxhash64
    * has no DuckDB twin; the estimator contract (exact below k, error
    * bound, merge/partition invariance, set algebra) is pinned in
    * KmvSketchSpec.
    */
  val kmv_distinct = OpQuery.noOracle("kmv_distinct") { (spark, dir) =>
    KmvSketch.register(spark)
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(KmvSketch.kmvSketch(col("l_orderkey"), 512).as("__s"),
        countDistinct(col("l_orderkey")).as("exact_distinct"))
      .select(col("l_returnflag"), col("exact_distinct"),
        round(col("__s.estimate"), 4).as("kmv_estimate"),
        round(abs(col("__s.estimate") - col("exact_distinct")) /
          col("exact_distinct"), 4).as("rel_err"))
      .withColumn("within_bound", col("rel_err") <= 0.15)
      .orderBy(col("l_returnflag"))
  }

  /** Linear-regression aggregates per group: slope, intercept, and R²
    * of extended price against quantity — the SQL-standard regr_*
    * family, one pass, identical semantics both engines.
    */
  val a18_regression = OpQuery(
    "a18_regression",
    """SELECT l_returnflag,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS DOUBLE) AS slope,
      |       CAST(ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS DOUBLE) AS intercept,
      |       CAST(ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS DOUBLE) AS r2
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** Shannon entropy of each user's event-type distribution — the
    * behavioral-diversity feature (and the label-balance diagnostic, on
    * a label column) computed as -Σ p·ln p over per-(user, type) counts.
    */
  val a19_entropy = OpQuery(
    "a19_entropy",
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
      |), tot AS (
      |  SELECT user_id, SUM(n) AS t FROM c GROUP BY 1
      |)
      |SELECT c.user_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_types,
      |       CAST(ROUND(-SUM((n * 1.0 / t) * ln(n * 1.0 / t)), 6) AS DOUBLE) AS entropy
      |FROM c JOIN tot ON c.user_id = tot.user_id
      |GROUP BY c.user_id
      |ORDER BY c.user_id""".stripMargin) { (spark, dir) =>
    val c = t(spark, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("user_id")).agg(sum(col("n")).as("t"))
    val p = col("n") * 1.0 / col("t")
    c.join(tot, "user_id")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_types"),
        round(-sum(p * log(p)), 6).as("entropy"))
      .orderBy(col("user_id"))
  }

  /** Pareto concentration: cumulative revenue share in descending
    * customer-revenue order, with the top-80% flag. The running sum is
    * a global window over the customer-level aggregate (dimension-
    * sized); share division happens in DOUBLE on both engines (exact
    * DECIMAL sums cast once), so the 0.8 boundary is bit-identical.
    */
  val pareto_analysis = OpQuery(
    "pareto_analysis",
    """WITH rev AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      |  FROM orders GROUP BY o_custkey
      |), tot AS (
      |  SELECT SUM(r) AS t FROM rev
      |), ranked AS (
      |  SELECT o_custkey, r,
      |         SUM(r) OVER (ORDER BY r DESC, o_custkey) AS cum
      |  FROM rev
      |)
      |SELECT o_custkey, CAST(r AS DOUBLE) AS revenue,
      |       CAST(ROUND(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE), 6) AS DOUBLE) AS cum_share,
      |       CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.8 AS in_top80
      |FROM ranked, tot
      |ORDER BY revenue DESC, o_custkey""".stripMargin) { (spark, dir) =>
    val rev = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("r"))
    val tot = rev.agg(sum(col("r")).as("t"))
    // Running revenue total via TotalOrder.prefixSum — the customer-level
    // frame scales with the table, so no un-partitioned SUM window.
    graft.operators.TotalOrder
      .prefixSum(rev, Seq(col("r").desc, col("o_custkey")), "r", "cum")
      .crossJoin(broadcast(tot))
      .select(col("o_custkey"), col("r").cast("double").as("revenue"),
        round(col("cum").cast("double") / col("t").cast("double"), 6).as("cum_share"),
        (col("cum").cast("double") / col("t").cast("double") <= 0.8).as("in_top80"))
      .orderBy(col("revenue").desc, col("o_custkey"))
  }

  /** Mergeable HLL distinct sketches (Apache DataSketches via Spark's
    * hll_sketch_agg / hll_union_agg): per-DAY user sketches union into
    * per-WEEK estimates WITHOUT touching raw events again — the
    * incremental-rollup pattern that makes distinct counting O(sketch)
    * instead of O(re-scan) at 100 TB. Rows-only gate (sketch binaries
    * have no DuckDB twin); the output carries its own exactness check —
    * estimate vs exact count and the relative error, bound-asserted in
    * ScaleExtrasSpec.
    */
  val a20_hll_partial_merge = OpQuery.noOracle("a20_hll_partial_merge") { (spark, dir) =>
    val events = t(spark, dir, "events")
    val daily = events
      .groupBy(date_trunc("week", col("ts")).as("wk"), to_date(col("ts")).as("d"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val weekly = daily
      .groupBy(col("wk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = events
      .groupBy(date_trunc("week", col("ts")).as("wk"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    weekly.join(exact, "wk")
      .select(
        date_format(col("wk"), "yyyy-MM-dd").as("week"),
        col("exact_distinct"),
        round(col("est"), 2).as("hll_estimate"),
        round(abs(col("est") - col("exact_distinct")) /
          col("exact_distinct"), 4).as("rel_err"))
      .withColumn("within_bound", col("rel_err") <= 0.05)
      .orderBy(col("week"))
  }

  /** Median absolute deviation per group — the robust dispersion
    * statistic (outlier-immune alternative to stddev). Two exact
    * interpolated-percentile passes over cents; the deviation stays in
    * BIGINT so the second median is as exact as the first.
    */
  val a21_mad = OpQuery(
    "a21_mad",
    """WITH c AS (
      |  SELECT l_returnflag AS g,
      |         CAST(TRUNC(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem
      |), med AS (
      |  SELECT g, CAST(ROUND(quantile_cont(cents, 0.5), 4) AS DOUBLE) AS m
      |  FROM c GROUP BY g
      |), dev AS (
      |  SELECT c.g, CAST(ABS(cents - CAST(m AS BIGINT)) AS BIGINT) AS d
      |  FROM c JOIN med ON c.g = med.g
      |)
      |SELECT g,
      |       CAST(ROUND(quantile_cont(d, 0.5), 4) AS DOUBLE) AS mad_cents
      |FROM dev GROUP BY g
      |ORDER BY g""".stripMargin) { (spark, dir) =>
    val c = t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice") * 100).cast("long").as("cents"))
    val med = c.groupBy(col("g"))
      .agg(round(percentile(col("cents"), lit(0.5)), 4).as("m"))
    c.join(broadcast(med), "g")
      .select(col("g"), abs(col("cents") - col("m").cast("long")).as("d"))
      .groupBy(col("g"))
      .agg(round(percentile(col("d"), lit(0.5)), 4).as("mad_cents"))
      .orderBy(col("g"))
  }

  /** Boolean aggregate family: every / any / count_if per group —
    * assertion-style aggregates (DuckDB twins bool_and / bool_or /
    * count_if).
    */
  val a23_bool_aggs = OpQuery(
    "a23_bool_aggs",
    """SELECT l_returnflag,
      |       bool_and(l_quantity > 0) AS all_positive_qty,
      |       bool_or(l_discount > 0.09) AS any_deep_discount,
      |       CAST(count_if(l_tax = 0) AS BIGINT) AS n_tax_free
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        every(col("l_quantity") > 0).as("all_positive_qty"),
        some(col("l_discount") > 0.09).as("any_deep_discount"),
        count_if(col("l_tax") === 0).as("n_tax_free"))
      .orderBy(col("l_returnflag"))
  }

  /** GROUP BY ALL: every non-aggregate select item becomes a grouping
    * key — identical SQL text on both engines.
    */
  val a24_group_by_all = OpQuery.sql("a24_group_by_all", "lineitem")(
    """SELECT l_returnflag, l_linestatus,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |GROUP BY ALL
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** Ordered intra-group string aggregation: listagg ... WITHIN GROUP
    * (Spark 4) vs DuckDB's string_agg(... ORDER BY ...). The explicit
    * ORDER BY inside the aggregate is what makes the output
    * deterministic under any partitioning — an unordered collect would
    * hash differently run to run.
    */
  val a25_string_agg = OpQuery.sql("a25_string_agg", "nation", "region")(
    """SELECT r_name,
      |       string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin,
    "string_agg(n_name, ',' ORDER BY n_name)" ->
      "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")

  /** Most-frequent value per group with a full deterministic tie-break
    * (count desc, then value asc). One shuffle on the group key; the
    * per-(group,value) count is map-side combined before the window
    * ever sees it, so the window input is dimension-sized.
    */
  val a26_mode = OpQuery.sql("a26_mode", "documents")(
    """WITH counts AS (
      |  SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY source, lang),
      |ranked AS (
      |  SELECT source, lang, cnt,
      |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, lang) AS rn
      |  FROM counts)
      |SELECT source, lang AS mode_lang, CAST(cnt AS BIGINT) AS n
      |FROM ranked WHERE rn = 1
      |ORDER BY source""".stripMargin)

  /** Skewness and excess kurtosis per group, computed from EXACT integer
    * moment sums (Σx..Σx⁴ in whole dollars, summed as DECIMAL(38,0)) —
    * engines disagree on sample-vs-population skewness definitions and
    * on float accumulation order, but raw integer moments are
    * definition-free and order-free; the one float expression at the end
    * is written identically on both sides.
    */
  val a27_moments = OpQuery.sql("a27_moments", "orders")(
    """WITH base AS (
      |  SELECT o_orderpriority AS pri, CAST(ROUND(o_totalprice) AS BIGINT) AS x
      |  FROM orders),
      |m AS (
      |  SELECT pri, COUNT(*) AS n,
      |         SUM(CAST(x AS DECIMAL(38,0))) AS s1,
      |         SUM(CAST(x AS DECIMAL(38,0)) * x) AS s2,
      |         SUM(CAST(x AS DECIMAL(38,0)) * x * x) AS s3,
      |         SUM(CAST(x AS DECIMAL(38,0)) * x * x * x) AS s4
      |  FROM base GROUP BY pri),
      |f AS (
      |  SELECT pri, n,
      |         CAST(s1 AS DOUBLE) / n AS mu,
      |         CAST(s2 AS DOUBLE) / n AS m2,
      |         CAST(s3 AS DOUBLE) / n AS m3,
      |         CAST(s4 AS DOUBLE) / n AS m4
      |  FROM m)
      |SELECT pri, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND((m3 - 3 * mu * m2 + 2 * mu * mu * mu)
      |                  / pow(m2 - mu * mu, 1.5), 6) AS DOUBLE) AS skew,
      |       CAST(ROUND((m4 - 4 * mu * m3 + 6 * mu * mu * m2 - 3 * mu * mu * mu * mu)
      |                  / pow(m2 - mu * mu, 2) - 3, 6) AS DOUBLE) AS excess_kurtosis
      |FROM f
      |ORDER BY pri""".stripMargin)

  /** Bitmap aggregates (Spark 4 bitmap_* family): exact distinct counts
    * as mergeable fixed-width bitmaps — the re-aggregatable exact
    * counterpart of HLL for dense integer domains. The oracle states
    * plain COUNT(DISTINCT), proving bitmap_count ∘ bitmap_construct_agg
    * is exactly that.
    */
  val a28_bitmap_distinct = OpQuery(
    "a28_bitmap_distinct",
    """SELECT o_orderpriority,
      |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_bm_orders")
    spark.sql(
      """WITH per_bucket AS (
        |  SELECT o_orderpriority,
        |         bitmap_bucket_number(o_custkey) AS bucket,
        |         bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm,
        |         COUNT(*) AS n
        |  FROM graft_bm_orders
        |  GROUP BY o_orderpriority, bitmap_bucket_number(o_custkey))
        |SELECT o_orderpriority,
        |       CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_customers,
        |       CAST(SUM(n) AS BIGINT) AS n_orders
        |FROM per_bucket
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** Weighted median: order value weighted by line quantity, located by
    * the first row whose cumulative weight crosses half the total —
    * exact integer weights, one price-ordered window per group (no
    * sort beyond the window's own), the robust-statistics workhorse
    * plain percentile can't express.
    */
  val a30_weighted_median = OpQuery.sql("a30_weighted_median", "lineitem")(
    """WITH w AS (
      |  SELECT l_returnflag AS grp,
      |         CAST(ROUND(l_extendedprice) AS BIGINT) AS x,
      |         CAST(l_quantity AS BIGINT) AS wt
      |  FROM lineitem),
      |cum AS (
      |  SELECT grp, x, wt,
      |         SUM(wt) OVER (PARTITION BY grp ORDER BY x, wt
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |         SUM(wt) OVER (PARTITION BY grp) AS tw
      |  FROM w),
      |hit AS (
      |  SELECT grp, x, cw, tw,
      |         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cw, x) AS rn
      |  FROM cum WHERE cw * 2 >= tw)
      |SELECT grp, CAST(x AS BIGINT) AS weighted_median,
      |       CAST(tw AS BIGINT) AS total_weight
      |FROM hit WHERE rn = 1
      |ORDER BY grp""".stripMargin)

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

  /** Pearson correlation and covariance from exact integer moments
    * (price vs quantity per return flag) — bypassing both engines'
    * single-pass accumulators for the definition itself, like
    * a31_variance does for variance.
    */
  val a33_corr = OpQuery.sql("a33_corr", "lineitem")(
    """WITH b AS (
      |  SELECT l_returnflag AS grp,
      |         CAST(ROUND(l_extendedprice) AS BIGINT) AS x,
      |         CAST(l_quantity AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT grp, COUNT(*) AS n,
      |         SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
      |         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
      |  FROM b GROUP BY grp)
      |SELECT grp, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / n, 4) AS DOUBLE) AS covar_pop,
      |       CAST(ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
      |            / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
      |               * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)), 6) AS DOUBLE) AS corr
      |FROM m
      |ORDER BY grp""".stripMargin)

  /** Decile lift table: rank customers into spend deciles, then each
    * decile's share of total spend vs its 10% population share — the
    * campaign-targeting table. NTILE over the customer aggregate
    * (dimension-sized), DECIMAL-exact spend.
    */
  val a34_decile_lift = OpQuery(
    "a34_decile_lift",
    """WITH spend AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT s, NTILE(10) OVER (ORDER BY s DESC, o_custkey) AS decile FROM spend),
      |per AS (
      |  SELECT decile, COUNT(*) AS n, SUM(s) AS ds FROM ranked GROUP BY decile),
      |tot AS (SELECT SUM(ds) AS t, SUM(n) AS cn FROM per)
      |SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n_customers,
      |       CAST(ROUND(CAST(ds AS DOUBLE) / t, 6) AS DOUBLE) AS spend_share,
      |       CAST(ROUND((CAST(ds AS DOUBLE) / t) / (CAST(n AS DOUBLE) / cn), 4) AS DOUBLE) AS lift
      |FROM per, tot
      |ORDER BY decile""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_lift_orders")
    // decile assignment via TotalOrder.ntile (two-phase range ranks,
    // bit-equal to the window NTILE) — the window form single-reduced
    // the whole per-customer spend frame
    import org.apache.spark.sql.functions.col
    graft.operators.TotalOrder
      .ntile(
        spark.sql(
          """SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
            |FROM graft_lift_orders GROUP BY o_custkey""".stripMargin),
        Seq(col("s").desc, col("o_custkey")), 10, "decile")
      .select(col("s"), col("decile"))
      .createOrReplaceTempView("graft_lift_ranked")
    spark.sql(
      """WITH ranked AS (SELECT s, decile FROM graft_lift_ranked),
        |per AS (
        |  SELECT decile, COUNT(*) AS n, SUM(s) AS ds FROM ranked GROUP BY decile),
        |tot AS (SELECT SUM(ds) AS t, SUM(n) AS cn FROM per)
        |SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n_customers,
        |       CAST(ROUND(CAST(ds AS DOUBLE) / t, 6) AS DOUBLE) AS spend_share,
        |       CAST(ROUND((CAST(ds AS DOUBLE) / t) / (CAST(n AS DOUBLE) / cn), 4) AS DOUBLE) AS lift
        |FROM per, tot
        |ORDER BY decile""".stripMargin)
  }

  /** DISTINCT ordered string aggregation: the dedup variant of listagg —
    * repeated values collapse before joining.
    */
  val a37_string_agg_distinct = OpQuery.sql("a37_string_agg_distinct", "events")(
    """SELECT user_id % 10 AS cohort,
      |       string_agg(DISTINCT event_type, '|' ORDER BY event_type) AS types
      |FROM events
      |GROUP BY user_id % 10
      |ORDER BY cohort""".stripMargin,
    "string_agg(DISTINCT event_type, '|' ORDER BY event_type)" ->
      "listagg(DISTINCT event_type, '|') WITHIN GROUP (ORDER BY event_type)")

  /** percentile_disc: the DISCRETE percentile (an actual data value,
    * never interpolated) — the right quantile when the domain is
    * categorical-ordinal (latency buckets, rating scales). Integer
    * results, exact on both engines.
    */
  val a38_percentile_disc = OpQuery(
    "a38_percentile_disc",
    """SELECT l_returnflag,
      |       CAST(quantile_disc(CAST(l_quantity AS BIGINT), 0.5) AS BIGINT) AS p50_qty,
      |       CAST(quantile_disc(CAST(l_quantity AS BIGINT), 0.9) AS BIGINT) AS p90_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_pd_lineitem")
    spark.sql(
      """SELECT l_returnflag,
        |       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(l_quantity AS BIGINT)) AS BIGINT) AS p50_qty,
        |       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY CAST(l_quantity AS BIGINT)) AS BIGINT) AS p90_qty
        |FROM graft_pd_lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** Native HLL sketch functions (hll_sketch_agg → hll_sketch_estimate):
    * the SQL-surface sketch path (the custom DataSketches rollup gate
    * a20 covers re-aggregation; this pins the built-in functions). The
    * estimate itself is approximate, so the gate emits the EXACT count
    * plus an in-bound flag the oracle states as literal truth — the
    * accuracy contract is what's hash-pinned.
    */
  val a39_hll_native = OpQuery(
    "a39_hll_native",
    """SELECT o_orderpriority,
      |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_nd,
      |       CAST(true AS BOOLEAN) AS hll_within_5pct
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_hlln_orders")
    spark.sql(
      """SELECT o_orderpriority,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_nd,
        |       CAST(abs(hll_sketch_estimate(hll_sketch_agg(o_custkey)) - COUNT(DISTINCT o_custkey))
        |            <= 0.05 * COUNT(DISTINCT o_custkey) AS BOOLEAN) AS hll_within_5pct
        |FROM graft_hlln_orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** approx_percentile with an explicit accuracy contract: the estimate
    * must land within the exact p40–p60 band for the median query —
    * the error model made checkable, same pattern as the HLL gate.
    */
  val a40_approx_percentile_bound = OpQuery(
    "a40_approx_percentile_bound",
    """WITH x AS (SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS v FROM orders)
      |SELECT CAST(quantile_disc(v, 0.4) AS BIGINT) AS p40,
      |       CAST(quantile_disc(v, 0.6) AS BIGINT) AS p60,
      |       CAST(true AS BOOLEAN) AS approx_median_in_band
      |FROM x""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_apb_orders")
    spark.sql(
      """WITH x AS (SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS v FROM graft_apb_orders)
        |SELECT CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY v) AS BIGINT) AS p40,
        |       CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY v) AS BIGINT) AS p60,
        |       CAST(approx_percentile(v, 0.5, 1000)
        |              BETWEEN percentile_disc(0.4) WITHIN GROUP (ORDER BY v)
        |                  AND percentile_disc(0.6) WITHIN GROUP (ORDER BY v) AS BOOLEAN) AS approx_median_in_band
        |FROM x""".stripMargin)
  }

  /** Custom typed Aggregator (quantity-weighted mean price in exact
    * integer arithmetic) registered as a UDAF and driven through
    * groupBy — proving the user-facing Aggregator API against the
    * relational oracle. Two-phase aggregation still applies (partials
    * map-side), so the extension point scales like a built-in agg; the
    * engine's OWN operators stay on codegen'd expressions, as
    * documented in [[TypedAggs]].
    */
  val a42_typed_aggregator = OpQuery(
    "a42_typed_aggregator",
    """SELECT l_returnflag,
      |       CAST(ROUND(CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
      |                  / SUM(CAST(l_quantity AS BIGINT)), 4) AS DOUBLE) AS weighted_mean_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val wmean = udaf(TypedAggs.WeightedMeanCents)
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice")).cast("long").as("v"),
        col("l_quantity").cast("long").as("w"))
    li.groupBy("l_returnflag")
      .agg(round(wmean(col("v"), col("w")), 4).as("weighted_mean_price"))
      .orderBy("l_returnflag")
  }

  /** Gini coefficient of customer spend — the inequality measure behind
    * "N% of revenue from the top M%": Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) over the
    * rank-ordered spend, exact integers until the single division.
    */
  val a43_gini = OpQuery(
    "a43_gini",
    """WITH spend AS (
      |  SELECT o_custkey, CAST(ROUND(SUM(o_totalprice)) AS BIGINT) AS s
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT s, ROW_NUMBER() OVER (ORDER BY s, o_custkey) AS i FROM spend),
      |m AS (SELECT COUNT(*) AS n, SUM(s) AS t,
      |             SUM((2 * i - 1) * s) AS num FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |       CAST(ROUND((CAST(num AS DOUBLE) - (n + 1) * CAST(t AS DOUBLE))
      |                  / (n * CAST(t AS DOUBLE)), 6) AS DOUBLE) AS gini
      |FROM m""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_gini_orders")
    // the Gini rank index via TotalOrder two-phase ranks — the window
    // form single-reduced the whole per-customer spend frame
    import org.apache.spark.sql.functions.col
    graft.operators.TotalOrder
      .rowNumber(
        spark.sql(
          """SELECT o_custkey, CAST(ROUND(SUM(o_totalprice)) AS BIGINT) AS s
            |FROM graft_gini_orders GROUP BY o_custkey""".stripMargin),
        Seq(col("s"), col("o_custkey")), "i")
      .select(col("s"), col("i"))
      .createOrReplaceTempView("graft_gini_ranked")
    spark.sql(
      """WITH ranked AS (SELECT s, i FROM graft_gini_ranked),
        |m AS (SELECT COUNT(*) AS n, SUM(s) AS t,
        |             SUM((2 * i - 1) * s) AS num FROM ranked)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |       CAST(ROUND((CAST(num AS DOUBLE) - (n + 1) * CAST(t AS DOUBLE))
        |                  / (n * CAST(t AS DOUBLE)), 6) AS DOUBLE) AS gini
        |FROM m""".stripMargin)
  }

  /** Trimmed mean: the average of values strictly inside the exact
    * [p10, p90] band — the robust center that survives fat tails.
    * Bounds are exact interpolated percentiles broadcast back; the
    * trimmed sum stays DECIMAL.
    */
  val a44_trimmed_mean = OpQuery.sql("a44_trimmed_mean", "orders")(
    """WITH v AS (SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS x FROM orders),
      |b AS (SELECT quantile_cont(x, 0.1) AS lo, quantile_cont(x, 0.9) AS hi FROM v)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
      |       CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS trimmed_mean
      |FROM v, b
      |WHERE x >= b.lo AND x <= b.hi""".stripMargin,
    "quantile_cont(" -> "percentile(")

  /** Log2 histogram via binary-representation length — floor(log2(x))+1
    * computed EXACTLY (length of bin(x)), dodging the libm boundary
    * problem where log2(2^k) can come back as k−ε and floor to the
    * wrong bucket on one engine but not the other.
    */
  val a45_log2_histogram = OpQuery.sql("a45_log2_histogram", "orders")(
    """WITH v AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
      |  WHERE o_totalprice > 0)
      |SELECT CAST(length(bin(cents)) AS INT) AS log2_bucket,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(MIN(cents) AS BIGINT) AS min_cents,
      |       CAST(MAX(cents) AS BIGINT) AS max_cents
      |FROM v
      |GROUP BY length(bin(cents))
      |ORDER BY log2_bucket""".stripMargin)

  /** Herfindahl–Hirschman index: revenue concentration among suppliers
    * within each nation — Σ shareᵢ² per market. Revenue sums go
    * through DECIMAL(18,2) so they are order-independent; one
    * broadcast join (supplier dim) + two grouped aggregations.
    */
  val a46_hhi = OpQuery(
    "a46_hhi",
    """WITH rev AS (
      |  SELECT s.s_nationkey AS nation, l.l_suppkey,
      |         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY s.s_nationkey, l.l_suppkey),
      |tot AS (
      |  SELECT nation, SUM(r) AS t, COUNT(*) AS n_suppliers FROM rev GROUP BY nation)
      |SELECT t.nation, CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
      |       CAST(ROUND(SUM(POW(CAST(rev.r AS DOUBLE) / CAST(t.t AS DOUBLE), 2)), 6)
      |            AS DOUBLE) AS hhi
      |FROM rev JOIN tot t ON rev.nation = t.nation
      |GROUP BY t.nation, t.n_suppliers
      |ORDER BY t.nation""".stripMargin) { (spark, dir) =>
    val li = Tables.load(spark, dir, "lineitem")
    val sup = Tables.load(spark, dir, "supplier")
    val rev = li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_nationkey").as("nation"), col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("r"))
    val tot = rev.groupBy("nation")
      .agg(sum(col("r")).as("t"), count(lit(1)).as("n_suppliers"))
    rev.join(broadcast(tot), "nation")
      .groupBy(col("nation"), col("n_suppliers"))
      .agg(round(sum(pow(col("r").cast("double") / col("t").cast("double"), 2)), 6)
        .cast("double").as("hhi"))
      .select(col("nation"), col("n_suppliers").cast("long").as("n_suppliers"),
        col("hhi"))
      .orderBy("nation")
  }

  /** Theil T inequality index of customer spend: (1/n) Σ (x/μ)·ln(x/μ)
    * over integer-rounded per-customer spend. Each term is rounded to
    * 12 decimals and summed as DECIMAL so the cross-partition sum is
    * order-independent and libm ulp differences are quantized away.
    */
  val a47_theil = OpQuery.sql("a47_theil", "orders")(
    """WITH spend AS (
      |  SELECT o_custkey, CAST(ROUND(SUM(o_totalprice)) AS BIGINT) AS s
      |  FROM orders GROUP BY o_custkey),
      |m AS (SELECT COUNT(*) AS n, SUM(s) AS t FROM spend),
      |terms AS (
      |  SELECT CAST(ROUND((CAST(s AS DOUBLE) * n / t) * ln(CAST(s AS DOUBLE) * n / t), 12)
      |              AS DECIMAL(28,12)) AS term, n
      |  FROM spend, m WHERE s > 0)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
      |       CAST(ROUND(CAST(SUM(term) AS DOUBLE) / MAX(n), 6) AS DOUBLE) AS theil
      |FROM terms""".stripMargin,
    "FROM spend, m" -> "FROM spend CROSS JOIN m")

  /** Process capability Cp / Cpk of order totals per priority band
    * against fixed spec limits — the SPC summary that says whether a
    * pipeline metric fits its tolerance. Moments from DECIMAL cents
    * sums; one grouped pass.
    */
  val a52_cpk = OpQuery(
    "a52_cpk",
    """WITH base AS (
      |  SELECT o_orderpriority AS band,
      |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      |  FROM orders),
      |m AS (
      |  SELECT band, COUNT(*) AS n,
      |         SUM(CAST(c AS DECIMAL(38,0))) AS s,
      |         SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS sq
      |  FROM base GROUP BY band),
      |stats AS (
      |  SELECT band, n,
      |         CAST(s AS DOUBLE) / n / 100 AS mu,
      |         sqrt(CAST(sq AS DOUBLE) / n - POW(CAST(s AS DOUBLE) / n, 2)) / 100 AS sd
      |  FROM m)
      |SELECT band, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(mu, 4) AS DOUBLE) AS mu,
      |       CAST(ROUND((600000 - 1000) / (6 * sd), 6) AS DOUBLE) AS cp,
      |       CAST(ROUND(LEAST((600000 - mu) / (3 * sd), (mu - 1000) / (3 * sd)), 6)
      |            AS DOUBLE) AS cpk
      |FROM stats
      |ORDER BY band""".stripMargin) { (spark, dir) =>
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_orderpriority").as("band"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
    val m = base.groupBy("band").agg(
      count(lit(1)).as("n"),
      sum(col("c").cast("decimal(38,0)")).as("s"),
      sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)")).as("sq"))
    val mu = col("s").cast("double") / col("n") / 100
    val sd = sqrt(col("sq").cast("double") / col("n") -
      pow(col("s").cast("double") / col("n"), 2)) / 100
    m.select(col("band"), col("n").cast("long").as("n"),
        round(mu, 4).cast("double").as("mu"),
        round(lit(600000 - 1000) / (lit(6) * sd), 6).cast("double").as("cp"),
        round(least((lit(600000) - mu) / (lit(3) * sd),
          (mu - lit(1000)) / (lit(3) * sd)), 6).cast("double").as("cpk"))
      .orderBy("band")
  }

  /** Tukey fences per event type: Q1/Q3 as pinned order statistics
    * (value at rank ⌈n/4⌉ / ⌈3n/4⌉), fences at 1.5×IQR, and the
    * outlier census. Rank picks instead of interpolation keep every
    * intermediate an existing double; two window passes share one
    * shuffle on event_type.
    */
  val a53_tukey_fences = OpQuery.sql("a53_tukey_fences", "events")(
    """WITH ranked AS (
      |  SELECT event_type, value,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |quarts AS (
      |  SELECT event_type,
      |         MAX(CASE WHEN r = CAST(CEIL(n * 0.25) AS BIGINT) THEN value END) AS q1,
      |         MAX(CASE WHEN r = CAST(CEIL(n * 0.75) AS BIGINT) THEN value END) AS q3,
      |         MAX(n) AS n
      |  FROM ranked GROUP BY event_type),
      |fenced AS (
      |  SELECT r.event_type, r.value, q.q1, q.q3, q.n,
      |         q.q1 - 1.5 * (q.q3 - q.q1) AS lo,
      |         q.q3 + 1.5 * (q.q3 - q.q1) AS hi
      |  FROM ranked r JOIN quarts q ON r.event_type = q.event_type)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
      |       CAST(MAX(q1) AS DOUBLE) AS q1, CAST(MAX(q3) AS DOUBLE) AS q3,
      |       CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_outliers,
      |       CAST(MIN(CASE WHEN value < lo OR value > hi THEN value END) AS DOUBLE)
      |         AS min_outlier,
      |       CAST(MAX(CASE WHEN value < lo OR value > hi THEN value END) AS DOUBLE)
      |         AS max_outlier
      |FROM fenced
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin)

  /** The mean family per market segment: arithmetic, geometric (via
    * quantized Σln), harmonic (via quantized Σ1/x), and quadratic (RMS,
    * exact integer squares). Each non-exact term is rounded to 12
    * decimals and summed as DECIMAL, so all four means are
    * order-independent — one grouped pass produces the whole family.
    */
  val a56_mean_family = OpQuery.sql("a56_mean_family", "customer")(
    """WITH base AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM customer WHERE c_acctbal > 0),
      |m AS (
      |  SELECT seg, COUNT(*) AS n,
      |         SUM(c) AS s,
      |         SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS sq,
      |         SUM(CAST(ROUND(ln(CAST(c AS DOUBLE) / 100), 12) AS DECIMAL(28,12)))
      |           AS sln,
      |         SUM(CAST(ROUND(100.0 / c, 12) AS DECIMAL(28,12))) AS sinv
      |  FROM base GROUP BY seg)
      |SELECT seg, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(CAST(s AS DOUBLE) / n / 100, 4) AS DOUBLE) AS mean_arith,
      |       CAST(ROUND(exp(CAST(sln AS DOUBLE) / n), 4) AS DOUBLE) AS mean_geo,
      |       CAST(ROUND(n / CAST(sinv AS DOUBLE), 4) AS DOUBLE) AS mean_harm,
      |       CAST(ROUND(sqrt(CAST(sq AS DOUBLE) / n) / 100, 4) AS DOUBLE) AS mean_rms
      |FROM m
      |ORDER BY seg""".stripMargin)

  /** Hill diversity profile of the source mix per language: q=0
    * (richness), q=1 (exp Shannon), q=2 (inverse Simpson) — the three
    * diversity numbers ecology settled on, here applied to corpus
    * composition. Share-based terms are quantized to 12 decimals
    * before their DECIMAL sums so the profile is engine-exact; one
    * grouped pass over (lang, source) counts feeds all three.
    */
  val a60_hill_diversity = OpQuery.sql("a60_hill_diversity", "documents")(
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source),
      |tot AS (SELECT lang, SUM(n) AS t FROM cells GROUP BY lang),
      |terms AS (
      |  SELECT c.lang,
      |         CAST(ROUND(-(CAST(c.n AS DOUBLE) / t.t) *
      |                    ln(CAST(c.n AS DOUBLE) / t.t), 12) AS DECIMAL(28,12))
      |           AS hterm,
      |         CAST(ROUND(POW(CAST(c.n AS DOUBLE) / t.t, 2), 12) AS DECIMAL(28,12))
      |           AS sterm
      |  FROM cells c JOIN tot t ON c.lang = t.lang)
      |SELECT lang,
      |       CAST(COUNT(*) AS BIGINT) AS hill_q0,
      |       CAST(ROUND(exp(CAST(SUM(hterm) AS DOUBLE)), 6) AS DOUBLE) AS hill_q1,
      |       CAST(ROUND(1.0 / CAST(SUM(sterm) AS DOUBLE), 6) AS DOUBLE) AS hill_q2
      |FROM terms
      |GROUP BY lang
      |ORDER BY lang""".stripMargin)

  /** KMV (k-minimum-values) distinct-count sketch with md5 hashes:
    * keep the k=32 smallest normalized hash values of the user set;
    * estimate (k−1)/u₍ₖ₎. Reported against the true distinct count —
    * the mergeable sketch whose accuracy claim the oracle can now
    * CHECK, not just trust.
    */
  val a68_kmv_md5 = OpQuery.sql("a68_kmv_md5", "events")(
    """WITH ids AS (SELECT DISTINCT user_id FROM events),
      |hashed AS (
      |  SELECT user_id,
      |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      |  FROM ids),
      |ranked AS (
      |  SELECT h, ROW_NUMBER() OVER (ORDER BY h, user_id) AS r FROM hashed),
      |kth AS (SELECT h FROM ranked WHERE r = 32),
      |truth AS (SELECT COUNT(*) AS n FROM ids)
      |SELECT CAST(truth.n AS BIGINT) AS true_distinct,
      |       CAST(ROUND(31.0 / (CAST(kth.h AS DOUBLE) / 4294967296.0), 4) AS DOUBLE)
      |         AS kmv_estimate,
      |       CAST(ROUND(ABS(31.0 / (CAST(kth.h AS DOUBLE) / 4294967296.0) - truth.n)
      |                  / truth.n, 4) AS DOUBLE) AS rel_error
      |FROM kth CROSS JOIN truth""".stripMargin,
    "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))" ->
      "conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)")

  /** HyperLogLog with md5 hashes, m=16 buckets: bucket on the top 4
    * bits, register = leading-zero rank of the remaining 28 (via
    * binary-string length — identical semantics in both engines),
    * harmonic mean, and the small-range linear-counting correction.
    * Every register value is an exact integer; the one ln() in the
    * correction is the only transcendental.
    */
  val a69_hll_md5 = OpQuery(
    "a69_hll_md5",
    """WITH ids AS (SELECT DISTINCT user_id FROM events),
      |hashed AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      |  FROM ids),
      |parts AS (
      |  SELECT h >> 28 AS bucket, h & 268435455 AS rest FROM hashed),
      |regs AS (
      |  SELECT bucket,
      |         MAX(CASE WHEN rest = 0 THEN 29
      |                  ELSE 29 - length(format('{:b}', rest)) END) AS m_j
      |  FROM parts GROUP BY bucket),
      |padded AS (
      |  SELECT b.b AS bucket, COALESCE(r.m_j, 0) AS m_j
      |  FROM (SELECT unnest(range(0, 16)) AS b) b
      |  LEFT JOIN regs r ON r.bucket = b.b),
      |est AS (
      |  SELECT SUM(POW(2.0, -m_j)) AS harm,
      |         SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS zeros
      |  FROM padded),
      |truth AS (SELECT COUNT(*) AS n FROM ids)
      |SELECT CAST(truth.n AS BIGINT) AS true_distinct,
      |       CAST(ROUND(CASE
      |         WHEN 0.673 * 256 / est.harm <= 40 AND est.zeros > 0
      |           THEN 16 * ln(16.0 / est.zeros)
      |         ELSE 0.673 * 256 / est.harm END, 4) AS DOUBLE) AS hll_estimate
      |FROM est CROSS JOIN truth""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_hll_events")
    spark.sql(
      """WITH ids AS (SELECT DISTINCT user_id FROM graft_hll_events),
        |hashed AS (
        |  SELECT CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)
        |           AS h
        |  FROM ids),
        |parts AS (
        |  SELECT shiftright(h, 28) AS bucket, h & 268435455 AS rest FROM hashed),
        |regs AS (
        |  SELECT bucket,
        |         MAX(CASE WHEN rest = 0 THEN 29
        |                  ELSE 29 - length(conv(rest, 10, 2)) END) AS m_j
        |  FROM parts GROUP BY bucket),
        |padded AS (
        |  SELECT b.b AS bucket, COALESCE(r.m_j, 0) AS m_j
        |  FROM (SELECT explode(sequence(0, 15)) AS b) b
        |  LEFT JOIN regs r ON r.bucket = b.b),
        |est AS (
        |  SELECT SUM(POW(2.0, -m_j)) AS harm,
        |         SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS zeros
        |  FROM padded),
        |truth AS (SELECT COUNT(*) AS n FROM ids)
        |SELECT CAST(truth.n AS BIGINT) AS true_distinct,
        |       CAST(ROUND(CASE
        |         WHEN 0.673 * 256 / est.harm <= 40 AND est.zeros > 0
        |           THEN 16 * ln(16.0 / est.zeros)
        |         ELSE 0.673 * 256 / est.harm END, 4) AS DOUBLE) AS hll_estimate
        |FROM est CROSS JOIN truth""".stripMargin)
  }

  /** Entropy rate of the event-type process: H(next | current) under
    * the empirical bigram model — the bits-per-step number that says
    * how predictable user behavior actually is (and bounds any
    * next-event model's loss). Joint and marginal counts come from one
    * grouped pass; each p·ln term is quantized before the DECIMAL sum.
    */
  val a71_entropy_rate = OpQuery.sql("a71_entropy_rate", "events")(
    """WITH seq AS (
      |  SELECT event_type AS w1,
      |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS w2
      |  FROM events),
      |joint AS (
      |  SELECT w1, w2, COUNT(*) AS c FROM seq WHERE w2 IS NOT NULL GROUP BY w1, w2),
      |tot AS (SELECT SUM(c) AS t FROM joint),
      |marg AS (SELECT w1, SUM(c) AS m FROM joint GROUP BY w1),
      |terms AS (
      |  SELECT CAST(ROUND(-(CAST(j.c AS DOUBLE) / t.t) *
      |                    ln(CAST(j.c AS DOUBLE) / mg.m), 12) AS DECIMAL(28,12)) AS h
      |  FROM joint j JOIN marg mg ON j.w1 = mg.w1 CROSS JOIN tot t)
      |SELECT CAST((SELECT t FROM tot) AS BIGINT) AS n_transitions,
      |       CAST(ROUND(CAST(SUM(h) AS DOUBLE), 6) AS DOUBLE) AS entropy_rate_nats
      |FROM terms""".stripMargin)

  /** Historical value-at-risk on day-over-day revenue changes: the k-th
    * smallest change (k = ⌊5% n⌋, order statistic — no interpolation
    * convention to disagree on), expected shortfall as the exact DECIMAL
    * mean of that tail, and the Sharpe-style mean/σ ratio from exact
    * power sums. One sort window over the daily series.
    */
  val fin_var_es = OpQuery.sql("fin_var_es", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      |  FROM orders GROUP BY 1),
      |chg AS (
      |  SELECT CAST(r - LAG(r) OVER (ORDER BY d) AS DECIMAL(18,2)) AS c
      |  FROM daily),
      |v AS (SELECT c FROM chg WHERE c IS NOT NULL),
      |ranked AS (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rk, COUNT(*) OVER () AS n
      |  FROM v),
      |k AS (
      |  SELECT GREATEST(1, CAST(FLOOR(0.05 * MAX(n)) AS INT)) AS k,
      |         MAX(n) AS n
      |  FROM ranked),
      |tail AS (
      |  SELECT SUM(r.c) AS ts, MAX(CASE WHEN r.rk = k.k THEN r.c END) AS var95
      |  FROM ranked r CROSS JOIN k WHERE r.rk <= k.k),
      |mom AS (
      |  SELECT COUNT(*) AS n, SUM(c) AS s1,
      |         SUM(CAST(c * c AS DECIMAL(38,4))) AS s2
      |  FROM v)
      |SELECT CAST(mom.n AS BIGINT) AS n_days,
      |       CAST(k.k AS INT) AS tail_k,
      |       CAST(tail.var95 AS DOUBLE) AS var95,
      |       CAST(ROUND(CAST(tail.ts AS DOUBLE) / k.k, 4) AS DOUBLE) AS es95,
      |       CAST(ROUND((CAST(mom.s1 AS DOUBLE) / mom.n) /
      |         SQRT((CAST(mom.s2 AS DOUBLE) - CAST(mom.s1 AS DOUBLE) * mom.s1 / mom.n)
      |              / (mom.n - 1)), 6) AS DOUBLE) AS sharpe
      |FROM mom CROSS JOIN k CROSS JOIN tail""".stripMargin)

  /** k-anonymity audit over the quasi-identifier (nation, market
    * segment, account-balance band): the size of each QI equivalence
    * class is its k; rows in small classes are re-identifiable. Reports
    * the class-size histogram (k capped at 10) with row shares — the
    * "can we release this projection" check. Two aggregations, integer
    * output.
    */
  val priv_k_anonymity = OpQuery(
    "priv_k_anonymity",
    """WITH qi AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000) AS INT) AS band,
      |         c_custkey
      |  FROM customer),
      |cls AS (
      |  SELECT nat, seg, band, COUNT(*) AS k FROM qi GROUP BY 1, 2, 3),
      |tot AS (SELECT SUM(k) AS n FROM cls),
      |hist AS (
      |  SELECT CAST(LEAST(k, 10) AS INT) AS k_bucket,
      |         COUNT(*) AS n_classes, SUM(k) AS n_rows
      |  FROM cls GROUP BY 1)
      |SELECT k_bucket, CAST(n_classes AS BIGINT) AS n_classes,
      |       CAST(n_rows AS BIGINT) AS n_rows,
      |       CAST(ROUND(CAST(n_rows AS DOUBLE) / tot.n, 6) AS DOUBLE) AS row_share,
      |       k_bucket < 5 AS below_k5
      |FROM hist CROSS JOIN tot
      |ORDER BY k_bucket""".stripMargin) { (spark, dir) =>
    val qi = Tables.load(spark, dir, "customer").select(
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      floor(col("c_acctbal").cast("double") / 2000).cast("int").as("band"))
    val cls = qi.groupBy("nat", "seg", "band").agg(count(lit(1)).as("k"))
    val tot = cls.agg(sum(col("k")).as("n"))
    cls.groupBy(least(col("k"), lit(10)).cast("int").as("k_bucket"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
      .crossJoin(tot)
      .select(col("k_bucket"), col("n_classes").cast("long").as("n_classes"),
        col("n_rows").cast("long").as("n_rows"),
        round(col("n_rows").cast("double") / col("n"), 6)
          .cast("double").as("row_share"),
        (col("k_bucket") < 5).as("below_k5"))
      .orderBy("k_bucket")
  }

  /** l-diversity audit: within each (nation, segment) QI class, how
    * many DISTINCT sensitive values (balance band) appear — a class
    * where everyone shares one sensitive value leaks it even at high k.
    * Reports the distribution of l with the l<3 violation flag.
    */
  val priv_l_diversity = OpQuery(
    "priv_l_diversity",
    """WITH qi AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000) AS INT) AS sens
      |  FROM customer),
      |cls AS (
      |  SELECT nat, seg, COUNT(*) AS k, COUNT(DISTINCT sens) AS l
      |  FROM qi GROUP BY 1, 2),
      |tot AS (SELECT SUM(k) AS n FROM cls)
      |SELECT CAST(l AS INT) AS l, COUNT(*) AS n_classes,
      |       CAST(SUM(k) AS BIGINT) AS n_rows,
      |       CAST(ROUND(CAST(SUM(k) AS DOUBLE) / MAX(tot.n), 6) AS DOUBLE)
      |         AS row_share,
      |       l < 3 AS violates_l3
      |FROM cls CROSS JOIN tot
      |GROUP BY l ORDER BY l""".stripMargin) { (spark, dir) =>
    val qi = Tables.load(spark, dir, "customer").select(
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      floor(col("c_acctbal").cast("double") / 2000).cast("int").as("sens"))
    val cls = qi.groupBy("nat", "seg")
      .agg(count(lit(1)).as("k"), countDistinct(col("sens")).as("l"))
    val tot = cls.agg(sum(col("k")).as("n"))
    cls.crossJoin(tot).groupBy(col("l").cast("int").as("l"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).cast("long").as("n_rows"),
        round(sum(col("k")).cast("double") / max(col("n")), 6)
          .cast("double").as("row_share"))
      .select(col("l"), col("n_classes"), col("n_rows"), col("row_share"),
        (col("l") < 3).as("violates_l3"))
      .orderBy("l")
  }

  /** Explicit GROUPING SETS — the four-level (nation×segment, nation,
    * segment, grand-total) lattice in ONE pass with per-column
    * GROUPING() flags, the form ROLLUP/CUBE can't express (it skips the
    * asymmetric sets). Engine-portable: flags instead of grouping_id
    * bitmasks, which differ in bit order across engines.
    */
  val a85_grouping_sets = OpQuery.sql("a85_grouping_sets", "customer")(
    """SELECT COALESCE(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
      |       COALESCE(c_mktsegment, 'ALL') AS segment,
      |       CAST(GROUPING(c_nationkey) AS INT) AS g_nation,
      |       CAST(GROUPING(c_mktsegment) AS INT) AS g_segment,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment), (c_nationkey),
      |                        (c_mktsegment), ())
      |ORDER BY g_nation, g_segment, nation, segment""".stripMargin,
    "VARCHAR" -> "STRING")

  /** Chao1 species-richness estimator on the part "species" observed in
    * lineitem: S_obs plus the f₁²-style correction from singleton and
    * doubleton counts (bias-corrected form, defined even when f₂ = 0),
    * with Good's coverage estimate 1 − f₁/N. One count-per-species
    * aggregate and one 3-number reduce.
    */
  val a89_chao1 = OpQuery(
    "a89_chao1",
    """WITH sp AS (
      |  SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
      |m AS (
      |  SELECT COUNT(*) AS s_obs,
      |         SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
      |         SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2,
      |         SUM(c) AS n
      |  FROM sp)
      |SELECT CAST(s_obs AS BIGINT) AS s_obs, CAST(f1 AS BIGINT) AS f1,
      |       CAST(f2 AS BIGINT) AS f2, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(s_obs + CAST(f1 AS DOUBLE) * (f1 - 1) / (2 * (f2 + 1)), 4)
      |         AS DOUBLE) AS chao1,
      |       CAST(ROUND(1 - CAST(f1 AS DOUBLE) / n, 6) AS DOUBLE) AS coverage
      |FROM m""".stripMargin) { (spark, dir) =>
    val m = Tables.load(spark, dir, "lineitem")
      .groupBy("l_partkey").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("s_obs"),
        sum(when(col("c") === 1, 1).otherwise(0)).as("f1"),
        sum(when(col("c") === 2, 1).otherwise(0)).as("f2"),
        sum(col("c")).as("n"))
    m.select(col("s_obs").cast("long").as("s_obs"), col("f1").cast("long").as("f1"),
      col("f2").cast("long").as("f2"), col("n").cast("long").as("n"),
      round(col("s_obs") + col("f1").cast("double") * (col("f1") - 1) /
        (lit(2) * (col("f2") + 1)), 4).cast("double").as("chao1"),
      round(lit(1) - col("f1").cast("double") / col("n"), 6)
        .cast("double").as("coverage"))
  }

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

  /** Mutual information (and entropies, and NMI) between customer
    * nation and market segment from the contingency table: every term
    * c/N·ln(cN/(r·s)) is an identical double op on exact integer counts,
    * quantized to 10 decimals before its DECIMAL sum — association
    * strength in nats between two categorical columns, the feature-
    * selection primitive.
    */
  val a95_mutual_information = OpQuery.sql("a95_mutual_information", "customer")(
    """WITH cell AS (
      |  SELECT c_nationkey AS a, c_mktsegment AS b, COUNT(*) AS c
      |  FROM customer GROUP BY 1, 2),
      |ra AS (SELECT a, SUM(c) AS r FROM cell GROUP BY a),
      |cb AS (SELECT b, SUM(c) AS s FROM cell GROUP BY b),
      |nt AS (SELECT SUM(c) AS n FROM cell),
      |mi AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |    (CAST(cell.c AS DOUBLE) / nt.n) *
      |    LN(CAST(cell.c AS DOUBLE) * nt.n / (CAST(ra.r AS DOUBLE) * cb.s)),
      |    10) AS DECIMAL(28,10))) AS DOUBLE) AS mi
      |  FROM cell JOIN ra ON cell.a = ra.a JOIN cb ON cell.b = cb.b
      |  CROSS JOIN nt),
      |ha AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |    -(CAST(r AS DOUBLE) / nt.n) * LN(CAST(r AS DOUBLE) / nt.n),
      |    10) AS DECIMAL(28,10))) AS DOUBLE) AS h
      |  FROM ra CROSS JOIN nt),
      |hb AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |    -(CAST(s AS DOUBLE) / nt.n) * LN(CAST(s AS DOUBLE) / nt.n),
      |    10) AS DECIMAL(28,10))) AS DOUBLE) AS h
      |  FROM cb CROSS JOIN nt)
      |SELECT CAST(ROUND(mi.mi, 8) AS DOUBLE) AS mutual_info,
      |       CAST(ROUND(ha.h, 8) AS DOUBLE) AS h_nation,
      |       CAST(ROUND(hb.h, 8) AS DOUBLE) AS h_segment,
      |       CAST(ROUND(mi.mi / SQRT(ha.h * hb.h), 8) AS DOUBLE) AS nmi
      |FROM mi CROSS JOIN ha CROSS JOIN hb""".stripMargin)

  /** 36-month annuity amortization from the closed form (no recursion):
    * payment from the annuity formula, then balance, interest, and
    * principal per month via (1+r)^t — a generated schedule pinned to
    * the cent by rounding each closed-form value. The generator-table
    * pattern: rows exist only in the query.
    */
  val fin_amortization = OpQuery.sql("fin_amortization")(
    """WITH p AS (
      |  SELECT CAST(100000 AS DOUBLE) AS principal,
      |         CAST(0.005 AS DOUBLE) AS r, 36 AS nper),
      |pay AS (
      |  SELECT principal, r, nper,
      |         principal * r * POW(1 + r, nper) / (POW(1 + r, nper) - 1) AS pmt
      |  FROM p),
      |sched AS (
      |  SELECT t, principal, r, pmt,
      |         principal * POW(1 + r, t) - pmt * (POW(1 + r, t) - 1) / r
      |           AS balance
      |  FROM pay CROSS JOIN (SELECT unnest(generate_series(1, 36)) AS t) ts)
      |SELECT CAST(t AS INT) AS month,
      |       CAST(ROUND(pmt, 2) AS DOUBLE) AS payment,
      |       CAST(ROUND(balance, 2) AS DOUBLE) AS balance,
      |       CAST(ROUND((principal * POW(1 + r, t - 1)
      |           - pmt * (POW(1 + r, t - 1) - 1) / r) * r, 2) AS DOUBLE)
      |         AS interest_part,
      |       CAST(ROUND(pmt - (principal * POW(1 + r, t - 1)
      |           - pmt * (POW(1 + r, t - 1) - 1) / r) * r, 2) AS DOUBLE)
      |         AS principal_part
      |FROM sched ORDER BY month""".stripMargin,
    "unnest(generate_series(" -> "explode(sequence(")

  /** Count-Min sketch (depth 3 × width 256) over part purchase
    * frequencies, built on an md5 hash family so every cell sum — and
    * therefore every estimate — is hash-exact in both engines. The
    * estimate is the MIN over the three hashed cells; the classic CM
    * guarantee (never under-counts, overshoot bounded by the cell
    * collision mass) is visible in the `overcount` column, which is
    * provably ≥ 0. Build is two grouped aggregates; lookup is a
    * 3-row-per-key join — the whole sketch is mergeable across
    * partitions because cells are plain sums.
    */
  val sketch_countmin = OpQuery(
    "sketch_countmin",
    """WITH truth AS (
      |  SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
      |rows_d AS (SELECT unnest(generate_series(0, 2)) AS r),
      |placed AS (
      |  SELECT truth.k, truth.c, rows_d.r,
      |         CAST(('0x' || substr(md5(CAST(truth.k AS VARCHAR) || '_'
      |                || CAST(rows_d.r AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS cell
      |  FROM truth CROSS JOIN rows_d),
      |cells AS (
      |  SELECT r, cell, SUM(c) AS cc FROM placed GROUP BY r, cell),
      |est AS (
      |  SELECT placed.k, placed.c, MIN(cells.cc) AS cm
      |  FROM placed JOIN cells ON cells.r = placed.r AND cells.cell = placed.cell
      |  GROUP BY placed.k, placed.c)
      |SELECT CAST(k AS BIGINT) AS partkey,
      |       CAST(c AS BIGINT) AS true_cnt,
      |       CAST(cm AS BIGINT) AS cm_est,
      |       CAST(cm - c AS BIGINT) AS overcount
      |FROM est
      |ORDER BY true_cnt DESC, partkey
      |LIMIT 15""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_cm_li")
    spark.sql(
      """WITH truth AS (
        |  SELECT l_partkey AS k, COUNT(*) AS c FROM graft_cm_li GROUP BY l_partkey),
        |rows_d AS (SELECT explode(sequence(0, 2)) AS r),
        |placed AS (
        |  SELECT truth.k, truth.c, rows_d.r,
        |         CAST(conv(substr(md5(CAST(truth.k AS STRING) || '_'
        |                || CAST(rows_d.r AS STRING)), 1, 8), 16, 10) AS BIGINT) % 256
        |           AS cell
        |  FROM truth CROSS JOIN rows_d),
        |cells AS (
        |  SELECT r, cell, SUM(c) AS cc FROM placed GROUP BY r, cell),
        |est AS (
        |  SELECT placed.k, placed.c, MIN(cells.cc) AS cm
        |  FROM placed JOIN cells ON cells.r = placed.r AND cells.cell = placed.cell
        |  GROUP BY placed.k, placed.c)
        |SELECT CAST(k AS BIGINT) AS partkey,
        |       CAST(c AS BIGINT) AS true_cnt,
        |       CAST(cm AS BIGINT) AS cm_est,
        |       CAST(cm - c AS BIGINT) AS overcount
        |FROM est
        |ORDER BY true_cnt DESC, partkey
        |LIMIT 15""".stripMargin)
  }

  /** Internal rate of return by Newton's method, four iterations
    * unrolled as chained CTEs: the cash-flow series is month-0 outlay
    * (97% of the half-year take, so the true IRR is a small positive
    * rate) followed by six monthly revenue inflows. Each iteration
    * folds NPV and its derivative through quantized DECIMAL sums and
    * rounds the rate to 10dp, so the Newton path is bit-identical in
    * both engines. Root-finding as dataflow — no loops, no driver.
    */
  val fin_irr = OpQuery(
    "fin_irr",
    """WITH monthly AS (
      |  SELECT CAST(strftime(o_orderdate, '%m') AS INT) AS m,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
      |  FROM orders
      |  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
      |  GROUP BY 1),
      |cf AS (
      |  SELECT m AS t, r AS c FROM monthly
      |  UNION ALL
      |  SELECT 0, ROUND(-0.97 * SUM(r), 2) FROM monthly),
      |i1 AS (
      |  SELECT ROUND(0.05 -
      |    CAST(SUM(CAST(ROUND(c / POW(1.05, t), 4) AS DECIMAL(38,4))) AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(-t * c / POW(1.05, t + 1), 4) AS DECIMAL(38,4)))
      |           AS DOUBLE), 10) AS r
      |  FROM cf),
      |i2 AS (
      |  SELECT ROUND(i1.r -
      |    CAST(SUM(CAST(ROUND(c / POW(1 + i1.r, t), 4) AS DECIMAL(38,4))) AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(-t * c / POW(1 + i1.r, t + 1), 4) AS DECIMAL(38,4)))
      |           AS DOUBLE), 10) AS r
      |  FROM cf, i1 GROUP BY i1.r),
      |i3 AS (
      |  SELECT ROUND(i2.r -
      |    CAST(SUM(CAST(ROUND(c / POW(1 + i2.r, t), 4) AS DECIMAL(38,4))) AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(-t * c / POW(1 + i2.r, t + 1), 4) AS DECIMAL(38,4)))
      |           AS DOUBLE), 10) AS r
      |  FROM cf, i2 GROUP BY i2.r),
      |i4 AS (
      |  SELECT ROUND(i3.r -
      |    CAST(SUM(CAST(ROUND(c / POW(1 + i3.r, t), 4) AS DECIMAL(38,4))) AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(-t * c / POW(1 + i3.r, t + 1), 4) AS DECIMAL(38,4)))
      |           AS DOUBLE), 10) AS r
      |  FROM cf, i3 GROUP BY i3.r),
      |check_npv AS (
      |  SELECT i4.r,
      |         CAST(SUM(CAST(ROUND(c / POW(1 + i4.r, t), 4) AS DECIMAL(38,4)))
      |              AS DOUBLE) AS npv
      |  FROM cf, i4 GROUP BY i4.r)
      |SELECT CAST(ROUND(r, 8) AS DOUBLE) AS irr_monthly,
      |       CAST(ROUND(POW(1 + r, 12) - 1, 6) AS DOUBLE) AS irr_annualized,
      |       CAST(ROUND(npv, 2) + 0.0 AS DOUBLE) AS residual_npv
      |FROM check_npv""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_irr_orders")
    spark.sql(
      """WITH monthly AS (
        |  SELECT CAST(date_format(o_orderdate, 'MM') AS INT) AS m,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
        |  FROM graft_irr_orders
        |  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
        |  GROUP BY 1),
        |cf AS (
        |  SELECT m AS t, r AS c FROM monthly
        |  UNION ALL
        |  SELECT 0, ROUND(-0.97 * SUM(r), 2) FROM monthly),
        |i1 AS (
        |  SELECT ROUND(0.05 -
        |    CAST(SUM(CAST(ROUND(c / POW(1.05, t), 4) AS DECIMAL(38,4))) AS DOUBLE)
        |    / CAST(SUM(CAST(ROUND(-t * c / POW(1.05, t + 1), 4) AS DECIMAL(38,4)))
        |           AS DOUBLE), 10) AS r
        |  FROM cf),
        |i2 AS (
        |  SELECT ROUND(i1.r -
        |    CAST(SUM(CAST(ROUND(c / POW(1 + i1.r, t), 4) AS DECIMAL(38,4))) AS DOUBLE)
        |    / CAST(SUM(CAST(ROUND(-t * c / POW(1 + i1.r, t + 1), 4) AS DECIMAL(38,4)))
        |           AS DOUBLE), 10) AS r
        |  FROM cf CROSS JOIN i1 GROUP BY i1.r),
        |i3 AS (
        |  SELECT ROUND(i2.r -
        |    CAST(SUM(CAST(ROUND(c / POW(1 + i2.r, t), 4) AS DECIMAL(38,4))) AS DOUBLE)
        |    / CAST(SUM(CAST(ROUND(-t * c / POW(1 + i2.r, t + 1), 4) AS DECIMAL(38,4)))
        |           AS DOUBLE), 10) AS r
        |  FROM cf CROSS JOIN i2 GROUP BY i2.r),
        |i4 AS (
        |  SELECT ROUND(i3.r -
        |    CAST(SUM(CAST(ROUND(c / POW(1 + i3.r, t), 4) AS DECIMAL(38,4))) AS DOUBLE)
        |    / CAST(SUM(CAST(ROUND(-t * c / POW(1 + i3.r, t + 1), 4) AS DECIMAL(38,4)))
        |           AS DOUBLE), 10) AS r
        |  FROM cf CROSS JOIN i3 GROUP BY i3.r),
        |check_npv AS (
        |  SELECT i4.r,
        |         CAST(SUM(CAST(ROUND(c / POW(1 + i4.r, t), 4) AS DECIMAL(38,4)))
        |              AS DOUBLE) AS npv
        |  FROM cf CROSS JOIN i4 GROUP BY i4.r)
        |SELECT CAST(ROUND(r, 8) AS DOUBLE) AS irr_monthly,
        |       CAST(ROUND(POW(1 + r, 12) - 1, 6) AS DOUBLE) AS irr_annualized,
        |       CAST(ROUND(npv, 2) + 0.0 AS DOUBLE) AS residual_npv
        |FROM check_npv""".stripMargin)
  }

  /** t-closeness audit: for each (nation, segment) equivalence class,
    * the Earth-Mover's Distance between the class's account-balance
    * decile distribution and the global one — the ordered-attribute
    * EMD is the mean absolute cumulative gap. Classes are zero-filled
    * over the decile grid so missing deciles count, and the decile
    * assignment is a deterministic NTILE. The 10 worst classes are
    * exactly the ones a privacy reviewer would flag after k-anonymity
    * passes but skewed balances still leak.
    */
  val priv_t_closeness = OpQuery(
    "priv_t_closeness",
    """WITH base AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS dcl
      |  FROM customer),
      |n_all AS (SELECT COUNT(*) AS n FROM base),
      |gdist AS (
      |  SELECT dcl, COUNT(*) AS c FROM base GROUP BY dcl),
      |cls AS (
      |  SELECT nat, seg, COUNT(*) AS nc FROM base GROUP BY nat, seg),
      |grid AS (
      |  SELECT cls.nat, cls.seg, cls.nc, g.dcl, g.c AS gc
      |  FROM cls CROSS JOIN gdist g),
      |cnt AS (
      |  SELECT nat, seg, dcl, COUNT(*) AS c FROM base GROUP BY nat, seg, dcl),
      |diffs AS (
      |  SELECT grid.nat, grid.seg, grid.nc, grid.dcl,
      |         CAST(COALESCE(cnt.c, 0) AS DOUBLE) / grid.nc
      |           - CAST(grid.gc AS DOUBLE) / (SELECT n FROM n_all) AS d
      |  FROM grid LEFT JOIN cnt
      |    ON cnt.nat = grid.nat AND cnt.seg = grid.seg AND cnt.dcl = grid.dcl),
      |cum AS (
      |  SELECT nat, seg, nc, dcl,
      |         SUM(d) OVER (PARTITION BY nat, seg ORDER BY dcl
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      |  FROM diffs),
      |emd AS (
      |  SELECT nat, seg, nc,
      |         CAST(SUM(CAST(ROUND(ABS(r), 8) AS DECIMAL(28,8))) AS DOUBLE) / 9 AS t
      |  FROM cum WHERE dcl < 10
      |  GROUP BY nat, seg, nc)
      |SELECT CAST(nat AS INT) AS nationkey, seg AS segment,
      |       CAST(nc AS BIGINT) AS class_size,
      |       CAST(ROUND(t, 6) AS DOUBLE) AS t_closeness
      |FROM emd
      |ORDER BY t_closeness DESC, nationkey, segment
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        col("c_acctbal"), col("c_custkey"))
    // global NTILE(10) via TotalOrder's distributed form (winscan r9:
    // RAW table-sized global window) — bit-equal larger-buckets-first
    // assignment, one range shuffle + broadcast count
    graft.operators.TotalOrder
      .ntile(cust, Seq(col("c_acctbal"), col("c_custkey")), 10, "dcl")
      .select(col("nat"), col("seg"), col("dcl"))
      .createOrReplaceTempView("graft_tc_base")
    spark.sql(
      """WITH base AS (SELECT nat, seg, dcl FROM graft_tc_base),
        |n_all AS (SELECT COUNT(*) AS n FROM base),
        |gdist AS (
        |  SELECT dcl, COUNT(*) AS c FROM base GROUP BY dcl),
        |cls AS (
        |  SELECT nat, seg, COUNT(*) AS nc FROM base GROUP BY nat, seg),
        |grid AS (
        |  SELECT cls.nat, cls.seg, cls.nc, g.dcl, g.c AS gc
        |  FROM cls CROSS JOIN gdist g),
        |cnt AS (
        |  SELECT nat, seg, dcl, COUNT(*) AS c FROM base GROUP BY nat, seg, dcl),
        |diffs AS (
        |  SELECT grid.nat, grid.seg, grid.nc, grid.dcl,
        |         CAST(COALESCE(cnt.c, 0) AS DOUBLE) / grid.nc
        |           - CAST(grid.gc AS DOUBLE) / (SELECT n FROM n_all) AS d
        |  FROM grid LEFT JOIN cnt
        |    ON cnt.nat = grid.nat AND cnt.seg = grid.seg AND cnt.dcl = grid.dcl),
        |cum AS (
        |  SELECT nat, seg, nc, dcl,
        |         SUM(d) OVER (PARTITION BY nat, seg ORDER BY dcl
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
        |  FROM diffs),
        |emd AS (
        |  SELECT nat, seg, nc,
        |         CAST(SUM(CAST(ROUND(ABS(r), 8) AS DECIMAL(28,8))) AS DOUBLE) / 9 AS t
        |  FROM cum WHERE dcl < 10
        |  GROUP BY nat, seg, nc)
        |SELECT CAST(nat AS INT) AS nationkey, seg AS segment,
        |       CAST(nc AS BIGINT) AS class_size,
        |       CAST(ROUND(t, 6) AS DOUBLE) AS t_closeness
        |FROM emd
        |ORDER BY t_closeness DESC, nationkey, segment
        |LIMIT 10""".stripMargin)
  }

  /** Annualized Sharpe ratio per market segment from month-over-month
    * log revenue growth: LAG over the monthly series, quantized folds
    * for mean and second moment, √12 annualization. The ranking — not
    * the absolute level — is what a portfolio-style comparison of
    * segment stability reads off.
    */
  val fin_sharpe = OpQuery.sql("fin_sharpe", "orders", "customer")(
    """WITH monthly AS (
      |  SELECT c.c_mktsegment AS seg, strftime(o.o_orderdate, '%Y-%m') AS mth,
      |         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |rets AS (
      |  SELECT seg,
      |         ROUND(LN(CAST(r AS DOUBLE)
      |               / LAG(CAST(r AS DOUBLE)) OVER (PARTITION BY seg ORDER BY mth)),
      |               8) AS ret
      |  FROM monthly),
      |ok AS (SELECT seg, ret FROM rets WHERE ret IS NOT NULL),
      |agg AS (
      |  SELECT seg, COUNT(*) AS n,
      |         CAST(SUM(CAST(ret AS DECIMAL(28,8))) AS DOUBLE) AS s1,
      |         CAST(SUM(CAST(ROUND(ret * ret, 10) AS DECIMAL(28,10))) AS DOUBLE) AS s2
      |  FROM ok GROUP BY seg)
      |SELECT seg AS segment, CAST(n AS BIGINT) AS n_months,
      |       CAST(ROUND(s1 / n, 6) AS DOUBLE) AS mean_ret,
      |       CAST(ROUND(SQRT((s2 - s1 * s1 / n) / (n - 1)), 6) AS DOUBLE) AS vol,
      |       CAST(ROUND(s1 / n / SQRT((s2 - s1 * s1 / n) / (n - 1)) * SQRT(12.0), 4)
      |         AS DOUBLE) AS sharpe_annual
      |FROM agg
      |ORDER BY seg""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m'" -> "'yyyy-MM'")

  /** KMV distinct-count sketch fed md5-derived hashes instead of the
    * production xxhash64: 60 md5 bits scaled by 8 to span the
    * estimator's [0, 2^63) domain. The REAL TypedImperativeAggregate
    * (bounded TreeSet buffer, map-side mergeable) runs on the Spark
    * side; DuckDB replays the k-th-order-statistic estimate exactly, so
    * the estimator arithmetic is hash-green while `kmv_distinct` keeps
    * benchmarking the xxhash64 production path rows-only.
    */
  val kmv_distinct_md5 = OpQuery(
    "kmv_distinct_md5",
    """WITH hashed AS (
      |  SELECT DISTINCT l_returnflag,
      |         CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
      |              AS BIGINT) * 8 AS h
      |  FROM lineitem),
      |ranked AS (
      |  SELECT l_returnflag, h,
      |         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
      |         COUNT(*) OVER (PARTITION BY l_returnflag) AS nd
      |  FROM hashed)
      |SELECT l_returnflag,
      |       CAST(MAX(nd) AS BIGINT) AS exact_distinct,
      |       CAST(ROUND(MAX(CASE WHEN rn = 256 THEN
      |              (255.0 * POWER(2, 63)) / CAST(h AS DOUBLE) END), 4)
      |            AS DOUBLE) AS kmv_estimate
      |FROM ranked
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    KmvSketch.register(spark)
    val h = (conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
      .cast("long") * lit(8L)).as("h")
    Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"), h)
      .groupBy(col("l_returnflag"))
      .agg(
        call_function("kmv_sketch", col("h"), lit(256)).as("__s"),
        countDistinct(col("h")).as("exact_distinct"))
      .select(col("l_returnflag"), col("exact_distinct"),
        round(col("__s.estimate"), 4).as("kmv_estimate"))
      .orderBy(col("l_returnflag"))
  }

  val all: Seq[OpQuery] = Seq(
    a5_conditional_agg, a4_count_distinct, a3_distinct, a1_dup_audit,
    a8_percentile, a9_histogram, a10_ratio_of_aggs, freq_heavy_hitters,
    a11_approx_distinct, a12_rollup, a13_cube, a14_grouping_sets, a15_stats,
    a16_percentile_exact, a17_winsorize, a18_filter_clause, kmv_distinct,
    a18_regression, a19_entropy, pareto_analysis, a20_hll_partial_merge,
    a21_mad, a23_bool_aggs, a24_group_by_all, a25_string_agg, a26_mode,
    a27_moments, a28_bitmap_distinct, a30_weighted_median, a31_variance,
    a33_corr, a34_decile_lift, a37_string_agg_distinct, a38_percentile_disc,
    a39_hll_native, a40_approx_percentile_bound, a42_typed_aggregator,
    a43_gini, a44_trimmed_mean, a45_log2_histogram, a46_hhi, a47_theil,
    a52_cpk, a53_tukey_fences, a56_mean_family, a60_hill_diversity,
    a68_kmv_md5, a69_hll_md5, a71_entropy_rate, fin_var_es, priv_k_anonymity,
    priv_l_diversity, a85_grouping_sets, a89_chao1, a90_atkinson,
    a95_mutual_information, fin_amortization, sketch_countmin, fin_irr,
    priv_t_closeness, fin_sharpe, kmv_distinct_md5)
}
