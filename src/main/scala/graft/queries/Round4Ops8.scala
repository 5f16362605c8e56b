package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Merge

/** Round-4 batch 8: pre-combine merge, ANSI try_* escapes, correlated
  * scalar subqueries, and NOT IN three-valued-logic semantics.
  */
object Round4Ops8 {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Pre-combine + SCD1 merge ([[Merge.precombine]]): an extract with
    * MANY updates per key (every order a customer placed) collapses to
    * the latest-by-(date, key) version per customer, then merges. The
    * oracle states the whole thing declaratively — window top-1 +
    * left join — proving precombine∘scd1 ≡ the declarative form.
    */
  val s21_precombine_merge = OpQuery(
    "s21_precombine_merge",
    """WITH latest AS (
      |  SELECT o_custkey, new_bal FROM (
      |    SELECT o_custkey,
      |           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS new_bal,
      |           ROW_NUMBER() OVER (PARTITION BY o_custkey
      |             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1
      |)
      |SELECT c_custkey, c_name,
      |       CAST(COALESCE(l.new_bal,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)) AS DOUBLE) AS bal
      |FROM customer c LEFT JOIN latest l ON c.c_custkey = l.o_custkey
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val customer = t(spark, dir, "customer")
    val target = customer
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
    // the extract carries the FULL target row shape (scd1's insert
    // branch needs every target column) plus the precombine ordering
    val source = t(spark, dir, "orders")
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("bal"),
        col("o_orderdate"), col("o_orderkey"))
    val pre = Merge.precombine(source, Seq("c_custkey"),
        orderCols = Seq("o_orderdate", "o_orderkey"))
      .select(col("c_custkey"), col("c_name"), col("bal"))
    Merge.scd1(target, pre, keys = Seq("c_custkey"), updateCols = Seq("bal"))
      .orderBy(col("c_custkey"))
  }

  /** ANSI try_* escapes: with ANSI mode ON (this engine's gate default),
    * try_divide / try_cast / try_add return NULL where strict evaluation
    * would raise — division by zero, unparseable casts, bigint overflow.
    * The oracle states each NULL condition explicitly (including the
    * one NON-overflowing row: MAX + orderkey 0 is legal and must
    * surface, not null — the escape hatch only nulls genuine errors).
    */
  val f_try = OpQuery(
    "f_try",
    """SELECT o_orderkey,
      |       CASE WHEN o_custkey % 3 = 0 THEN NULL
      |            ELSE o_totalprice / (o_custkey % 3) END AS safe_div,
      |       TRY_CAST(o_orderpriority AS INT) AS bad_cast,
      |       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS good_cast,
      |       CASE WHEN o_orderkey = 0 THEN 9223372036854775807
      |            ELSE CAST(NULL AS BIGINT) END AS overflow_add
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        try_divide(col("o_totalprice"), col("o_custkey") % 3).as("safe_div"),
        col("o_orderpriority").try_cast("int").as("bad_cast"),
        substring(col("o_orderpriority"), 1, 1).try_cast("int").as("good_cast"),
        expr("try_add(CAST(9223372036854775807 AS BIGINT), o_orderkey)")
          .as("overflow_add"))
      .orderBy(col("o_orderkey"))
  }

  /** Correlated scalar subqueries in the SELECT list — two per row,
    * decorrelated by Catalyst into aggregate-then-join (no per-row
    * re-execution). Identical SQL text on both engines.
    */
  val j16_correlated_select = OpQuery.sql("j16_correlated_select", "orders", "customer")(
    """SELECT c_custkey,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |        WHERE o.o_custkey = c.c_custkey) AS n_orders,
      |       (SELECT CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |        FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_price
      |FROM customer c
      |ORDER BY c_custkey""".stripMargin)

  /** NOT IN vs a null-bearing subquery — the classic three-valued-logic
    * trap: one NULL in the set makes `x NOT IN (...)` never true, so the
    * second count collapses to 0 while the null-free twin keeps its
    * rows. Both engines must implement the same (correct, surprising)
    * semantics.
    */
  val j17_not_in_nulls = OpQuery.sql("j17_not_in_nulls", "orders", "customer")(
    """SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      |   WHERE o_custkey NOT IN
      |     (SELECT c_custkey FROM customer WHERE c_custkey >= 100)) AS n_without_null,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      |   WHERE o_custkey NOT IN
      |     (SELECT NULLIF(c_custkey, 3) FROM customer
      |      WHERE c_custkey >= 100 OR c_custkey = 3)) AS n_with_null""".stripMargin)

  val all: Seq[OpQuery] = Seq(
    s21_precombine_merge, f_try, j16_correlated_select, j17_not_in_nulls)
}
