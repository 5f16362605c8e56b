package graft.queries

import graft.Tables

/** Round-4 batch 18: SQL-defined functions (Catalyst-inlined — the
  * user-extension point that does NOT leave codegen, unlike JVM/Python
  * UDFs) and GROUP BY ALL.
  */
object Round4Ops18 {

  /** SQL scalar function: CREATE FUNCTION ... RETURN <expr> is inlined
    * by Catalyst into the calling plan — user-defined logic with
    * whole-stage-codegen performance (the engine's answer to "I need a
    * custom function" BEFORE reaching for a JVM UDF; the oracle states
    * the inlined expression directly, proving the function call is pure
    * expression substitution).
    */
  val f_sql_udf = OpQuery(
    "f_sql_udf",
    """SELECT o_orderkey,
      |       CAST(ROUND(o_totalprice * (1 - 0.07), 2) AS DOUBLE) AS discounted,
      |       CASE WHEN o_totalprice >= 100000 THEN 'jumbo'
      |            WHEN o_totalprice >= 10000 THEN 'large' ELSE 'standard' END AS size_band
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_udf_orders")
    // definitions are fixed for the session — create once so a re-run
    // (the bench's median-of-3) doesn't WARN-spam about replacement
    if (!spark.catalog.functionExists("graft_discount"))
      spark.sql("""CREATE TEMPORARY FUNCTION graft_discount(price DOUBLE)
                  |RETURNS DOUBLE RETURN ROUND(price * (1 - 0.07), 2)""".stripMargin)
    if (!spark.catalog.functionExists("graft_band"))
      spark.sql("""CREATE TEMPORARY FUNCTION graft_band(price DOUBLE)
                  |RETURNS STRING
                  |RETURN CASE WHEN price >= 100000 THEN 'jumbo'
                  |            WHEN price >= 10000 THEN 'large' ELSE 'standard' END""".stripMargin)
    spark.sql(
      """SELECT o_orderkey,
        |       CAST(graft_discount(o_totalprice) AS DOUBLE) AS discounted,
        |       graft_band(o_totalprice) AS size_band
        |FROM graft_udf_orders
        |ORDER BY o_orderkey""".stripMargin)
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

  val all: Seq[OpQuery] = Seq(f_sql_udf, a24_group_by_all)
}
