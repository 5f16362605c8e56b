package graft.queries

import graft.Tables

/** Round-4 batch 47: TPC-H Q10/Q12/Q14 shapes — returned-item revenue
  * ranking, ship-priority classification, and promo revenue share.
  */
object Round4Ops47 {

  /** Q10 shape: top returned-item customers — fact-heavy 4-table join,
    * grouped revenue, TakeOrdered top-20.
    */
  val tpch_q10_shape = OpQuery(
    "tpch_q10_shape",
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
      |LIMIT 20""".stripMargin) { (spark, dir) =>
    Seq("customer", "orders", "lineitem", "nation")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(s"graft_q10_$t"))
    spark.sql(
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM graft_q10_customer c
        |JOIN graft_q10_orders o ON c.c_custkey = o.o_custkey
        |JOIN graft_q10_lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN graft_q10_nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin)
  }

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

  val all: Seq[OpQuery] = Seq(tpch_q10_shape, tpch_q12_shape, tpch_q14_shape)
}
