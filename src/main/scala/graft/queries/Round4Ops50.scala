package graft.queries

/** Round-4 batch 50: TPC-H Q6/Q17/Q19 shapes — the pushdown
  * microbenchmark, the correlated-average decorrelation, and the
  * disjunctive-predicate join. With these, every TPC-H query shape
  * expressible without partsupp is gated (Q2/Q9/Q16/Q20/Q21 need that
  * table).
  */
object Round4Ops50 {

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

  val all: Seq[OpQuery] = Seq(tpch_q6_shape, tpch_q17_shape, tpch_q19_shape)
}
