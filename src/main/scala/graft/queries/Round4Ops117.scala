package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 117: decision-stump split search, mutual information
  * between categorical columns, and bounded-hop closeness centrality.
  */
object Round4Ops117 {

  /** Decision-stump training in one sorted pass: rank orders by total
    * price with a running positive count (target = urgent priority),
    * evaluate the Gini gain of the 19 vigintile cut points from the
    * prefix sums alone (no per-candidate rescan), and return the best
    * split. This is the inner loop of tree building, expressed as a
    * window + 19-row reduce — O(n log n), not O(n·candidates).
    */
  val ml_tree_stump = OpQuery(
    "ml_tree_stump",
    """WITH base AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
      |         o_orderkey
      |  FROM orders),
      |ranked AS (
      |  SELECT x, y, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS r,
      |         SUM(y) OVER (ORDER BY x, o_orderkey
      |                      ROWS UNBOUNDED PRECEDING) AS cpos,
      |         COUNT(*) OVER () AS n, SUM(y) OVER () AS pos
      |  FROM base),
      |cand AS (
      |  SELECT r, x AS threshold, cpos, n, pos FROM ranked
      |  WHERE r IN (SELECT (n * k) // 20 FROM
      |              (SELECT DISTINCT n FROM (SELECT COUNT(*) AS n FROM base) z) nn
      |              CROSS JOIN (SELECT unnest(generate_series(1, 19)) AS k) ks)),
      |gain AS (
      |  SELECT threshold, r AS n_left, n - r AS n_right, cpos AS pos_left,
      |         pos - cpos AS pos_right,
      |         ROUND(
      |           (1 - POW(CAST(pos AS DOUBLE) / n, 2)
      |              - POW(1 - CAST(pos AS DOUBLE) / n, 2))
      |           - (CAST(r AS DOUBLE) / n) *
      |             (1 - POW(CAST(cpos AS DOUBLE) / r, 2)
      |                - POW(1 - CAST(cpos AS DOUBLE) / r, 2))
      |           - (CAST(n - r AS DOUBLE) / n) *
      |             (1 - POW(CAST(pos - cpos AS DOUBLE) / (n - r), 2)
      |                - POW(1 - CAST(pos - cpos AS DOUBLE) / (n - r), 2)),
      |           8) AS gini_gain
      |  FROM cand),
      |best AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY gini_gain DESC, threshold) AS rk
      |  FROM gain)
      |SELECT CAST(threshold AS DOUBLE) AS threshold,
      |       CAST(n_left AS BIGINT) AS n_left,
      |       CAST(n_right AS BIGINT) AS n_right,
      |       CAST(pos_left AS BIGINT) AS pos_left,
      |       CAST(pos_right AS BIGINT) AS pos_right,
      |       CAST(gini_gain AS DOUBLE) AS gini_gain
      |FROM best WHERE rk = 1""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_stump_orders")
    // global rank + running positive count in ONE TotalOrder.prefixAggs
    // pass (two-phase range ranks); the scalar totals broadcast — the
    // window form pushed every raw order row through a single reducer
    val stumpBase = spark.sql(
      """SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
        |       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
        |       o_orderkey
        |FROM graft_stump_orders""".stripMargin)
    graft.operators.TotalOrder
      .prefixAggs(stumpBase, Seq(col("x"), col("o_orderkey")),
        sums = Seq("y" -> "cpos"), rnCol = Some("r"))
      .crossJoin(broadcast(stumpBase.agg(
        count(lit(1)).as("n"), sum(col("y")).as("pos"))))
      .select(col("x"), col("y"), col("r"), col("cpos"), col("n"), col("pos"))
      .createOrReplaceTempView("graft_stump_ranked")
    spark.sql(
      """WITH ranked AS (
        |  SELECT x, y, r, cpos, n, pos FROM graft_stump_ranked),
        |cand AS (
        |  SELECT r, x AS threshold, cpos, n, pos FROM ranked
        |  WHERE r IN (SELECT (n * k) DIV 20 FROM
        |              (SELECT DISTINCT n FROM ranked) nn
        |              CROSS JOIN (SELECT explode(sequence(1, 19)) AS k) ks)),
        |gain AS (
        |  SELECT threshold, r AS n_left, n - r AS n_right, cpos AS pos_left,
        |         pos - cpos AS pos_right,
        |         ROUND(
        |           (1 - POW(CAST(pos AS DOUBLE) / n, 2)
        |              - POW(1 - CAST(pos AS DOUBLE) / n, 2))
        |           - (CAST(r AS DOUBLE) / n) *
        |             (1 - POW(CAST(cpos AS DOUBLE) / r, 2)
        |                - POW(1 - CAST(cpos AS DOUBLE) / r, 2))
        |           - (CAST(n - r AS DOUBLE) / n) *
        |             (1 - POW(CAST(pos - cpos AS DOUBLE) / (n - r), 2)
        |                - POW(1 - CAST(pos - cpos AS DOUBLE) / (n - r), 2)),
        |           8) AS gini_gain
        |  FROM cand)
        |SELECT CAST(threshold AS DOUBLE) AS threshold,
        |       CAST(n_left AS BIGINT) AS n_left,
        |       CAST(n_right AS BIGINT) AS n_right,
        |       CAST(pos_left AS BIGINT) AS pos_left,
        |       CAST(pos_right AS BIGINT) AS pos_right,
        |       CAST(gini_gain AS DOUBLE) AS gini_gain
        |FROM gain
        |ORDER BY gini_gain DESC, threshold
        |LIMIT 1""".stripMargin)
    // top-1-by-order as ORDER BY + LIMIT (TakeOrderedAndProject) instead
    // of a ROW_NUMBER window — same row, no unpartitioned WindowExec
    // (winscan r9; cand is ≤19 rows, but the plan could not prove it)
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

  /** Closeness centrality within 4 hops on the nation trade graph:
    * BFS levels unrolled as anti-joined CTEs (dist = first level a pair
    * appears), closeness = reached/Σdist with the 4-hop horizon as the
    * pinned contract. The star join building the edge list is the only
    * data-sized work; the BFS runs on ≤ 625 pairs.
    */
  val graph_closeness = OpQuery(
    "graph_closeness",
    """WITH edges AS (
      |  SELECT DISTINCT c.c_nationkey AS u, s.s_nationkey AS v
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |d1 AS (SELECT u, v FROM edges),
      |d2 AS (
      |  SELECT DISTINCT a.u, b.v FROM d1 a JOIN edges b ON a.v = b.u
      |  WHERE a.u <> b.v
      |    AND NOT EXISTS (SELECT 1 FROM d1 x WHERE x.u = a.u AND x.v = b.v)),
      |d3 AS (
      |  SELECT DISTINCT a.u, b.v FROM d2 a JOIN edges b ON a.v = b.u
      |  WHERE a.u <> b.v
      |    AND NOT EXISTS (SELECT 1 FROM d1 x WHERE x.u = a.u AND x.v = b.v)
      |    AND NOT EXISTS (SELECT 1 FROM d2 x WHERE x.u = a.u AND x.v = b.v)),
      |d4 AS (
      |  SELECT DISTINCT a.u, b.v FROM d3 a JOIN edges b ON a.v = b.u
      |  WHERE a.u <> b.v
      |    AND NOT EXISTS (SELECT 1 FROM d1 x WHERE x.u = a.u AND x.v = b.v)
      |    AND NOT EXISTS (SELECT 1 FROM d2 x WHERE x.u = a.u AND x.v = b.v)
      |    AND NOT EXISTS (SELECT 1 FROM d3 x WHERE x.u = a.u AND x.v = b.v)),
      |alld AS (
      |  SELECT u, v, 1 AS d FROM d1
      |  UNION ALL SELECT u, v, 2 FROM d2
      |  UNION ALL SELECT u, v, 3 FROM d3
      |  UNION ALL SELECT u, v, 4 FROM d4),
      |cl AS (
      |  SELECT u, COUNT(*) AS reached, SUM(d) AS sumd FROM alld GROUP BY u)
      |SELECT n.n_name AS nation, CAST(cl.reached AS BIGINT) AS reached,
      |       CAST(cl.sumd AS BIGINT) AS sum_dist,
      |       CAST(ROUND(CAST(cl.reached AS DOUBLE) / cl.sumd, 6) AS DOUBLE)
      |         AS closeness
      |FROM cl JOIN nation n ON n.n_nationkey = cl.u
      |ORDER BY closeness DESC, nation""".stripMargin) { (spark, dir) =>
    Seq("lineitem", "orders", "customer", "supplier", "nation").foreach(t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(s"graft_clo_$t"))
    // staged BFS levels, each frozen once (r14-opt, guide §3.3): the
    // edges CTE (the only data-sized work — the 4-table star join +
    // DISTINCT) was re-inlined into d2/d3/d4's joins AND their NOT
    // EXISTS probes plus alld, and each dN level was re-inlined into
    // every later level — the single-statement form carried the star
    // join 8x. Lazy localCheckpoint per level: <=625-row frames, the
    // first reader materializes each, and the identical row sets feed
    // the identical downstream algebra (oracle-pinned).
    spark.sql(
      """SELECT DISTINCT c.c_nationkey AS u, s.s_nationkey AS v
        |FROM graft_clo_lineitem l
        |JOIN graft_clo_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN graft_clo_customer c ON o.o_custkey = c.c_custkey
        |JOIN graft_clo_supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE c.c_nationkey <> s.s_nationkey""".stripMargin)
      .localCheckpoint(false)
      .createOrReplaceTempView("graft_clo_edges")
    spark.sql(
      """SELECT DISTINCT a.u, b.v
        |FROM graft_clo_edges a JOIN graft_clo_edges b ON a.v = b.u
        |WHERE a.u <> b.v
        |  AND NOT EXISTS (SELECT 1 FROM graft_clo_edges x
        |                  WHERE x.u = a.u AND x.v = b.v)""".stripMargin)
      .localCheckpoint(false)
      .createOrReplaceTempView("graft_clo_d2")
    spark.sql(
      """SELECT DISTINCT a.u, b.v
        |FROM graft_clo_d2 a JOIN graft_clo_edges b ON a.v = b.u
        |WHERE a.u <> b.v
        |  AND NOT EXISTS (SELECT 1 FROM graft_clo_edges x
        |                  WHERE x.u = a.u AND x.v = b.v)
        |  AND NOT EXISTS (SELECT 1 FROM graft_clo_d2 x
        |                  WHERE x.u = a.u AND x.v = b.v)""".stripMargin)
      .localCheckpoint(false)
      .createOrReplaceTempView("graft_clo_d3")
    spark.sql(
      """WITH d4 AS (
        |  SELECT DISTINCT a.u, b.v
        |  FROM graft_clo_d3 a JOIN graft_clo_edges b ON a.v = b.u
        |  WHERE a.u <> b.v
        |    AND NOT EXISTS (SELECT 1 FROM graft_clo_edges x WHERE x.u = a.u AND x.v = b.v)
        |    AND NOT EXISTS (SELECT 1 FROM graft_clo_d2 x WHERE x.u = a.u AND x.v = b.v)
        |    AND NOT EXISTS (SELECT 1 FROM graft_clo_d3 x WHERE x.u = a.u AND x.v = b.v)),
        |alld AS (
        |  SELECT u, v, 1 AS d FROM graft_clo_edges
        |  UNION ALL SELECT u, v, 2 FROM graft_clo_d2
        |  UNION ALL SELECT u, v, 3 FROM graft_clo_d3
        |  UNION ALL SELECT u, v, 4 FROM d4),
        |cl AS (
        |  SELECT u, COUNT(*) AS reached, SUM(d) AS sumd FROM alld GROUP BY u)
        |SELECT n.n_name AS nation, CAST(cl.reached AS BIGINT) AS reached,
        |       CAST(cl.sumd AS BIGINT) AS sum_dist,
        |       CAST(ROUND(CAST(cl.reached AS DOUBLE) / cl.sumd, 6) AS DOUBLE)
        |         AS closeness
        |FROM cl JOIN graft_clo_nation n ON n.n_nationkey = cl.u
        |ORDER BY closeness DESC, nation""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(ml_tree_stump, a95_mutual_information,
    graph_closeness)
}
