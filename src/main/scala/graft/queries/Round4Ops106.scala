package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 106: PageRank over the nation trade graph, the Welch
  * unequal-variance t-test, historical VaR / expected shortfall, and
  * the Matthews correlation coefficient.
  */
object Round4Ops106 {

  /** Three synchronous PageRank iterations (d = 0.85) over the
    * customer-nation → supplier-nation trade graph distilled from the
    * full lineitem⋈orders star (broadcast dims, one distinct — the
    * expensive part IS the star join; the 25-node rank loop is free).
    * Dangling mass is dropped (the standard sparse simplification,
    * pinned as the contract). Per-iteration contributions are quantized
    * to 12 decimals and summed as DECIMAL so both engines agree bit-for-
    * bit; ranks are reported at 6 decimals.
    */
  val graph_pagerank = OpQuery(
    "graph_pagerank",
    """WITH edges AS (
      |  SELECT DISTINCT c.c_nationkey AS u, s.s_nationkey AS v
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
      |nodes AS (SELECT n_nationkey AS v, n_name FROM nation),
      |nn AS (SELECT COUNT(*) AS n FROM nodes),
      |pr0 AS (SELECT v, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
      |pr1 AS (
      |  SELECT nd.v, CAST(0.15 AS DOUBLE) / nn.n + 0.85 * COALESCE(
      |    CAST(SUM(CAST(ROUND(p.pr / dg.d, 12) AS DECIMAL(28,12))) AS DOUBLE), 0) AS pr
      |  FROM nodes nd CROSS JOIN nn
      |  LEFT JOIN edges e ON e.v = nd.v
      |  LEFT JOIN pr0 p ON p.v = e.u
      |  LEFT JOIN deg dg ON dg.u = e.u
      |  GROUP BY nd.v, nn.n),
      |pr2 AS (
      |  SELECT nd.v, CAST(0.15 AS DOUBLE) / nn.n + 0.85 * COALESCE(
      |    CAST(SUM(CAST(ROUND(p.pr / dg.d, 12) AS DECIMAL(28,12))) AS DOUBLE), 0) AS pr
      |  FROM nodes nd CROSS JOIN nn
      |  LEFT JOIN edges e ON e.v = nd.v
      |  LEFT JOIN pr1 p ON p.v = e.u
      |  LEFT JOIN deg dg ON dg.u = e.u
      |  GROUP BY nd.v, nn.n),
      |pr3 AS (
      |  SELECT nd.v, CAST(0.15 AS DOUBLE) / nn.n + 0.85 * COALESCE(
      |    CAST(SUM(CAST(ROUND(p.pr / dg.d, 12) AS DECIMAL(28,12))) AS DOUBLE), 0) AS pr
      |  FROM nodes nd CROSS JOIN nn
      |  LEFT JOIN edges e ON e.v = nd.v
      |  LEFT JOIN pr2 p ON p.v = e.u
      |  LEFT JOIN deg dg ON dg.u = e.u
      |  GROUP BY nd.v, nn.n)
      |SELECT nd.n_name AS nation, CAST(ROUND(p.pr, 6) AS DOUBLE) AS pagerank
      |FROM pr3 p JOIN nodes nd ON nd.v = p.v
      |ORDER BY pagerank DESC, nation""".stripMargin) { (spark, dir) =>
    Seq("lineitem", "orders", "customer", "supplier", "nation").foreach(t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(s"graft_pr_$t"))
    def iter(prev: String, next: String): String =
      s"""$next AS (
         |  SELECT nd.v, CAST(0.15 AS DOUBLE) / nn.n + 0.85 * COALESCE(
         |    CAST(SUM(CAST(ROUND(p.pr / dg.d, 12) AS DECIMAL(28,12))) AS DOUBLE), 0) AS pr
         |  FROM nodes nd CROSS JOIN nn
         |  LEFT JOIN edges e ON e.v = nd.v
         |  LEFT JOIN $prev p ON p.v = e.u
         |  LEFT JOIN deg dg ON dg.u = e.u
         |  GROUP BY nd.v, nn.n)""".stripMargin
    spark.sql(
      s"""WITH edges AS (
         |  SELECT DISTINCT c.c_nationkey AS u, s.s_nationkey AS v
         |  FROM graft_pr_lineitem l
         |  JOIN graft_pr_orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN graft_pr_customer c ON o.o_custkey = c.c_custkey
         |  JOIN graft_pr_supplier s ON l.l_suppkey = s.s_suppkey
         |  WHERE c.c_nationkey <> s.s_nationkey),
         |deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
         |nodes AS (SELECT n_nationkey AS v, n_name FROM graft_pr_nation),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |pr0 AS (SELECT v, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
         |${iter("pr0", "pr1")},
         |${iter("pr1", "pr2")},
         |${iter("pr2", "pr3")}
         |SELECT nd.n_name AS nation, CAST(ROUND(p.pr, 6) AS DOUBLE) AS pagerank
         |FROM pr3 p JOIN nodes nd ON nd.v = p.v
         |ORDER BY pagerank DESC, nation""".stripMargin)
  }

  /** Welch's unequal-variance two-sample t-test: URGENT vs LOW order
    * totals. Group moments come from exact DECIMAL power sums (order-
    * independent), the t statistic and Welch–Satterthwaite degrees of
    * freedom from doubles on top — one scan, one 2-row aggregate.
    */
  val a84_welch_ttest = OpQuery(
    "a84_welch_ttest",
    """WITH g AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS x
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |m AS (
      |  SELECT grp, COUNT(*) AS n, SUM(x) AS s1,
      |         SUM(CAST(x * x AS DECIMAL(38,4))) AS s2
      |  FROM g GROUP BY grp),
      |p AS (
      |  SELECT
      |    MAX(CASE WHEN grp = 1 THEN n END) AS n1,
      |    MAX(CASE WHEN grp = 0 THEN n END) AS n2,
      |    MAX(CASE WHEN grp = 1 THEN CAST(s1 AS DOUBLE) END) AS a1,
      |    MAX(CASE WHEN grp = 0 THEN CAST(s1 AS DOUBLE) END) AS a2,
      |    MAX(CASE WHEN grp = 1 THEN CAST(s2 AS DOUBLE) END) AS b1,
      |    MAX(CASE WHEN grp = 0 THEN CAST(s2 AS DOUBLE) END) AS b2
      |  FROM m),
      |c AS (
      |  SELECT n1, n2, a1 / n1 AS m1, a2 / n2 AS m2,
      |         (b1 - a1 * a1 / n1) / (n1 - 1) AS v1,
      |         (b2 - a2 * a2 / n2) / (n2 - 1) AS v2
      |  FROM p)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(ROUND(m1, 4) AS DOUBLE) AS mean1,
      |       CAST(ROUND(m2, 4) AS DOUBLE) AS mean2,
      |       CAST(ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 4) AS DOUBLE) AS t,
      |       CAST(ROUND(
      |         (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) /
      |         ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)),
      |         2) AS DOUBLE) AS df
      |FROM c""".stripMargin) { (spark, dir) =>
    val g = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("grp"),
        col("o_totalprice").cast("decimal(18,2)").as("x"))
    val m = g.groupBy("grp").agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
      sum((col("x") * col("x")).cast("decimal(38,4)")).as("s2"))
    val p = m.agg(
      max(when(col("grp") === 1, col("n"))).as("n1"),
      max(when(col("grp") === 0, col("n"))).as("n2"),
      max(when(col("grp") === 1, col("s1").cast("double"))).as("a1"),
      max(when(col("grp") === 0, col("s1").cast("double"))).as("a2"),
      max(when(col("grp") === 1, col("s2").cast("double"))).as("b1"),
      max(when(col("grp") === 0, col("s2").cast("double"))).as("b2"))
    val m1 = col("a1") / col("n1")
    val m2 = col("a2") / col("n2")
    val v1 = (col("b1") - col("a1") * col("a1") / col("n1")) / (col("n1") - 1)
    val v2 = (col("b2") - col("a2") * col("a2") / col("n2")) / (col("n2") - 1)
    val se1 = v1 / col("n1")
    val se2 = v2 / col("n2")
    p.select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      round(m1, 4).cast("double").as("mean1"),
      round(m2, 4).cast("double").as("mean2"),
      round((m1 - m2) / sqrt(se1 + se2), 4).cast("double").as("t"),
      round((se1 + se2) * (se1 + se2) /
        (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)), 2)
        .cast("double").as("df"))
  }

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

  /** Matthews correlation coefficient plus balanced accuracy, Youden's
    * J, and Fowlkes–Mallows, on the same pinned scorer as
    * eval_confusion (score = embedding[1], label = label % 2, threshold
    * 0). Integer cell counts; products go through doubles so no BIGINT
    * overflow at any SF. Single aggregation pass.
    */
  val eval_mcc = OpQuery(
    "eval_mcc",
    """WITH scored AS (
      |  SELECT CAST(embedding[1] AS DOUBLE) AS score,
      |         CAST(label % 2 AS INT) AS y
      |  FROM embeddings),
      |m AS (
      |  SELECT SUM(CASE WHEN score > 0 AND y = 1 THEN 1 ELSE 0 END) AS tp,
      |         SUM(CASE WHEN score > 0 AND y = 0 THEN 1 ELSE 0 END) AS fp,
      |         SUM(CASE WHEN score <= 0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
      |         SUM(CASE WHEN score <= 0 AND y = 0 THEN 1 ELSE 0 END) AS tn
      |  FROM scored),
      |r AS (
      |  SELECT tp, fp, fn, tn,
      |         CAST(tp AS DOUBLE) / (tp + fn) AS tpr,
      |         CAST(tn AS DOUBLE) / (tn + fp) AS tnr,
      |         CAST(tp AS DOUBLE) / (tp + fp) AS ppv
      |  FROM m)
      |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
      |       CAST(ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) /
      |         SQRT(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn)),
      |         6) AS DOUBLE) AS mcc,
      |       CAST(ROUND((tpr + tnr) / 2, 6) AS DOUBLE) AS balanced_acc,
      |       CAST(ROUND(tpr + tnr - 1, 6) AS DOUBLE) AS youden_j,
      |       CAST(ROUND(SQRT(ppv * tpr), 6) AS DOUBLE) AS fowlkes_mallows
      |FROM r""".stripMargin) { (spark, dir) =>
    val m = Tables.load(spark, dir, "embeddings")
      .select(element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") % 2).cast("int").as("y"))
      .agg(
        sum(when(col("score") > 0 && col("y") === 1, 1).otherwise(0)).as("tp"),
        sum(when(col("score") > 0 && col("y") === 0, 1).otherwise(0)).as("fp"),
        sum(when(col("score") <= 0 && col("y") === 1, 1).otherwise(0)).as("fn"),
        sum(when(col("score") <= 0 && col("y") === 0, 1).otherwise(0)).as("tn"))
    val tpr = col("tp").cast("double") / (col("tp") + col("fn"))
    val tnr = col("tn").cast("double") / (col("tn") + col("fp"))
    val ppv = col("tp").cast("double") / (col("tp") + col("fp"))
    m.select(col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
      col("fn").cast("long").as("fn"), col("tn").cast("long").as("tn"),
      round((col("tp").cast("double") * col("tn") -
          col("fp").cast("double") * col("fn")) /
        sqrt((col("tp") + col("fp")).cast("double") * (col("tp") + col("fn")) *
          (col("tn") + col("fp")) * (col("tn") + col("fn"))), 6)
        .cast("double").as("mcc"),
      round((tpr + tnr) / 2, 6).cast("double").as("balanced_acc"),
      round(tpr + tnr - 1, 6).cast("double").as("youden_j"),
      round(sqrt(ppv * tpr), 6).cast("double").as("fowlkes_mallows"))
  }

  val all: Seq[OpQuery] = Seq(graph_pagerank, a84_welch_ttest, fin_var_es,
    eval_mcc)
}
