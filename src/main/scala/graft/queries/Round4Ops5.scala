package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Graph, Similarity, TimeSeries}

/** Round-4 batch 5: embedding class statistics, bounded BFS, fuzzy
  * identifier matching, classic SQL subquery shapes, and time-series
  * linear interpolation.
  */
object Round4Ops5 {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Per-label embedding centroid diagnostics
    * ([[Similarity.labelCentroidStats]]): member count, centroid norm,
    * mean member→centroid cosine. The oracle replays the two-stage
    * relational shape with unnest + parallel generate_series as the
    * dimension ordinal.
    */
  val emb_class_stats = OpQuery(
    "emb_class_stats",
    """WITH e AS (
      |  SELECT vec_id, label, unnest(embedding) AS v,
      |         unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings
      |), c AS (
      |  SELECT label, i, AVG(CAST(v AS DOUBLE)) AS cv FROM e GROUP BY 1, 2
      |), cn AS (
      |  SELECT label, SQRT(SUM(cv * cv)) AS cnorm FROM c GROUP BY 1
      |), m AS (
      |  SELECT e.vec_id, e.label,
      |         SUM(CAST(e.v AS DOUBLE) * c.cv) AS dot,
      |         SQRT(SUM(CAST(e.v AS DOUBLE) * CAST(e.v AS DOUBLE))) AS vnorm
      |  FROM e JOIN c ON e.label = c.label AND e.i = c.i
      |  GROUP BY 1, 2
      |)
      |SELECT m.label, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(ROUND(ANY_VALUE(cn.cnorm), 6) AS DOUBLE) AS centroid_norm,
      |       CAST(ROUND(AVG(m.dot / (m.vnorm * cn.cnorm)), 6) AS DOUBLE) AS mean_cos
      |FROM m JOIN cn ON m.label = cn.label
      |GROUP BY m.label
      |ORDER BY m.label""".stripMargin) { (spark, dir) =>
    Similarity.labelCentroidStats(t(spark, dir, "embeddings"))
      .select(col("label"), col("n"),
        round(col("centroid_norm"), 6).as("centroid_norm"),
        round(col("mean_cos"), 6).as("mean_cos"))
      .orderBy(col("label"))
  }

  /** Bounded multi-source BFS ([[Graph.bfs]]): minimum hop distance from
    * nation-0 suppliers over the undirected supplier↔part bipartite
    * graph (edges = distinct lineitem (suppkey, partkey) pairs), within
    * 2 hops. Oracled by a recursive CTE taking MIN(d) per node.
    */
  val graph_bfs = OpQuery(
    "graph_bfs",
    """WITH RECURSIVE fwd AS (
      |  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
      |  FROM lineitem
      |), edges AS (
      |  SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
      |), r(id, d) AS (
      |  SELECT 's' || s_suppkey, 0 FROM supplier WHERE s_nationkey = 0
      |  UNION
      |  SELECT e.dst, r.d + 1 FROM r JOIN edges e ON e.src = r.id WHERE r.d < 2
      |)
      |SELECT id, CAST(MIN(d) AS INT) AS dist
      |FROM r GROUP BY id ORDER BY id""".stripMargin) { (spark, dir) =>
    val fwd = t(spark, dir, "lineitem")
      .select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst"))
      .distinct()
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = t(spark, dir, "supplier")
      .filter(col("s_nationkey") === 0)
      .select(concat(lit("s"), col("s_suppkey")).as("id"))
    Graph.bfs(edges, seeds, maxHops = 2).orderBy(col("id"))
  }

  /** Fuzzy identifier matching ([[Dedup.stringHammingNeighbors]]):
    * customer-name pairs within hamming distance 1 (single-character
    * typos), found via pigeonhole segment blocking. The oracle is the
    * EXHAUSTIVE n² hamming join — the gate proves blocked ≡ exhaustive,
    * the same ground-truth relationship as dedup_minhash vs exact.
    */
  val dedup_fuzzy_names = OpQuery(
    "dedup_fuzzy_names",
    """SELECT a.c_custkey AS id1, b.c_custkey AS id2,
      |       CAST(hamming(a.c_name, b.c_name) AS INT) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      | AND length(a.c_name) = length(b.c_name)
      |WHERE CASE WHEN length(a.c_name) = length(b.c_name)
      |           THEN hamming(a.c_name, b.c_name) END <= 1
      |ORDER BY id1, id2""".stripMargin) { (spark, dir) =>
    Dedup.stringHammingNeighbors(
        t(spark, dir, "customer"), "c_custkey", "c_name", maxDist = 1)
      .orderBy(col("id1"), col("id2"))
  }

  /** Classic SQL subquery shapes in one statement: an uncorrelated
    * scalar subquery (global average), a correlated EXISTS (semi join),
    * and an IN subquery (semi join) — the same SQL text runs on both
    * engines, Catalyst planning all three as joins (no per-row
    * re-execution anywhere).
    */
  val j14_subqueries = OpQuery.sql("j14_subqueries", "orders", "lineitem", "customer")(
    """SELECT o_orderpriority,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o
      |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |  AND o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  /** Daily resample + linear interpolation
    * ([[TimeSeries.resampleDailyInterpolate]]): per-user daily totals in
    * cents, gap days interpolated between their nearest observed
    * neighbors. Integer inputs make the interpolation arithmetic
    * identical in both engines; the oracle replays spine + both window
    * passes with IGNORE NULLS.
    */
  val ts_interpolate = OpQuery(
    "ts_interpolate",
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |         CAST(TRUNC(SUM(CAST(value AS DECIMAL(18,2))) * 100) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1
      |), spine AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM span
      |), j AS (
      |  SELECT s.user_id, s.d, daily.vc
      |  FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
      |), w AS (
      |  SELECT user_id, d, vc,
      |    last_value(vc IGNORE NULLS) OVER pb AS pv,
      |    last_value(CASE WHEN vc IS NOT NULL THEN d END IGNORE NULLS) OVER pb AS pd,
      |    first_value(vc IGNORE NULLS) OVER pf AS nv,
      |    first_value(CASE WHEN vc IS NOT NULL THEN d END IGNORE NULLS) OVER pf AS nd
      |  FROM j
      |  WINDOW pb AS (PARTITION BY user_id ORDER BY d
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         pf AS (PARTITION BY user_id ORDER BY d
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day, vc IS NULL AS is_gap,
      |  CAST(ROUND(CASE WHEN vc IS NOT NULL THEN CAST(vc AS DOUBLE)
      |    ELSE CAST(pv AS DOUBLE)
      |         + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
      |           * date_diff('day', pd, d) / date_diff('day', pd, nd)
      |    END, 6) AS DOUBLE) AS v_interp
      |FROM w ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    val daily = t(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("vc"))
    TimeSeries.resampleDailyInterpolate(daily, "user_id", "d", "vc")
      .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("is_gap"), round(col("vc_interp"), 6).as("v_interp"))
      .orderBy(col("user_id"), col("day"))
  }

  val all: Seq[OpQuery] = Seq(
    emb_class_stats, graph_bfs, dedup_fuzzy_names, j14_subqueries,
    ts_interpolate)
}
