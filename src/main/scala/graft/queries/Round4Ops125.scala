package graft.queries

import graft.Tables

/** Round-4 batch 125: DBSCAN core/border/noise labeling via tile
  * joins, one-lag Granger causality between segment revenue series,
  * and annualized Sharpe ratios per market segment.
  */
object Round4Ops125 {

  /** DBSCAN's density classification (eps = 0.05, minPts = 8,
    * self-inclusive) on the first two embedding dimensions. The
    * neighbor join NEVER compares all pairs: each point is exploded
    * into its 3×3 surrounding grid cells and the candidate join is an
    * EQUI-join on cell — the standard way a spatial self-join scales
    * out (work ∝ local density, shuffle on cell key). Core points have
    * ≥ minPts eps-neighbors; border points are non-core within eps of
    * a core; the rest is noise. Output is the per-label census.
    */
  val cluster_dbscan_core = OpQuery(
    "cluster_dbscan_core",
    """WITH p AS (
      |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
      |         CAST(embedding[2] AS DOUBLE) AS y,
      |         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) / 0.05) AS BIGINT) AS cx,
      |         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) / 0.05) AS BIGINT) AS cy
      |  FROM embeddings),
      |spread AS (
      |  SELECT p.vec_id, p.x, p.y, p.cx + dx.d AS cx, p.cy + dy.d AS cy
      |  FROM p
      |  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS d) dx
      |  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS d) dy),
      |nb AS (
      |  SELECT a.vec_id, COUNT(*) AS n
      |  FROM p a JOIN spread b ON a.cx = b.cx AND a.cy = b.cy
      |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.0025
      |  GROUP BY a.vec_id),
      |core AS (SELECT vec_id FROM nb WHERE n >= 8),
      |border AS (
      |  SELECT DISTINCT a.vec_id
      |  FROM p a
      |  JOIN spread b ON a.cx = b.cx AND a.cy = b.cy
      |  JOIN core ON core.vec_id = b.vec_id
      |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.0025
      |    AND a.vec_id NOT IN (SELECT vec_id FROM core)),
      |labeled AS (
      |  SELECT nb.vec_id, nb.n,
      |         CASE WHEN core.vec_id IS NOT NULL THEN 'core'
      |              WHEN border.vec_id IS NOT NULL THEN 'border'
      |              ELSE 'noise' END AS label
      |  FROM nb
      |  LEFT JOIN core ON core.vec_id = nb.vec_id
      |  LEFT JOIN border ON border.vec_id = nb.vec_id)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS points,
      |       CAST(MIN(n) AS BIGINT) AS min_neighbors,
      |       CAST(MAX(n) AS BIGINT) AS max_neighbors,
      |       CAST(ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)
      |         AS avg_neighbors
      |FROM labeled
      |GROUP BY label
      |ORDER BY label""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_db_emb")
    spark.sql(
      """WITH p AS (
        |  SELECT vec_id, CAST(embedding[0] AS DOUBLE) AS x,
        |         CAST(embedding[1] AS DOUBLE) AS y,
        |         CAST(FLOOR(CAST(embedding[0] AS DOUBLE) / 0.05) AS BIGINT) AS cx,
        |         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) / 0.05) AS BIGINT) AS cy
        |  FROM graft_db_emb),
        |spread AS (
        |  SELECT p.vec_id, p.x, p.y, p.cx + dx.d AS cx, p.cy + dy.d AS cy
        |  FROM p
        |  CROSS JOIN (SELECT explode(sequence(-1, 1)) AS d) dx
        |  CROSS JOIN (SELECT explode(sequence(-1, 1)) AS d) dy),
        |nb AS (
        |  SELECT a.vec_id, COUNT(*) AS n
        |  FROM p a JOIN spread b ON a.cx = b.cx AND a.cy = b.cy
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.0025
        |  GROUP BY a.vec_id),
        |core AS (SELECT vec_id FROM nb WHERE n >= 8),
        |border AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM p a
        |  JOIN spread b ON a.cx = b.cx AND a.cy = b.cy
        |  JOIN core ON core.vec_id = b.vec_id
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.0025
        |    AND a.vec_id NOT IN (SELECT vec_id FROM core)),
        |labeled AS (
        |  SELECT nb.vec_id, nb.n,
        |         CASE WHEN core.vec_id IS NOT NULL THEN 'core'
        |              WHEN border.vec_id IS NOT NULL THEN 'border'
        |              ELSE 'noise' END AS label
        |  FROM nb
        |  LEFT JOIN core ON core.vec_id = nb.vec_id
        |  LEFT JOIN border ON border.vec_id = nb.vec_id)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS points,
        |       CAST(MIN(n) AS BIGINT) AS min_neighbors,
        |       CAST(MAX(n) AS BIGINT) AS max_neighbors,
        |       CAST(ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)
        |         AS avg_neighbors
        |FROM labeled
        |GROUP BY label
        |ORDER BY label""".stripMargin)
  }

  /** One-lag Granger causality: does yesterday's MACHINERY-segment
    * revenue improve today's BUILDING-segment forecast beyond its own
    * lag? Unrestricted model y_t ~ [1, y_{t-1}, x_{t-1}] solved by
    * centered 2×2 normal equations on quantized cross-moments;
    * restricted model drops x. F = (SSE_r − SSE_u)/(SSE_u/(n−3)).
    * One aggregation pass computes every moment; the test itself is
    * scalar algebra.
    */
  val ts_granger = OpQuery.sql("ts_granger", "orders", "customer")(
    """WITH rev AS (
      |  SELECT o.o_orderdate AS d, c.c_mktsegment AS seg,
      |         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      |  GROUP BY 1, 2),
      |wide AS (
      |  SELECT d,
      |         CAST(MAX(CASE WHEN seg = 'BUILDING' THEN r END)
      |           AS DECIMAL(18,2)) AS yv,
      |         CAST(MAX(CASE WHEN seg = 'MACHINERY' THEN r END)
      |           AS DECIMAL(18,2)) AS xv
      |  FROM rev GROUP BY d
      |  HAVING MAX(CASE WHEN seg = 'BUILDING' THEN r END) IS NOT NULL
      |     AND MAX(CASE WHEN seg = 'MACHINERY' THEN r END) IS NOT NULL),
      |lagd AS (
      |  SELECT yv AS y,
      |         LAG(yv) OVER (ORDER BY d) AS u,
      |         LAG(xv) OVER (ORDER BY d) AS w
      |  FROM wide),
      |rows_ok AS (SELECT y, u, w FROM lagd WHERE u IS NOT NULL),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(u) AS DOUBLE) AS su,
      |         CAST(SUM(w) AS DOUBLE) AS sw,
      |         CAST(SUM(y) AS DOUBLE) AS sy,
      |         CAST(SUM(u * u) AS DOUBLE) AS suu,
      |         CAST(SUM(u * w) AS DOUBLE) AS suw,
      |         CAST(SUM(w * w) AS DOUBLE) AS sww,
      |         CAST(SUM(u * y) AS DOUBLE) AS suy,
      |         CAST(SUM(w * y) AS DOUBLE) AS swy,
      |         CAST(SUM(y * y) AS DOUBLE) AS syy
      |  FROM rows_ok),
      |c AS (
      |  SELECT n,
      |         suu - su * su / n AS cuu, suw - su * sw / n AS cuw,
      |         sww - sw * sw / n AS cww, suy - su * sy / n AS cuy,
      |         swy - sw * sy / n AS cwy, syy - sy * sy / n AS cyy
      |  FROM m),
      |fit AS (
      |  SELECT n, cyy,
      |         cyy - (cuy * cww - cwy * cuw) / (cuu * cww - cuw * cuw) * cuy
      |             - (cwy * cuu - cuy * cuw) / (cuu * cww - cuw * cuw) * cwy AS sse_u,
      |         cyy - cuy * cuy / cuu AS sse_r
      |  FROM c)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       CAST(ROUND(sse_r / 1e9, 4) AS DOUBLE) AS sse_restricted_bn,
      |       CAST(ROUND(sse_u / 1e9, 4) AS DOUBLE) AS sse_unrestricted_bn,
      |       CAST(ROUND((sse_r - sse_u) / (sse_u / (n - 3)), 4) AS DOUBLE) AS f_stat
      |FROM fit""".stripMargin)

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

  val all: Seq[OpQuery] = Seq(cluster_dbscan_core, ts_granger, fin_sharpe)
}
