package graft.queries

/** Round-4 batch 129: segmented-trend breakpoint regression, the
  * Wilcoxon signed-rank paired test, and Burrows' Delta stylometric
  * distance.
  */
object Round4Ops129 {

  /** Two-piece segmented trend: twelve candidate breakpoints (evenly
    * spaced in time) each get independent left/right OLS fits, and the
    * winner minimizes total SSE — the discrete search a piecewise
    * trend model (Prophet-style) runs per changepoint. All per-side
    * moments come from ONE grouped pass over the series × candidate
    * grid (series is daily, so the grid is tiny relative to the fact
    * scan); slopes are exact-decimal moment ratios. Reports the best
    * split with both slopes — "where did growth change, and to what?".
    */
  val ts_segmented_trend = OpQuery.sql("ts_segmented_trend", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT CAST(y AS DECIMAL(18,2)) AS y,
      |         ROW_NUMBER() OVER (ORDER BY d) AS t,
      |         COUNT(*) OVER () AS n
      |  FROM daily),
      |cand AS (
      |  SELECT CAST(FLOOR(CAST(k AS DOUBLE) * (SELECT MAX(n) FROM s) / 13)
      |           AS BIGINT) AS cut
      |  FROM (SELECT unnest(generate_series(1, 12)) AS k) t),
      |sides AS (
      |  SELECT cand.cut, CASE WHEN s.t <= cand.cut THEN 0 ELSE 1 END AS side,
      |         s.t, s.y
      |  FROM s CROSS JOIN cand),
      |mom AS (
      |  SELECT cut, side, COUNT(*) AS n,
      |         SUM(t) AS st, SUM(t * t) AS stt,
      |         CAST(SUM(y) AS DOUBLE) AS sy,
      |         CAST(SUM(t * y) AS DOUBLE) AS sty,
      |         CAST(SUM(y * y) AS DOUBLE) AS syy
      |  FROM sides GROUP BY cut, side),
      |sse AS (
      |  SELECT cut, side,
      |         (sty - CAST(st AS DOUBLE) * sy / n)
      |           / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS slope,
      |         (syy - sy * sy / n)
      |           - (sty - CAST(st AS DOUBLE) * sy / n)
      |             * (sty - CAST(st AS DOUBLE) * sy / n)
      |             / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS e
      |  FROM mom),
      |tot AS (
      |  SELECT cut,
      |         MAX(CASE WHEN side = 0 THEN slope END) AS slope_left,
      |         MAX(CASE WHEN side = 1 THEN slope END) AS slope_right,
      |         SUM(e) AS sse
      |  FROM sse GROUP BY cut),
      |best AS (
      |  SELECT cut, slope_left, slope_right, sse
      |  FROM tot ORDER BY sse, cut LIMIT 1)
      |SELECT CAST(cut AS BIGINT) AS break_t,
      |       CAST(ROUND(slope_left, 4) AS DOUBLE) AS slope_left,
      |       CAST(ROUND(slope_right, 4) AS DOUBLE) AS slope_right,
      |       CAST(ROUND(sse / 1e9, 4) AS DOUBLE) AS sse_bn
      |FROM best""".stripMargin,
    "unnest(generate_series(" -> "explode(sequence(")

  /** Wilcoxon signed-rank test on paired national revenue: H1-1995 vs
    * H2-1995 per nation. Absolute differences are exact decimals, so
    * the rank order is reproducible (nation key breaks the measure-zero
    * ties); W⁺ and the normal-approximation z follow from integer rank
    * sums. The nonparametric complement to the paired t-test — robust
    * to the heavy-tailed revenue diffs that break normality.
    */
  val stat_wilcoxon_signed_rank = OpQuery.sql("stat_wilcoxon_signed_rank",
      "orders", "customer")(
    """WITH rev AS (
      |  SELECT c.c_nationkey AS nat,
      |         SUM(CASE WHEN o.o_orderdate < DATE '1995-07-01'
      |             THEN CAST(o.o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS h1,
      |         SUM(CASE WHEN o.o_orderdate >= DATE '1995-07-01'
      |             THEN CAST(o.o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS h2
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1996-01-01'
      |  GROUP BY 1),
      |diffs AS (
      |  SELECT nat, h2 - h1 AS d, ABS(h2 - h1) AS ad FROM rev
      |  WHERE h2 <> h1),
      |ranked AS (
      |  SELECT nat, d, ROW_NUMBER() OVER (ORDER BY ad, nat) AS r FROM diffs),
      |agg AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN d > 0 THEN r ELSE 0 END) AS w_plus
      |  FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |       CAST(w_plus AS BIGINT) AS w_plus,
      |       CAST(ROUND((w_plus - n * (n + 1) / 4.0)
      |         / SQRT(n * (n + 1) * (2 * n + 1) / 24.0), 4) AS DOUBLE) AS z
      |FROM agg""".stripMargin)

  /** Burrows' Delta — the stylometry workhorse: over the 30 most
    * frequent corpus words, each document's relative frequencies are
    * z-scored against the corpus, and Delta(d₁,d₂) is the mean |z₁−z₂|.
    * The 10 closest pairs among the first 100 docs are the
    * same-author/same-template candidates. The pair join is keyed on
    * WORD (a 30-row dimension), so cost is #docs² × 30 only after the
    * 30-word projection — the matrix never materializes wider.
    */
  val text_burrows_delta = OpQuery.sql("text_burrows_delta", "documents")(
    """WITH words AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                      s -> length(s) >= 2)) AS w
      |    FROM documents WHERE doc_id < 100) t),
      |doclen AS (SELECT doc_id, COUNT(*) AS len FROM words GROUP BY doc_id),
      |top30 AS (
      |  SELECT w FROM words GROUP BY w
      |  ORDER BY COUNT(*) DESC, w LIMIT 30),
      |freq AS (
      |  SELECT dl.doc_id, t.w,
      |         CAST(COALESCE(c.c, 0) AS DOUBLE) / dl.len AS f
      |  FROM doclen dl CROSS JOIN top30 t
      |  LEFT JOIN (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w) c
      |    ON c.doc_id = dl.doc_id AND c.w = t.w),
      |stats AS (
      |  SELECT w, COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(f, 10) AS DECIMAL(28,10))) AS DOUBLE) AS s1,
      |         CAST(SUM(CAST(ROUND(f * f, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s2
      |  FROM freq GROUP BY w),
      |z AS (
      |  SELECT freq.doc_id, freq.w,
      |         (freq.f - stats.s1 / stats.n)
      |           / SQRT((stats.s2 - stats.s1 * stats.s1 / stats.n) / (stats.n - 1))
      |           AS z
      |  FROM freq JOIN stats ON stats.w = freq.w),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |         CAST(SUM(CAST(ROUND(ABS(a.z - b.z), 8) AS DECIMAL(28,8))) AS DOUBLE)
      |           / 30 AS delta
      |  FROM z a JOIN z b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
      |       CAST(ROUND(delta, 6) AS DOUBLE) AS delta
      |FROM pairs
      |ORDER BY delta, d1, d2
      |LIMIT 10""".stripMargin,
    "unnest(list_filter(string_split_regex(" -> "explode(filter(split(")

  val all: Seq[OpQuery] = Seq(ts_segmented_trend, stat_wilcoxon_signed_rank,
    text_burrows_delta)
}
