package graft.queries

import graft.Tables

/** Round-4 batch 123: Holt's linear-trend exponential smoothing via a
  * recursive CTE, internal rate of return by unrolled Newton
  * iteration, and TF-IDF document-pair cosine similarity.
  */
object Round4Ops123 {

  /** Holt's double exponential smoothing (α=0.3, β=0.1) over the last
    * 60 days of daily revenue: the level/trend recurrence runs as a
    * recursive CTE (depth 60 — under Spark's recursion ceiling), with
    * every state rounded to 6dp per step so both engines walk the
    * identical float path. Output is the final level/trend plus the
    * 7-day-ahead linear forecast — the one-number answer a capacity
    * planner wants. The recursion is over the 60-row DAILY series,
    * never the raw fact table: the heavy aggregation is one
    * distributed pass, the smoothing walk is O(days).
    */
  val ts_holt = OpQuery(
    "ts_holt",
    """WITH RECURSIVE daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |lastd AS (SELECT MAX(d) AS mx FROM daily),
      |s AS (
      |  SELECT CAST(y AS DOUBLE) AS y,
      |         ROW_NUMBER() OVER (ORDER BY d) AS t,
      |         COUNT(*) OVER () AS n
      |  FROM daily, lastd WHERE d > mx - INTERVAL 60 DAY),
      |holt(t, l, b) AS (
      |  SELECT 1, s1.y, s2.y - s1.y
      |  FROM (SELECT y FROM s WHERE t = 1) s1, (SELECT y FROM s WHERE t = 2) s2
      |  UNION ALL
      |  SELECT holt.t + 1,
      |         ROUND(0.3 * s.y + 0.7 * (holt.l + holt.b), 6),
      |         ROUND(0.1 * (ROUND(0.3 * s.y + 0.7 * (holt.l + holt.b), 6) - holt.l)
      |               + 0.9 * holt.b, 6)
      |  FROM holt JOIN s ON s.t = holt.t + 1)
      |SELECT CAST(t AS INT) AS n_days,
      |       CAST(ROUND(l, 4) AS DOUBLE) AS level,
      |       CAST(ROUND(b, 4) AS DOUBLE) AS trend,
      |       CAST(ROUND(l + 7 * b, 4) AS DOUBLE) AS forecast_7d
      |FROM holt
      |WHERE t = (SELECT MAX(n) FROM s)""".stripMargin) { (spark, dir) =>
    // Spark side: the recursion collapses into ONE partition-local
    // `aggregate()` fold over the collected daily array (≤60 doubles).
    // The recursive CTE in the oracle costs DuckDB nothing, but in Spark
    // each level is a separately scheduled join — 60 rounds of scheduling
    // over a 60-row frame (~27 s at sf0.1). The distributed part (daily
    // aggregation) is unchanged; only the O(days) walk moves out of the
    // scheduler. Per-step ROUND(…, 6) keeps both engines on one float path.
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_holt_orders")
    spark.sql(
      """WITH daily AS (
        |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM graft_holt_orders GROUP BY 1),
        |lastd AS (SELECT MAX(d) AS mx FROM daily),
        |s AS (
        |  SELECT d, CAST(y AS DOUBLE) AS y
        |  FROM daily CROSS JOIN lastd WHERE d > mx - INTERVAL 60 DAY),
        |arr AS (
        |  SELECT transform(array_sort(collect_list(struct(d, y))), x -> x.y) AS ys
        |  FROM s),
        |folded AS (
        |  SELECT size(ys) AS n,
        |         aggregate(
        |           slice(ys, 2, size(ys) - 1),
        |           named_struct('l', ys[0], 'b', ys[1] - ys[0]),
        |           (acc, y) -> named_struct(
        |             'l', ROUND(0.3 * y + 0.7 * (acc.l + acc.b), 6),
        |             'b', ROUND(0.1 * (ROUND(0.3 * y + 0.7 * (acc.l + acc.b), 6)
        |                              - acc.l) + 0.9 * acc.b, 6))) AS st
        |  FROM arr)
        |SELECT CAST(n AS INT) AS n_days,
        |       CAST(ROUND(st.l, 4) AS DOUBLE) AS level,
        |       CAST(ROUND(st.b, 4) AS DOUBLE) AS trend,
        |       CAST(ROUND(st.l + 7 * st.b, 4) AS DOUBLE) AS forecast_7d
        |FROM folded""".stripMargin)
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

  /** TF-IDF document-pair cosine over a 200-doc slice: weights
    * tf·ln(N/df) rounded to 6dp, per-doc norms and pair dot products
    * folded through DECIMAL, pairs meeting ≥3 shared terms ranked by
    * cosine. The pair join is an inverted-index join on TERM — the
    * scalable sparse-vector shape (work ∝ posting-list sizes, never
    * |docs|²) that underlies every semantic-dedup pass.
    */
  val text_doc_cosine = OpQuery.sql("text_doc_cosine", "documents")(
    """WITH tf AS (
      |  SELECT doc_id, w, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                                      s -> length(s) >= 3)) AS w
      |    FROM documents WHERE doc_id < 200) t
      |  GROUP BY doc_id, w),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |wts AS (
      |  SELECT tf.doc_id, tf.w,
      |         ROUND(tf.tf * LN(CAST(nd.n AS DOUBLE) / df.df), 6) AS wt
      |  FROM tf JOIN df ON df.w = tf.w CROSS JOIN nd),
      |norms AS (
      |  SELECT doc_id,
      |         SQRT(CAST(SUM(CAST(ROUND(wt * wt, 6) AS DECIMAL(38,6))) AS DOUBLE))
      |           AS nrm
      |  FROM wts GROUP BY doc_id),
      |dots AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |         CAST(SUM(CAST(ROUND(a.wt * b.wt, 6) AS DECIMAL(38,6))) AS DOUBLE)
      |           AS dot,
      |         COUNT(*) AS shared
      |  FROM wts a JOIN wts b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |  HAVING COUNT(*) >= 3)
      |SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
      |       CAST(shared AS BIGINT) AS shared_terms,
      |       CAST(ROUND(dot / (n1.nrm * n2.nrm), 6) AS DOUBLE) AS cosine
      |FROM dots
      |JOIN norms n1 ON n1.doc_id = d1
      |JOIN norms n2 ON n2.doc_id = d2
      |ORDER BY cosine DESC, d1, d2
      |LIMIT 15""".stripMargin,
    "unnest(list_filter(string_split_regex(" -> "explode(filter(split(")

  val all: Seq[OpQuery] = Seq(ts_holt, fin_irr, text_doc_cosine)
}
