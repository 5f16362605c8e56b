package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 95: behavioral entropy rate, Weibull shape fitting,
  * and a monotonicity audit.
  */
object Round4Ops95 {

  /** Entropy rate of the event-type process: H(next | current) under
    * the empirical bigram model — the bits-per-step number that says
    * how predictable user behavior actually is (and bounds any
    * next-event model's loss). Joint and marginal counts come from one
    * grouped pass; each p·ln term is quantized before the DECIMAL sum.
    */
  val a71_entropy_rate = OpQuery.sql("a71_entropy_rate", "events")(
    """WITH seq AS (
      |  SELECT event_type AS w1,
      |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS w2
      |  FROM events),
      |joint AS (
      |  SELECT w1, w2, COUNT(*) AS c FROM seq WHERE w2 IS NOT NULL GROUP BY w1, w2),
      |tot AS (SELECT SUM(c) AS t FROM joint),
      |marg AS (SELECT w1, SUM(c) AS m FROM joint GROUP BY w1),
      |terms AS (
      |  SELECT CAST(ROUND(-(CAST(j.c AS DOUBLE) / t.t) *
      |                    ln(CAST(j.c AS DOUBLE) / mg.m), 12) AS DECIMAL(28,12)) AS h
      |  FROM joint j JOIN marg mg ON j.w1 = mg.w1 CROSS JOIN tot t)
      |SELECT CAST((SELECT t FROM tot) AS BIGINT) AS n_transitions,
      |       CAST(ROUND(CAST(SUM(h) AS DOUBLE), 6) AS DOUBLE) AS entropy_rate_nats
      |FROM terms""".stripMargin)

  /** Weibull shape/scale fit of inter-purchase gaps by median-rank
    * regression: sort the gaps, F̂ᵢ = (i−0.3)/(n+0.4), regress
    * ln(−ln(1−F̂)) on ln(gap) — shape is the slope, scale from the
    * intercept. The reliability-engineering fit, here sizing purchase
    * cadence; ranks are exact integers, gaps exact seconds.
    */
  val a72_weibull_fit = OpQuery(
    "a72_weibull_fit",
    """WITH gaps AS (
      |  SELECT TRUNC(epoch(ts))::BIGINT -
      |         LAG(TRUNC(epoch(ts))::BIGINT) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS g
      |  FROM events WHERE event_type = 'purchase'),
      |clean AS (SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0),
      |ranked AS (
      |  SELECT g, ROW_NUMBER() OVER (ORDER BY g) AS i, COUNT(*) OVER () AS n
      |  FROM clean),
      |terms AS (
      |  SELECT ln(CAST(g AS DOUBLE)) AS x,
      |         ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) AS y
      |  FROM ranked),
      |fit AS (
      |  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM terms)
      |SELECT CAST(k AS BIGINT) AS n_gaps,
      |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
      |         AS weibull_shape,
      |       CAST(ROUND(exp(-((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k)
      |                  / ((k * sxy - sx * sy) / (k * sxx - sx * sx))), 2) AS DOUBLE)
      |         AS weibull_scale_sec
      |FROM fit""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_wb_events")
    val clean = spark.sql(
      """WITH gaps AS (
        |  SELECT unix_timestamp(ts) -
        |         LAG(unix_timestamp(ts)) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS g
        |  FROM graft_wb_events WHERE event_type = 'purchase')
        |SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0""".stripMargin)
    // gap-table-sized global rank + count → TotalOrder's range-shuffle
    // pair (winscan r9: RAW global window). Within equal gaps the rank
    // assignment is arbitrary in both forms, and the Weibull plotting
    // position y depends only on (i, n) while x depends only on g, so
    // any within-tie permutation leaves every downstream sum unchanged.
    graft.operators.TotalOrder
      .rowNumberWithCount(clean, Seq(col("g")), rnCol = "i", nCol = "n")
      .createOrReplaceTempView("graft_wb_ranked")
    spark.sql(
      """WITH ranked AS (SELECT g, i, n FROM graft_wb_ranked),
        |terms AS (
        |  SELECT ln(CAST(g AS DOUBLE)) AS x,
        |         ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) AS y
        |  FROM ranked),
        |fit AS (
        |  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM terms)
        |SELECT CAST(k AS BIGINT) AS n_gaps,
        |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
        |         AS weibull_shape,
        |       CAST(ROUND(exp(-((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k)
        |                  / ((k * sxy - sx * sy) / (k * sxx - sx * sx))), 2) AS DOUBLE)
        |         AS weibull_scale_sec
        |FROM fit""".stripMargin)
  }

  /** Monotonicity audit: do event ids increase with time within each
    * user (the ordering contract ingestion promises)? One lag pass
    * scores every user (count + monotonic flag), so a healthy feed
    * yields an all-true column, not an empty report — the audit that catches backfills stamped
    * with stale clocks.
    */
  val dq_monotonic_audit = OpQuery.sql("dq_monotonic_audit", "events")(
    """WITH seq AS (
      |  SELECT user_id, event_id,
      |         LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id
      |  FROM events),
      |flags AS (
      |  SELECT user_id,
      |         CASE WHEN prev_id IS NOT NULL AND event_id < prev_id THEN 1 ELSE 0 END AS inv
      |  FROM seq)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(inv) AS BIGINT) AS inversions,
      |       (SUM(inv) = 0) AS is_monotonic
      |FROM flags
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin)

  val all: Seq[OpQuery] = Seq(a71_entropy_rate, a72_weibull_fit, dq_monotonic_audit)
}
