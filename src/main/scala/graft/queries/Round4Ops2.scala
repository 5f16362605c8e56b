package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.KmvSketch
import graft.operators.{Curation, EventAnalytics}

/** Round-4 batch 2: event analytics (ordered funnel, cohort retention),
  * time-based rolling window frames, cross-document duplicated-span
  * detection, correlated LATERAL joins, and the KMV distinct sketch.
  */
object Round4Ops2 {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Ordered conversion funnel over the event log with a 24-hour
    * conversion window — each stage requires an event AT OR AFTER the
    * user's previous-stage entry time and within 24h of it
    * ([[EventAnalytics.funnel]]). Times compare in epoch microseconds on
    * both engines so the nanosecond source truncates identically. At
    * sf0.01 the stages discriminate 150 → 39 → 16 → 5.
    */
  val funnel_analysis = OpQuery(
    "funnel_analysis",
    """WITH s0 AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
      |  WHERE event_type = 'signup' GROUP BY 1
      |), s1 AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
      |  FROM events e JOIN s0 USING (user_id)
      |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s0.t
      |    AND epoch_us(e.ts) <= s0.t + 86400000000 GROUP BY 1
      |), s2 AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.t
      |    AND epoch_us(e.ts) <= s1.t + 86400000000 GROUP BY 1
      |), s3 AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.t
      |    AND epoch_us(e.ts) <= s2.t + 86400000000 GROUP BY 1
      |), n AS (
      |  SELECT 0 AS stage_idx, 'signup' AS stage, COUNT(*) AS n_users FROM s0
      |  UNION ALL SELECT 1, 'view', COUNT(*) FROM s1
      |  UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
      |  UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3
      |)
      |SELECT stage_idx, stage, CAST(n_users AS BIGINT) AS n_users,
      |       CAST(ROUND(n_users * 1.0 / NULLIF(lag(n_users) OVER (ORDER BY stage_idx), 0), 6) AS DOUBLE) AS conv_rate
      |FROM n ORDER BY stage_idx""".stripMargin) { (spark, dir) =>
    EventAnalytics.funnel(
      t(spark, dir, "events"), Seq("signup", "view", "click", "purchase"),
      conversionWindowMicros = Some(86400000000L))
  }

  /** Weekly cohort retention matrix over high-value purchases: cohort =
    * ISO week of first qualifying event, cells = distinct active users
    * per (cohort, week offset), retention normalized by the cohort's
    * week-0 size ([[EventAnalytics.cohortRetention]]). The qualifying
    * predicate (purchase, value > 150) keeps the activity sparse enough
    * that the matrix shows real decay instead of all-ones.
    */
  val cohort_retention = OpQuery(
    "cohort_retention",
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d FROM events
      |  WHERE event_type = 'purchase' AND value > 150
      |), cohorts AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(d)) AS DATE) AS cohort
      |  FROM ev GROUP BY 1
      |), aw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', d) AS DATE) AS w FROM ev
      |), cells AS (
      |  SELECT cohort, CAST((w - cohort) // 7 AS INT) AS week_offset,
      |         CAST(COUNT(*) AS BIGINT) AS n_active
      |  FROM aw JOIN cohorts USING (user_id) GROUP BY 1, 2
      |), sizes AS (
      |  SELECT cohort, n_active AS sz FROM cells WHERE week_offset = 0
      |)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week, week_offset, n_active,
      |       CAST(ROUND(n_active * 1.0 / sz, 6) AS DOUBLE) AS retention
      |FROM cells JOIN sizes USING (cohort)
      |ORDER BY cohort_week, week_offset""".stripMargin) { (spark, dir) =>
    EventAnalytics.cohortRetention(
      t(spark, dir, "events")
        .filter(col("event_type") === "purchase" && col("value") > 150))
  }

  /** Time-based rolling window: 7-day trailing sum / day-count / mean of
    * daily per-user totals via a RANGE frame over a day index — the
    * value-based frame family (w5) extended to event time. Sums ride
    * DECIMAL(18,2) so both engines aggregate exactly; the mean divides
    * the exact decimal once, in double, on both sides.
    */
  val ts_rolling = OpQuery(
    "ts_rolling",
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
      |       CAST(SUM(v) OVER w AS DOUBLE) AS roll7_sum,
      |       CAST(COUNT(v) OVER w AS BIGINT) AS roll7_days,
      |       CAST(ROUND(CAST(SUM(v) OVER w AS DOUBLE) / NULLIF(COUNT(v) OVER w, 0), 6) AS DOUBLE) AS roll7_avg
      |FROM daily
      |WINDOW w AS (PARTITION BY user_id ORDER BY d
      |             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val daily = t(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("v"))
      .withColumn("__day_idx", datediff(col("d"), to_date(lit("1970-01-01"))))
    val w = Window.partitionBy(col("user_id")).orderBy(col("__day_idx"))
      .rangeBetween(-6, 0)
    daily.select(
        col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        sum(col("v")).over(w).cast("double").as("roll7_sum"),
        count(col("v")).over(w).as("roll7_days"),
        round(sum(col("v")).over(w).cast("double") /
          nullif(count(col("v")).over(w), lit(0L)), 6)
          .cast("double").as("roll7_avg"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Cross-document duplicated 8-token spans
    * ([[Curation.duplicatedSpans]]): per-document duplicated-span audit,
    * the exact-substring-dedup signal. Both engines fingerprint the
    * identical token windows with md5.
    */
  val dedup_spans = OpQuery(
    "dedup_spans",
    """WITH src AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      |  FROM documents
      |), sp AS (
      |  SELECT doc_id, md5(array_to_string(ts[u.i:u.i+7], ' ')) AS k
      |  FROM src, unnest(generate_series(1, len(ts) - 7)) AS u(i)
      |), dup AS (
      |  SELECT k FROM sp GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2
      |), agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |         CAST(SUM(CASE WHEN k IN (SELECT k FROM dup) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
      |  FROM sp GROUP BY doc_id
      |)
      |SELECT s.doc_id,
      |       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
      |       CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
      |       CAST(ROUND(COALESCE(a.n_dup_spans, 0) * 1.0 / NULLIF(COALESCE(a.n_spans, 0), 0), 6) AS DOUBLE) AS dup_frac
      |FROM src s LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Curation.duplicatedSpans(
        t(spark, dir, "documents"), "doc_id", "text", n = 8, minDocs = 2)
      .orderBy(col("doc_id"))
  }

  /** Correlated LATERAL join: top-3 customers by account balance PER
    * nation, stated as a lateral subquery (the SQL-standard form of
    * top-k-per-group). Identical SQL text runs on both engines.
    */
  val j13_lateral = OpQuery.sql("j13_lateral", "nation", "customer")(
    """SELECT n_name, c_custkey, bal
      |FROM nation, LATERAL (
      |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal
      |  FROM customer
      |  WHERE c_nationkey = n_nationkey
      |  ORDER BY bal DESC, c_custkey
      |  LIMIT 3
      |) t
      |ORDER BY n_name, bal DESC, c_custkey""".stripMargin)

  /** KMV distinct sketch ([[KmvSketch]]): per-group estimate vs exact,
    * with the relative error in the output. Rows-only gate — xxhash64
    * has no DuckDB twin; the estimator contract (exact below k, error
    * bound, merge/partition invariance, set algebra) is pinned in
    * KmvSketchSpec.
    */
  val kmv_distinct = OpQuery.noOracle("kmv_distinct") { (spark, dir) =>
    KmvSketch.register(spark)
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(KmvSketch.kmvSketch(col("l_orderkey"), 512).as("__s"),
        countDistinct(col("l_orderkey")).as("exact_distinct"))
      .select(col("l_returnflag"), col("exact_distinct"),
        round(col("__s.estimate"), 4).as("kmv_estimate"),
        round(abs(col("__s.estimate") - col("exact_distinct")) /
          col("exact_distinct"), 4).as("rel_err"))
      .withColumn("within_bound", col("rel_err") <= 0.15)
      .orderBy(col("l_returnflag"))
  }

  val all: Seq[OpQuery] = Seq(
    funnel_analysis, cohort_retention, ts_rolling, dedup_spans,
    j13_lateral, kmv_distinct)
}
