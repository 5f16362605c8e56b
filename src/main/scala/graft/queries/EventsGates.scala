package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.EventAnalytics

/** Product event analytics: funnels, retention and cohorts,
  * attribution, sessions, growth accounting and RFM segmentation.
  */
object EventsGates {

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

  /** Markov transition matrix of the event stream
    * ([[EventAnalytics.transitionMatrix]]): per-user consecutive-event
    * pairs, row-normalized to probabilities. Ties in the ordering break
    * on event_id so both engines see the identical sequence.
    */
  val event_transitions = OpQuery(
    "event_transitions",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events
      |)
      |SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6) AS DOUBLE) AS p
      |FROM seq WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, event_type
      |ORDER BY prev_type, next_type""".stripMargin) { (spark, dir) =>
    EventAnalytics.transitionMatrix(t(spark, dir, "events"))
  }

  /** Per-user behavioral sequences ([[EventAnalytics.userSequences]]):
    * ordered event-type strings truncated to 50 events — the sequence
    * construction step of a behavior-model training pipeline. The sort
    * lives inside each user's aggregated array, never in a global
    * orderBy.
    */
  val user_sequences = OpQuery(
    "user_sequences",
    """SELECT user_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       array_to_string((list(event_type ORDER BY epoch_us(ts), event_id))[1:50], '>') AS head_seq
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    EventAnalytics.userSequences(t(spark, dir, "events"), maxLen = 50)
  }

  /** RFM segmentation: recency/frequency/monetary quartiles per
    * customer, NTILE'd with full tie-breaks so both engines assign the
    * identical quartile. The three global windows run over the
    * CUSTOMER-level aggregate — dimension-sized by construction, never
    * the raw fact table (same bounded-global-window argument as the
    * offsets frame in corpus_select).
    */
  val rfm_segmentation = OpQuery(
    "rfm_segmentation",
    """WITH rfm AS (
      |  SELECT o_custkey,
      |         MAX(o_orderdate) AS last_order,
      |         COUNT(*) AS freq,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT o_custkey,
      |       CAST(freq AS BIGINT) AS freq,
      |       CAST(monetary AS DOUBLE) AS monetary,
      |       CAST(NTILE(4) OVER (ORDER BY last_order, o_custkey) AS INT) AS r_q,
      |       CAST(NTILE(4) OVER (ORDER BY freq, o_custkey) AS INT) AS f_q,
      |       CAST(NTILE(4) OVER (ORDER BY monetary, o_custkey) AS INT) AS m_q
      |FROM rfm
      |ORDER BY o_custkey""".stripMargin) { (spark, dir) =>
    val rfm = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary"))
    // Customer-level frames grow with the table, so the three global
    // NTILE windows run as TotalOrder.ntile (range partition + broadcast
    // count) — bit-equal quartiles, no single-reducer sort.
    val q1 = graft.operators.TotalOrder.ntile(
      rfm, Seq(col("last_order"), col("o_custkey")), 4, "r_q")
    val q2 = graft.operators.TotalOrder.ntile(
      q1, Seq(col("freq"), col("o_custkey")), 4, "f_q")
    val q3 = graft.operators.TotalOrder.ntile(
      q2, Seq(col("monetary"), col("o_custkey")), 4, "m_q")
    q3.select(col("o_custkey"), col("freq"),
        col("monetary").cast("double").as("monetary"),
        col("r_q"), col("f_q"), col("m_q"))
      .orderBy(col("o_custkey"))
  }

  /** Engagement ratios: daily active users, the 7-day-window active
    * count anchored at each day (distinct users over a RANGE frame is a
    * join against the day spine instead — windows cannot COUNT
    * DISTINCT), and the DAU/WAU stickiness ratio.
    */
  val event_dau_wau = OpQuery(
    "event_dau_wau",
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, user_id FROM events GROUP BY 1, 2
      |), days AS (
      |  SELECT DISTINCT d FROM daily
      |), dau AS (
      |  SELECT d, COUNT(*) AS dau FROM daily GROUP BY d
      |), wau AS (
      |  SELECT days.d, COUNT(DISTINCT daily.user_id) AS wau
      |  FROM days JOIN daily
      |    ON daily.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
      |  GROUP BY days.d
      |)
      |SELECT strftime(dau.d, '%Y-%m-%d') AS day,
      |       CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
      |       CAST(ROUND(dau * 1.0 / wau, 6) AS DOUBLE) AS stickiness
      |FROM dau JOIN wau ON dau.d = wau.d
      |ORDER BY day""".stripMargin) { (spark, dir) =>
    val daily = t(spark, dir, "events")
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .distinct()
    val days = daily.select(col("d")).distinct()
    val dau = daily.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = days.as("w")
      .join(daily.as("a"),
        col("a.d").between(date_sub(col("w.d"), 6), col("w.d")))
      .groupBy(col("w.d").as("d"))
      .agg(countDistinct(col("a.user_id")).as("wau"))
    dau.join(wau, "d")
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        round(col("dau") * 1.0 / col("wau"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Linear multi-touch attribution: each purchase's value splits evenly
    * (integer cents, floor division — exact and engine-agnostic) across
    * the user's view/click touches in the preceding 24 h. The touch⋈
    * purchase join is equi-keyed on user_id with a time-range residual,
    * so it shuffles once on the uniform user key; per-purchase credit
    * counting is a window over purchase-sized partitions.
    */
  val event_attribution = OpQuery.sql("event_attribution", "events")(
    """WITH touches AS (
      |  SELECT user_id, ts, event_type FROM events WHERE event_type IN ('view','click')),
      |purchases AS (
      |  SELECT event_id, user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT p.event_id, p.cents, t.event_type AS touch_type
      |  FROM purchases p JOIN touches t
      |    ON p.user_id = t.user_id AND t.ts <= p.ts AND t.ts > p.ts - INTERVAL 24 HOUR),
      |counted AS (
      |  SELECT event_id, cents, touch_type,
      |         COUNT(*) OVER (PARTITION BY event_id) AS n_touch
      |  FROM pairs)
      |SELECT touch_type,
      |       CAST(SUM(cents // n_touch) AS BIGINT) AS attributed_cents,
      |       CAST(COUNT(*) AS BIGINT) AS n_credits
      |FROM counted
      |GROUP BY touch_type
      |ORDER BY touch_type""".stripMargin,
    "//" -> "DIV")

  /** Time-to-convert: first view → first purchase latency per user in
    * whole seconds, summarized as exact interpolated quartiles plus the
    * conversion rate. Two min-aggregates on the user key (one shuffle),
    * then a percentile over the user-sized result.
    */
  val event_time_to_convert = OpQuery(
    "event_time_to_convert",
    """WITH firsts AS (
      |  SELECT user_id,
      |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      |  FROM events GROUP BY user_id),
      |lat AS (
      |  SELECT date_diff('second', first_view, first_purchase) AS sec
      |  FROM firsts
      |  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
      |    AND first_purchase >= first_view)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
      |       CAST((SELECT COUNT(*) FROM firsts WHERE first_view IS NOT NULL) AS BIGINT) AS n_viewers,
      |       CAST(ROUND(quantile_cont(sec, 0.25), 2) AS DOUBLE) AS p25_sec,
      |       CAST(ROUND(quantile_cont(sec, 0.50), 2) AS DOUBLE) AS p50_sec,
      |       CAST(ROUND(quantile_cont(sec, 0.75), 2) AS DOUBLE) AS p75_sec
      |FROM lat""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_ttc_events")
    spark.sql(
      """WITH firsts AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM graft_ttc_events GROUP BY user_id),
        |lat AS (
        |  SELECT CAST(unix_timestamp(first_purchase) - unix_timestamp(first_view) AS BIGINT) AS sec
        |  FROM firsts
        |  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        |    AND first_purchase >= first_view)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |       CAST((SELECT COUNT(*) FROM firsts WHERE first_view IS NOT NULL) AS BIGINT) AS n_viewers,
        |       CAST(ROUND(percentile(sec, 0.25), 2) AS DOUBLE) AS p25_sec,
        |       CAST(ROUND(percentile(sec, 0.50), 2) AS DOUBLE) AS p50_sec,
        |       CAST(ROUND(percentile(sec, 0.75), 2) AS DOUBLE) AS p75_sec
        |FROM lat""".stripMargin)
  }

  /** Daily new-vs-returning decomposition: a user's first-ever active
    * day classifies them once; every later active day is returning.
    * Two aggregates on the user key sharing one shuffle, then a
    * day-keyed rollup.
    */
  val event_new_returning = OpQuery.sql("event_new_returning", "events")(
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |firsts AS (
      |  SELECT user_id, MIN(d) AS first_day FROM active GROUP BY user_id)
      |SELECT strftime(a.d, '%Y-%m-%d') AS day,
      |       CAST(SUM(CASE WHEN a.d = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |       CAST(SUM(CASE WHEN a.d > f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
      |FROM active a JOIN firsts f ON a.user_id = f.user_id
      |GROUP BY a.d
      |ORDER BY a.d""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  /** Day-of-week × hour activity heatmap — the grid behind every usage
    * dashboard. One aggregate on the (dow, hour) key.
    */
  val event_heatmap = OpQuery.sql("event_heatmap", "events")(
    """SELECT CAST(dayofweek(CAST(ts AS DATE)) AS INT) AS dow,
      |       CAST(hour(ts) AS INT) AS hr,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
      |FROM events
      |GROUP BY dayofweek(CAST(ts AS DATE)), hour(ts)
      |ORDER BY dow, hr""".stripMargin,
    "dayofweek(CAST(ts AS DATE))" -> "dayofweek(CAST(ts AS DATE)) - 1")

  /** Cart abandonment: views with NO purchase by the same user within
    * the following 24 h — the anti-join with a time-range residual
    * (equi on the uniform user key, so one shuffle), aggregated to a
    * per-day abandonment rate.
    */
  val event_abandonment = OpQuery.sql("event_abandonment", "events")(
    """WITH views AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |abandoned AS (
      |  SELECT v.event_id, v.ts
      |  FROM views v
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM events p
      |    WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
      |      AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 24 HOUR))
      |SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |       CAST(COUNT(*) AS BIGINT) AS abandoned_views
      |FROM abandoned
      |GROUP BY CAST(ts AS DATE)
      |ORDER BY day""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  /** Growth accounting: weekly user states — new (first week ever),
    * retained (active previous week), resurrected (returned after a
    * gap) — the decomposition every growth team reports. One user-keyed
    * window (lag over active weeks) feeding a week-keyed rollup.
    */
  val event_growth_accounting = OpQuery.sql("event_growth_accounting", "events")(
    """WITH weeks AS (
      |  SELECT DISTINCT user_id,
      |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, wk,
      |         LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      |  FROM weeks)
      |SELECT CAST(wk AS BIGINT) AS wk,
      |       CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |       CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained,
      |       CAST(SUM(CASE WHEN prev_wk < wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
      |FROM flagged
      |GROUP BY wk
      |ORDER BY wk""".stripMargin,
    "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7" ->
      "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT) DIV 7")

  /** Inter-event gap statistics per user: lag the event stream once,
    * then exact-interpolated gap quartiles — the cadence profile that
    * feeds session-gap tuning. One user-keyed window plus a user-sized
    * aggregate.
    */
  val event_gap_stats = OpQuery(
    "event_gap_stats",
    """WITH gaps AS (
      |  SELECT user_id,
      |         TRUNC(epoch(ts))::BIGINT - TRUNC(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT AS gap_sec
      |  FROM events),
      |valid AS (SELECT user_id, gap_sec FROM gaps WHERE gap_sec IS NOT NULL)
      |SELECT user_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |       CAST(ROUND(quantile_cont(gap_sec, 0.5), 2) AS DOUBLE) AS median_gap_sec,
      |       CAST(MAX(gap_sec) AS BIGINT) AS max_gap_sec
      |FROM valid
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_gap_events")
    spark.sql(
      """WITH gaps AS (
        |  SELECT user_id,
        |         unix_timestamp(ts) - unix_timestamp(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_sec
        |  FROM graft_gap_events),
        |valid AS (SELECT user_id, gap_sec FROM gaps WHERE gap_sec IS NOT NULL)
        |SELECT user_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |       CAST(ROUND(percentile(gap_sec, 0.5), 2) AS DOUBLE) AS median_gap_sec,
        |       CAST(MAX(gap_sec) AS BIGINT) AS max_gap_sec
        |FROM valid
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)
  }

  /** Velocity flagging: events per user within a trailing 60-second
    * RANGE frame over integer epoch seconds — the rate-limit /
    * fraud-velocity primitive. RANGE (value-based) frames differ from
    * ROWS frames precisely when bursts share timestamps, which is what
    * the flag detects; all arithmetic integer.
    */
  val event_velocity_flags = OpQuery.sql("event_velocity_flags", "events")(
    """WITH seq AS (
      |  SELECT user_id, event_id,
      |         TRUNC(epoch(ts))::BIGINT AS t
      |  FROM events),
      |counted AS (
      |  SELECT user_id, event_id, t,
      |         COUNT(*) OVER (PARTITION BY user_id ORDER BY t
      |                        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS burst
      |  FROM seq)
      |SELECT user_id, event_id, CAST(burst AS BIGINT) AS burst
      |FROM counted
      |WHERE burst >= 3
      |ORDER BY user_id, event_id""".stripMargin,
    "TRUNC(epoch(ts))::BIGINT" -> "unix_timestamp(ts)")

  /** Composite bot score: burst velocity (≥5 events in any trailing
    * 60 s) OR error-dominated traffic (>40% errors) — signals composed
    * from exact integers; the routing filter in front of every
    * engagement metric. One user-keyed window plus one user aggregate
    * on the same shuffle key.
    */
  val event_bot_score = OpQuery.sql("event_bot_score", "events")(
    """WITH seq AS (
      |  SELECT user_id, TRUNC(epoch(ts))::BIGINT AS t FROM events),
      |counted AS (
      |  SELECT user_id,
      |         COUNT(*) OVER (PARTITION BY user_id ORDER BY t
      |                        RANGE BETWEEN 60 PRECEDING AND CURRENT ROW) AS burst
      |  FROM seq),
      |burst_per_user AS (SELECT user_id, MAX(burst) AS max_burst FROM counted GROUP BY user_id),
      |mix AS (
      |  SELECT user_id, COUNT(*) AS n,
      |         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errors
      |  FROM events GROUP BY user_id)
      |SELECT m.user_id, CAST(b.max_burst AS BIGINT) AS max_burst,
      |       CAST(m.errors AS BIGINT) AS errors, CAST(m.n AS BIGINT) AS n,
      |       CAST(b.max_burst >= 5 OR m.errors * 5 > m.n * 2 AS BOOLEAN) AS bot_suspect
      |FROM mix m JOIN burst_per_user b ON m.user_id = b.user_id
      |ORDER BY m.user_id""".stripMargin,
    "TRUNC(epoch(ts))::BIGINT" -> "unix_timestamp(ts)")

  /** Alert debouncing: an error event opens an alert only if no error
    * fired for the same user within the preceding hour — the
    * notification-suppression primitive. One lag window per user;
    * integer-second gaps.
    */
  val event_debounce = OpQuery.sql("event_debounce", "events")(
    """WITH errs AS (
      |  SELECT user_id, event_id, TRUNC(epoch(ts))::BIGINT AS t
      |  FROM events WHERE event_type = 'error'),
      |gaps AS (
      |  SELECT user_id, event_id, t,
      |         t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
      |  FROM errs)
      |SELECT user_id, event_id
      |FROM gaps
      |WHERE gap IS NULL OR gap > 3600
      |ORDER BY user_id, event_id""".stripMargin,
    "TRUNC(epoch(ts))::BIGINT" -> "unix_timestamp(ts)")

  /** Week-over-week audience overlap: for each adjacent ISO-week pair,
    * the retained / new / churned user counts and the Jaccard overlap —
    * the cohort-stability metric behind "is our audience the same
    * people?". Weekly distinct sets reduce first (small), then a
    * self-join on week+1; at scale both sides of that join are already
    * aggregates, not raw events.
    */
  val event_week_overlap = OpQuery.sql("event_week_overlap", "events")(
    """WITH wk AS (
      |  SELECT DISTINCT CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS w, user_id
      |  FROM events),
      |pairs AS (
      |  SELECT a.w AS w0,
      |         COUNT(*) FILTER (WHERE b.user_id IS NOT NULL) AS retained,
      |         COUNT(*) FILTER (WHERE b.user_id IS NULL) AS churned
      |  FROM wk a LEFT JOIN wk b ON b.w = a.w + 1 AND b.user_id = a.user_id
      |  GROUP BY a.w),
      |sizes AS (SELECT w, COUNT(*) AS n FROM wk GROUP BY w)
      |SELECT p.w0, CAST(s0.n AS BIGINT) AS n_week, CAST(s1.n AS BIGINT) AS n_next,
      |       CAST(p.retained AS BIGINT) AS retained,
      |       CAST(p.churned AS BIGINT) AS churned,
      |       CAST(s1.n - p.retained AS BIGINT) AS new_users,
      |       CAST(ROUND(CAST(p.retained AS DOUBLE) /
      |            (s0.n + s1.n - p.retained), 6) AS DOUBLE) AS jaccard
      |FROM pairs p
      |JOIN sizes s0 ON p.w0 = s0.w
      |JOIN sizes s1 ON p.w0 + 1 = s1.w
      |ORDER BY p.w0""".stripMargin,
    "epoch(" -> "unix_timestamp(")

  /** Cohort LTV curves: customers grouped by first-order year, then
    * cumulative revenue per cohort age in years — the "how fast does a
    * cohort pay back" view. First-order assignment is one min-aggregate;
    * the curve is a cumulative window over exact DECIMAL revenue.
    */
  val event_cohort_ltv = OpQuery.sql("event_cohort_ltv", "orders")(
    """WITH firsts AS (
      |  SELECT o_custkey, MIN(EXTRACT(year FROM o_orderdate)) AS cohort
      |  FROM orders GROUP BY o_custkey),
      |rev AS (
      |  SELECT f.cohort,
      |         EXTRACT(year FROM o.o_orderdate) - f.cohort AS age,
      |         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r,
      |         COUNT(DISTINCT o.o_custkey) AS buyers
      |  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      |  GROUP BY f.cohort, EXTRACT(year FROM o.o_orderdate) - f.cohort)
      |SELECT CAST(cohort AS INT) AS cohort, CAST(age AS INT) AS age,
      |       CAST(buyers AS BIGINT) AS buyers,
      |       CAST(SUM(r) OVER (PARTITION BY cohort ORDER BY age
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         AS cum_revenue
      |FROM rev
      |ORDER BY cohort, age""".stripMargin)

  /** Sequence surprise: score every user's event-type transitions under
    * the corpus bigram model and rank the most anomalous users — the
    * sequence-level outlier detector (bot/fraud smell) that per-event
    * thresholds can't see. Transition probabilities come from one
    * grouped pass; per-user mean −ln p is a quantized DECIMAL sum, and
    * add-one smoothing keeps unseen transitions finite.
    */
  val event_sequence_surprise = OpQuery.sql("event_sequence_surprise", "events")(
    """WITH seq AS (
      |  SELECT user_id, event_type AS w1,
      |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS w2
      |  FROM events),
      |trans AS (SELECT user_id, w1, w2 FROM seq WHERE w2 IS NOT NULL),
      |model AS (
      |  SELECT w1, w2, COUNT(*) AS c FROM trans GROUP BY w1, w2),
      |marg AS (SELECT w1, SUM(c) AS t FROM model GROUP BY w1),
      |probs AS (
      |  SELECT m.w1, m.w2,
      |         CAST(m.c + 1 AS DOUBLE) / (mg.t + 25) AS p
      |  FROM model m JOIN marg mg ON m.w1 = mg.w1),
      |scored AS (
      |  SELECT t.user_id,
      |         CAST(ROUND(-ln(p.p), 12) AS DECIMAL(28,12)) AS nll
      |  FROM trans t JOIN probs p ON t.w1 = p.w1 AND t.w2 = p.w2)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
      |       CAST(ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
      |         AS mean_surprise
      |FROM scored
      |GROUP BY user_id
      |ORDER BY mean_surprise DESC, user_id
      |LIMIT 20""".stripMargin)

  /** Audience overlap matrix: for every event-type pair, the shared
    * distinct-user count and Jaccard — "do purchasers also click?".
    * The per-type distinct sets reduce first (tiny), then one
    * self-join; at 100 TB the join sides are aggregates, never raw
    * events.
    */
  val event_audience_overlap = OpQuery.sql("event_audience_overlap", "events")(
    """WITH au AS (SELECT DISTINCT event_type, user_id FROM events),
      |sizes AS (SELECT event_type, COUNT(*) AS n FROM au GROUP BY event_type),
      |shared AS (
      |  SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS both_users
      |  FROM au a JOIN au b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY a.event_type, b.event_type)
      |SELECT s.t1, s.t2, CAST(s.both_users AS BIGINT) AS shared_users,
      |       CAST(n1.n AS BIGINT) AS n_t1, CAST(n2.n AS BIGINT) AS n_t2,
      |       CAST(ROUND(CAST(s.both_users AS DOUBLE) /
      |            (n1.n + n2.n - s.both_users), 6) AS DOUBLE) AS jaccard
      |FROM shared s
      |JOIN sizes n1 ON s.t1 = n1.event_type
      |JOIN sizes n2 ON s.t2 = n2.event_type
      |ORDER BY s.t1, s.t2""".stripMargin)

  /** Exponential retention decay: the share of users still active k
    * days after their first event, fitted as ln(share) = a + b·k by
    * least squares — the half-life number a growth team quotes. All
    * shares come from integer counts; the fit runs over quantized ln
    * terms.
    */
  val event_retention_curve = OpQuery.sql("event_retention_curve", "events")(
    """WITH firsts AS (
      |  SELECT user_id, MIN(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) AS d0
      |  FROM events GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT e.user_id,
      |         CAST(FLOOR(epoch(e.ts) / 86400) AS BIGINT) - f.d0 AS age
      |  FROM events e JOIN firsts f ON e.user_id = f.user_id),
      |pop AS (SELECT COUNT(*) AS n FROM firsts),
      |curve AS (
      |  SELECT age, COUNT(*) AS active FROM activity
      |  WHERE age BETWEEN 1 AND 14 GROUP BY age),
      |terms AS (
      |  SELECT CAST(c.age AS DOUBLE) AS x,
      |         ln(CAST(c.active AS DOUBLE) / p.n) AS y
      |  FROM curve c CROSS JOIN pop p),
      |fit AS (
      |  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM terms)
      |SELECT CAST(k AS BIGINT) AS n_ages,
      |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
      |         AS decay_slope,
      |       CAST(ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
      |            AS DOUBLE) AS intercept
      |FROM fit""".stripMargin,
    "epoch(" -> "unix_timestamp(")

  /** Strictly-ordered funnel view→click→purchase: a user advances a step
    * only with an event AFTER their previous step's first qualifying
    * event. Each stage is one filtered groupBy-min plus one equi-join on
    * user_id — the funnel never materializes per-user event lists, so it
    * holds at any event volume (all three stages shuffle on user_id and
    * AQE broadcasts the shrinking stage frames). Single-row stage counts
    * are cross-joined lazily — no driver-side count() loop.
    */
  val event_funnel = OpQuery(
    "event_funnel",
    """WITH v AS (SELECT user_id, MIN(ts) AS t0 FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.ts) AS t1 FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1),
      |n AS (SELECT (SELECT COUNT(*) FROM v) AS nv,
      |             (SELECT COUNT(*) FROM c) AS nc,
      |             (SELECT COUNT(*) FROM p) AS np)
      |SELECT CAST(step AS INT) AS step, event,
      |       CAST(users AS BIGINT) AS users,
      |       CAST(ROUND(conv_prev, 6) AS DOUBLE) AS conv_from_prev,
      |       CAST(ROUND(conv_start, 6) AS DOUBLE) AS conv_from_start
      |FROM (
      |  SELECT 1 AS step, 'view' AS event, nv AS users,
      |         1.0 AS conv_prev, 1.0 AS conv_start FROM n
      |  UNION ALL
      |  SELECT 2, 'click', nc, nc * 1.0 / nv, nc * 1.0 / nv FROM n
      |  UNION ALL
      |  SELECT 3, 'purchase', np, np * 1.0 / nc, np * 1.0 / nv FROM n
      |) ORDER BY step""".stripMargin) { (spark, dir) =>
    val ev = t(spark, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t0"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t0"))
      .groupBy("user_id").agg(min("ts").as("t1"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val n = v.agg(count(lit(1)).as("nv"))
      .crossJoin(c.agg(count(lit(1)).as("nc")))
      .crossJoin(p.agg(count(lit(1)).as("np")))
    n.select(lit(1).as("step"), lit("view").as("event"),
        col("nv").cast("long").as("users"),
        lit(1.0).as("conv_from_prev"), lit(1.0).as("conv_from_start"))
      .unionAll(n.select(lit(2), lit("click"), col("nc").cast("long"),
        round(col("nc") * lit(1.0) / col("nv"), 6),
        round(col("nc") * lit(1.0) / col("nv"), 6)))
      .unionAll(n.select(lit(3), lit("purchase"), col("np").cast("long"),
        round(col("np") * lit(1.0) / col("nc"), 6),
        round(col("np") * lit(1.0) / col("nv"), 6)))
      .orderBy("step")
  }

  /** Weekly stickiness: mean daily active users ÷ weekly active users
    * per ISO week (Monday truncation in both engines). The (day, user)
    * dedup happens once; DAU and WAU are two aggregations over it — the
    * engagement ratio product analytics watches weekly.
    */
  val event_stickiness = OpQuery(
    "event_stickiness",
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, user_id FROM events GROUP BY 1, 2
      |), daily AS (
      |  SELECT day, COUNT(*) AS dau FROM d GROUP BY 1
      |), weekly AS (
      |  SELECT CAST(date_trunc('week', day) AS DATE) AS wk,
      |         COUNT(DISTINCT user_id) AS wau
      |  FROM d GROUP BY 1
      |), adau AS (
      |  SELECT CAST(date_trunc('week', day) AS DATE) AS wk,
      |         AVG(dau * 1.0) AS mean_dau, COUNT(*) AS n_days
      |  FROM daily GROUP BY 1
      |)
      |SELECT strftime(a.wk, '%Y-%m-%d') AS week_start,
      |       CAST(a.n_days AS BIGINT) AS n_days,
      |       CAST(ROUND(a.mean_dau, 6) AS DOUBLE) AS mean_dau,
      |       CAST(w.wau AS BIGINT) AS wau,
      |       CAST(ROUND(a.mean_dau / w.wau, 6) AS DOUBLE) AS stickiness
      |FROM adau a JOIN weekly w ON a.wk = w.wk
      |ORDER BY week_start""".stripMargin) { (spark, dir) =>
    val d = t(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val daily = d.groupBy("day").agg(count(lit(1)).as("dau"))
    val weekly = d.groupBy(date_trunc("week", col("day")).cast("date").as("wk"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val adau = daily
      .groupBy(date_trunc("week", col("day")).cast("date").as("wk"))
      .agg(avg(col("dau") * lit(1.0)).as("mean_dau"),
        count(lit(1)).as("n_days"))
    adau.join(weekly, "wk")
      .select(date_format(col("wk"), "yyyy-MM-dd").as("week_start"),
        col("n_days").cast("long").as("n_days"),
        round(col("mean_dau"), 6).cast("double").as("mean_dau"),
        col("wau").cast("long").as("wau"),
        round(col("mean_dau") / col("wau"), 6).cast("double").as("stickiness"))
      .orderBy("week_start")
  }

  /** Exact Shapley attribution over the four touch channels (view,
    * click, signup, error): each user's coalition is the bitmask of
    * channels they touched, v(S) is the observed conversion rate
    * (purchase) of users with exactly coalition S (unobserved
    * coalitions contribute v = 0 — pinned), and each channel's Shapley
    * value enumerates all 8 marginal contributions with exact
    * factorial weights. The data-sized work is ONE groupBy(user) +
    * ONE groupBy(mask); the 16-coalition Shapley sum is constant-time.
    */
  val event_shapley = OpQuery.sql("event_shapley", "events")(
    """WITH u AS (
      |  SELECT user_id,
      |         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |         + 2 * MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |         + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      |         + 8 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |           AS mask,
      |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id),
      |co AS (
      |  SELECT mask, COUNT(*) AS n, SUM(conv) AS k FROM u GROUP BY mask),
      |masks AS (SELECT unnest(generate_series(0, 15)) AS m),
      |v AS (
      |  SELECT masks.m,
      |         COALESCE(CAST(co.k AS DOUBLE) / co.n, 0) AS v
      |  FROM masks LEFT JOIN co ON co.mask = masks.m),
      |ch AS (SELECT * FROM (VALUES (0, 1), (1, 2), (2, 4), (3, 8)) t(c, b)),
      |terms AS (
      |  SELECT ch.c, s.m AS sm,
      |         CASE bit_count(CAST(s.m AS BIGINT))
      |           WHEN 0 THEN 0.25 WHEN 3 THEN 0.25
      |           ELSE CAST(1 AS DOUBLE) / 12 END AS w,
      |         vs1.v - vs0.v AS marginal
      |  FROM ch
      |  JOIN v s ON (CAST(s.m AS BIGINT) & ch.b) = 0
      |  JOIN v vs0 ON vs0.m = s.m
      |  JOIN v vs1 ON vs1.m = s.m + ch.b),
      |shap AS (
      |  SELECT c,
      |         CAST(SUM(CAST(ROUND(w * marginal, 10) AS DECIMAL(28,10)))
      |           AS DOUBLE) AS phi
      |  FROM terms GROUP BY c)
      |SELECT CASE c WHEN 0 THEN 'view' WHEN 1 THEN 'click'
      |              WHEN 2 THEN 'signup' ELSE 'error' END AS channel,
      |       CAST(ROUND(phi, 8) AS DOUBLE) AS shapley_value
      |FROM shap
      |ORDER BY channel""".stripMargin,
    "unnest(generate_series(0, 15))" -> "explode(sequence(0, 15))")

  /** Inter-arrival analysis of the event stream: per-user gaps in
    * EXACT microseconds (epoch arithmetic on the raw timestamps), the
    * exponential rate fit λ = 1/mean, the coefficient of variation
    * (CV ≈ 1 ⇒ Poisson arrivals, > 1 ⇒ bursty), and the KS distance of
    * the observed gaps from Exp(λ). Moments are exact DECIMAL sums of
    * integer microseconds.
    */
  val event_interarrival = OpQuery(
    "event_interarrival",
    """WITH g AS (
      |  SELECT CAST(epoch_us(ts) - LAG(epoch_us(ts))
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
      |           AS gap
      |  FROM events),
      |v AS (SELECT gap FROM g WHERE gap IS NOT NULL AND gap > 0),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(CAST(gap AS DECIMAL(28,0))) AS s1,
      |         SUM(CAST(gap AS DECIMAL(28,0)) * gap) AS s2
      |  FROM v),
      |fit AS (
      |  SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
      |         SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
      |           AS sd
      |  FROM m),
      |ks AS (
      |  SELECT MAX(ROUND(GREATEST(
      |           CAST(r AS DOUBLE) / u.n - (1 - EXP(-x / fit.mean)),
      |           (1 - EXP(-x / fit.mean)) - CAST(r - 1 AS DOUBLE) / u.n), 8))
      |           AS d
      |  FROM (
      |    SELECT CAST(gap AS DOUBLE) AS x,
      |           ROW_NUMBER() OVER (ORDER BY gap) AS r,
      |           COUNT(*) OVER () AS n
      |    FROM v) u CROSS JOIN fit)
      |SELECT CAST(fit.n AS BIGINT) AS n_gaps,
      |       CAST(ROUND(fit.mean / 1000000, 4) AS DOUBLE) AS mean_gap_sec,
      |       CAST(ROUND(1000000 / fit.mean, 6) AS DOUBLE) AS rate_per_sec,
      |       CAST(ROUND(fit.sd / fit.mean, 6) AS DOUBLE) AS cv,
      |       CAST(ks.d AS DOUBLE) AS ks_d_vs_exp
      |FROM fit CROSS JOIN ks""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_ia_events")
    // the ECDF rank of every gap via TotalOrder two-phase ranks (the
    // per-user LAG stays a PARTITIONED window — that one scales); only
    // the partition-less global rank moved off the single reducer
    graft.operators.TotalOrder
      .rowNumberWithCount(
        spark.sql(
          """WITH g AS (
            |  SELECT CAST(unix_micros(ts) - LAG(unix_micros(ts))
            |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
            |           AS gap
            |  FROM graft_ia_events)
            |SELECT gap FROM g WHERE gap IS NOT NULL AND gap > 0""".stripMargin),
        Seq(org.apache.spark.sql.functions.col("gap")), "r", "n")
      .selectExpr("CAST(gap AS DOUBLE) AS x", "r", "n")
      .createOrReplaceTempView("graft_ia_u")
    spark.sql(
      """WITH g AS (
        |  SELECT CAST(unix_micros(ts) - LAG(unix_micros(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
        |           AS gap
        |  FROM graft_ia_events),
        |v AS (SELECT gap FROM g WHERE gap IS NOT NULL AND gap > 0),
        |m AS (
        |  SELECT COUNT(*) AS n, SUM(CAST(gap AS DECIMAL(28,0))) AS s1,
        |         SUM(CAST(gap AS DECIMAL(28,0)) * gap) AS s2
        |  FROM v),
        |fit AS (
        |  SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
        |         SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
        |           AS sd
        |  FROM m),
        |ks AS (
        |  SELECT MAX(ROUND(GREATEST(
        |           CAST(r AS DOUBLE) / u.n - (1 - EXP(-x / fit.mean)),
        |           (1 - EXP(-x / fit.mean)) - CAST(r - 1 AS DOUBLE) / u.n), 8))
        |           AS d
        |  FROM graft_ia_u u CROSS JOIN fit)
        |SELECT CAST(fit.n AS BIGINT) AS n_gaps,
        |       CAST(ROUND(fit.mean / 1000000, 4) AS DOUBLE) AS mean_gap_sec,
        |       CAST(ROUND(1000000 / fit.mean, 6) AS DOUBLE) AS rate_per_sec,
        |       CAST(ROUND(fit.sd / fit.mean, 6) AS DOUBLE) AS cv,
        |       CAST(ks.d AS DOUBLE) AS ks_d_vs_exp
        |FROM fit CROSS JOIN ks""".stripMargin)
  }

  /** windowFunnel semantics: per user, the deepest strictly-ordered
    * view → click → purchase chain whose LAST step lands within one
    * hour of the chain's FIRST view. Each depth is an EXISTS over
    * user-keyed equi self-joins (per-user event counts bound the
    * fan-out, so the join never goes quadratic in users), and the
    * funnel report is one conditional aggregate: users at depth ≥ k
    * and the step-to-step conversion. The session-window analytics
    * ClickHouse ships as a builtin, as three joins.
    */
  val event_window_funnel = OpQuery.sql("event_window_funnel", "events")(
    """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |l2 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM v JOIN c ON c.user_id = v.user_id
      |   AND c.ts > v.ts AND epoch(c.ts) - epoch(v.ts) <= 3600),
      |l3 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM v
      |  JOIN c ON c.user_id = v.user_id AND c.ts > v.ts
      |  JOIN p ON p.user_id = v.user_id AND p.ts > c.ts
      |   AND epoch(p.ts) - epoch(v.ts) <= 3600),
      |counts AS (
      |  SELECT (SELECT COUNT(DISTINCT user_id) FROM v) AS d1,
      |         (SELECT COUNT(*) FROM l2) AS d2,
      |         (SELECT COUNT(*) FROM l3) AS d3)
      |SELECT CAST(d1 AS BIGINT) AS depth1_users,
      |       CAST(d2 AS BIGINT) AS depth2_users,
      |       CAST(d3 AS BIGINT) AS depth3_users,
      |       CAST(ROUND(CAST(d2 AS DOUBLE) / d1, 6) AS DOUBLE) AS conv_1_2,
      |       CAST(ROUND(CAST(d3 AS DOUBLE) / d2, 6) AS DOUBLE) AS conv_2_3
      |FROM counts""".stripMargin,
    "epoch(" -> "unix_timestamp(")

  val all: Seq[OpQuery] = Seq(
    funnel_analysis, cohort_retention, event_transitions, user_sequences,
    rfm_segmentation, event_dau_wau, event_attribution, event_time_to_convert,
    event_new_returning, event_heatmap, event_abandonment,
    event_growth_accounting, event_gap_stats, event_velocity_flags,
    event_bot_score, event_debounce, event_week_overlap, event_cohort_ltv,
    event_sequence_surprise, event_audience_overlap, event_retention_curve,
    event_funnel, event_stickiness, event_shapley, event_interarrival,
    event_window_funnel)
}
