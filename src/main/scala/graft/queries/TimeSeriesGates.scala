package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Freeze, Intervals, TimeSeries, TotalOrder}

/** Time-series operators: gap filling, rolling and exponential
  * smoothing, decomposition, change-point and anomaly detection,
  * trend tests and forecasting recurrences.
  */
object TimeSeriesGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Daily resample + forward fill over the event stream —
    * [[TimeSeries.resampleDailyFfill]], oracled by generate_series +
    * `last_value(... IGNORE NULLS)`. Values pass through DECIMAL(18,2)
    * before the sum so both engines aggregate exactly.
    */
  val ts_gapfill = OpQuery(
    "ts_gapfill",
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1
      |), spine AS (
      |  SELECT user_id, CAST(u.d AS DATE) AS d
      |  FROM span, unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)
      |), j AS (
      |  SELECT s.user_id, s.d, daily.v
      |  FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
      |)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
      |       CAST(v AS DOUBLE) AS v,
      |       CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_ffill,
      |       v IS NULL AS is_gap
      |FROM j
      |ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    val daily = t(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("v"))
    TimeSeries.resampleDailyFfill(daily, "user_id", "d", "v")
      .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("v").cast("double").as("v"),
        col("v_ffill").cast("double").as("v_ffill"), col("is_gap"))
      .orderBy(col("user_id"), col("day"))
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

  /** Exact integer z-score anomaly detection
    * ([[TimeSeries.integerZScoreAnomalies]]): daily per-user totals in
    * cents tested against the trailing 7 days, the whole test in BIGINT
    * arithmetic so the flag is bit-reproducible in both engines (no
    * floating-point variance). 212 anomalies at sf0.01.
    */
  val ts_anomaly = OpQuery(
    "ts_anomaly",
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |         CAST(TRUNC(SUM(CAST(value AS DECIMAL(18,2))) * 100) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT user_id, d, vc,
      |    CAST(COUNT(vc) OVER pw AS BIGINT) AS n,
      |    CAST(COALESCE(SUM(vc) OVER pw, 0) AS BIGINT) AS s1,
      |    CAST(COALESCE(SUM(vc*vc) OVER pw, 0) AS BIGINT) AS s2
      |  FROM daily
      |  WINDOW pw AS (PARTITION BY user_id ORDER BY d
      |                RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND INTERVAL 1 DAYS PRECEDING)
      |)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day, vc AS v_cents, n AS n_prev,
      |       (n >= 3 AND (vc*n - s1)*(vc*n - s1)*(n-1) > 9*n*(n*s2 - s1*s1)) AS is_anomaly
      |FROM w ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    val daily = t(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("vc"))
    TimeSeries.integerZScoreAnomalies(daily, "user_id", "d", "vc",
        lookbackDays = 7, minPrevDays = 3, zThreshold = 3)
      .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("vc").as("v_cents"), col("n_prev"), col("is_anomaly"))
      .orderBy(col("user_id"), col("day"))
  }

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

  /** Orders in flight per day ([[Intervals.dailyActive]]): an order is
    * open from its order date until its last line-item ship date. The
    * oracle states the same question as the NAIVE day×interval join —
    * proving sweep-line ≡ exhaustive — while the Spark side runs the
    * boundary-event plan (one uniform shuffle + a day-sized prefix sum).
    */
  val ts_active_intervals = OpQuery(
    "ts_active_intervals",
    """WITH iv AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0,
      |         MAX(CAST(l_shipdate AS DATE)) AS d1
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2
      |), span AS (
      |  SELECT MIN(d0) AS lo, MAX(d1) AS hi FROM iv
      |), days AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM span
      |)
      |SELECT strftime(days.d, '%Y-%m-%d') AS day,
      |       CAST(COUNT(iv.o_orderkey) AS BIGINT) AS n_active
      |FROM days LEFT JOIN iv ON days.d BETWEEN iv.d0 AND iv.d1
      |GROUP BY days.d
      |ORDER BY day""".stripMargin) { (spark, dir) =>
    val iv = t(spark, dir, "orders")
      .join(t(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("d0"))
      .agg(max(to_date(col("l_shipdate"))).as("d1"))
    Intervals.dailyActive(iv, "d0", "d1")
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("n_active"))
      .orderBy(col("day"))
  }

  /** Gaps-and-islands: per-user consecutive-active-day streaks. The
    * classic (day_index - row_number) island key needs only ONE shuffle
    * (by user) shared by the window and both aggregations — no
    * self-join, no per-day driver loop; at 100 TB the shuffle key is
    * the uniform user id.
    */
  val ts_islands = OpQuery.sql("ts_islands", "events")(
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |idx AS (
      |  SELECT user_id, d,
      |         date_diff('day', DATE '2024-01-01', d)
      |           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS island
      |  FROM days),
      |streaks AS (
      |  SELECT user_id, island, COUNT(*) AS len FROM idx GROUP BY user_id, island)
      |SELECT user_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |       CAST(MAX(len) AS BIGINT) AS max_streak,
      |       CAST(SUM(len) AS BIGINT) AS active_days
      |FROM streaks
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin,
    "date_diff('day', DATE '2024-01-01', d)" ->
      "CAST(datediff(d, DATE '2024-01-01') AS BIGINT)")

  /** CUSUM changepoint detection per event type, entirely in integer
    * arithmetic: with daily counts c_i, total T over N days, the scaled
    * cumulative sum Σ(c_i·N − T) needs no float mean and is bit-exact on
    * both engines; its extremum marks the day the rate regime shifts.
    * One window per event type over day-sized partitions.
    */
  val ts_cusum = OpQuery.sql("ts_cusum", "events")(
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |tot AS (
      |  SELECT event_type, SUM(c) AS t, COUNT(*) AS nd FROM daily GROUP BY event_type),
      |cus AS (
      |  SELECT daily.event_type, daily.d,
      |         SUM(daily.c * tot.nd - tot.t)
      |           OVER (PARTITION BY daily.event_type ORDER BY daily.d) AS cusum
      |  FROM daily JOIN tot ON daily.event_type = tot.event_type),
      |ranked AS (
      |  SELECT event_type, d, cusum,
      |         ROW_NUMBER() OVER (PARTITION BY event_type
      |           ORDER BY abs(cusum) DESC, d) AS rn
      |  FROM cus)
      |SELECT event_type, strftime(d, '%Y-%m-%d') AS changepoint_day,
      |       CAST(cusum AS BIGINT) AS peak_cusum
      |FROM ranked WHERE rn = 1
      |ORDER BY event_type""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  /** Classical seasonal decomposition of the daily purchase series:
    * day-of-week seasonal means, centered 7-day moving-average trend,
    * residual. Sums stay BIGINT until the shared divisions; the single
    * shuffle is the daily aggregate (the decomposition itself is one
    * day-ordered window + one broadcast-sized dow join).
    */
  val ts_seasonal_decompose = OpQuery(
    "ts_seasonal_decompose",
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)),
      |dows AS (
      |  SELECT dayofweek(d) AS dow, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS seasonal
      |  FROM daily GROUP BY dayofweek(d)),
      |mean AS (SELECT CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu FROM daily),
      |trended AS (
      |  SELECT d, c,
      |         CAST(SUM(c) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE)
      |           / COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      |  FROM daily)
      |SELECT strftime(t.d, '%Y-%m-%d') AS day, CAST(t.c AS BIGINT) AS c,
      |       CAST(ROUND(s.seasonal - mean.mu, 4) AS DOUBLE) AS seasonal_component,
      |       CAST(ROUND(t.trend, 4) AS DOUBLE) AS trend,
      |       CAST(ROUND(t.c - t.trend - (s.seasonal - mean.mu), 4) AS DOUBLE) AS residual
      |FROM trended t JOIN dows s ON dayofweek(t.d) = s.dow CROSS JOIN mean
      |ORDER BY t.d""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_season_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c
        |  FROM graft_season_events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)),
        |dows AS (
        |  SELECT dayofweek(d) - 1 AS dow, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS seasonal
        |  FROM daily GROUP BY dayofweek(d) - 1),
        |mean AS (SELECT CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu FROM daily),
        |trended AS (
        |  SELECT d, c,
        |         CAST(SUM(c) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE)
        |           / COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
        |  FROM daily)
        |SELECT date_format(t.d, 'yyyy-MM-dd') AS day, CAST(t.c AS BIGINT) AS c,
        |       CAST(ROUND(s.seasonal - mean.mu, 4) AS DOUBLE) AS seasonal_component,
        |       CAST(ROUND(t.trend, 4) AS DOUBLE) AS trend,
        |       CAST(ROUND(t.c - t.trend - (s.seasonal - mean.mu), 4) AS DOUBLE) AS residual
        |FROM trended t JOIN dows s ON dayofweek(t.d) - 1 = s.dow CROSS JOIN mean
        |ORDER BY t.d""".stripMargin)
  }

  /** EWMA with half-life 1 day over an 8-day horizon, written as eight
    * lag terms with dyadic weights (2⁻ᵏ): every term is an integer
    * scaled by a power of two within double's mantissa, so the smoothed
    * value is BIT-EXACT — no accumulation-order variance, no rounding
    * tolerance needed. One day-ordered window partition-wide.
    */
  val ts_ewma = OpQuery.sql("ts_ewma", "events")(
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)),
      |w AS (
      |  SELECT d, cents,
      |         cents
      |         + coalesce(lag(cents, 1) OVER (ORDER BY d), 0) * 0.5
      |         + coalesce(lag(cents, 2) OVER (ORDER BY d), 0) * 0.25
      |         + coalesce(lag(cents, 3) OVER (ORDER BY d), 0) * 0.125
      |         + coalesce(lag(cents, 4) OVER (ORDER BY d), 0) * 0.0625
      |         + coalesce(lag(cents, 5) OVER (ORDER BY d), 0) * 0.03125
      |         + coalesce(lag(cents, 6) OVER (ORDER BY d), 0) * 0.015625
      |         + coalesce(lag(cents, 7) OVER (ORDER BY d), 0) * 0.0078125 AS ewma
      |  FROM daily)
      |SELECT strftime(d, '%Y-%m-%d') AS day, CAST(cents AS BIGINT) AS cents,
      |       CAST(ewma AS DOUBLE) AS ewma_cents
      |FROM w
      |ORDER BY d""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  /** Lag-k autocorrelation (k = 1..7) of the daily event series from
    * exact integer cross-moments: r_k = (n·Σxy − Σx·Σy) /
    * √(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²) where every Σ is a BIGINT over the
    * lag-joined day pairs — engines share the one float expression.
    * The weekly seasonality planted by dow effects shows up as an r_7
    * peak.
    */
  val ts_autocorr = OpQuery(
    "ts_autocorr",
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM events GROUP BY CAST(ts AS DATE)),
      |lagged AS (
      |  SELECT k.k, a.c AS x, b.c AS y
      |  FROM daily a
      |  JOIN (SELECT unnest(generate_series(1, 7)) AS k) k ON true
      |  JOIN daily b ON b.d = a.d + CAST(k.k AS INT) * INTERVAL 1 DAY),
      |m AS (
      |  SELECT k, COUNT(*) AS n,
      |         SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM lagged GROUP BY k)
      |SELECT CAST(k AS INT) AS lag_days, CAST(n AS BIGINT) AS n_pairs,
      |       CAST(ROUND((n * sxy - sx * sy) /
      |            (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |             sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS DOUBLE) AS autocorr
      |FROM m
      |ORDER BY lag_days""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_ac_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM graft_ac_events GROUP BY CAST(ts AS DATE)),
        |lagged AS (
        |  SELECT k.k, a.c AS x, b.c AS y
        |  FROM daily a
        |  JOIN (SELECT explode(sequence(1, 7)) AS k) k ON true
        |  JOIN daily b ON b.d = date_add(a.d, k.k)),
        |m AS (
        |  SELECT k, COUNT(*) AS n,
        |         SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM lagged GROUP BY k)
        |SELECT CAST(k AS INT) AS lag_days, CAST(n AS BIGINT) AS n_pairs,
        |       CAST(ROUND((n * sxy - sx * sy) /
        |            (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |             sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS DOUBLE) AS autocorr
        |FROM m
        |ORDER BY lag_days""".stripMargin)
  }

  /** Rolling-fence outlier detection (Hampel-style with IQR fences):
    * centered 7-day rolling median and quartiles per event type, flag
    * days outside median ± 3·IQR. Window quantiles over integer counts
    * interpolate identically on both engines; one event-type-keyed
    * window carries all three quantiles.
    */
  val ts_hampel = OpQuery(
    "ts_hampel",
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |fenced AS (
      |  SELECT event_type, d, c,
      |         quantile_cont(c, 0.5) OVER w AS med,
      |         quantile_cont(c, 0.75) OVER w - quantile_cont(c, 0.25) OVER w AS iqr
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
      |SELECT event_type, strftime(d, '%Y-%m-%d') AS day, CAST(c AS BIGINT) AS c,
      |       CAST(ROUND(med, 2) AS DOUBLE) AS rolling_median,
      |       CAST(ROUND(iqr, 2) AS DOUBLE) AS rolling_iqr
      |FROM fenced
      |WHERE abs(c - med) > 3 * iqr AND iqr > 0
      |ORDER BY event_type, day""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_hampel_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
        |  FROM graft_hampel_events GROUP BY event_type, CAST(ts AS DATE)),
        |fenced AS (
        |  SELECT event_type, d, c,
        |         percentile(c, 0.5) OVER w AS med,
        |         percentile(c, 0.75) OVER w - percentile(c, 0.25) OVER w AS iqr
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        |SELECT event_type, date_format(d, 'yyyy-MM-dd') AS day, CAST(c AS BIGINT) AS c,
        |       CAST(ROUND(med, 2) AS DOUBLE) AS rolling_median,
        |       CAST(ROUND(iqr, 2) AS DOUBLE) AS rolling_iqr
        |FROM fenced
        |WHERE abs(c - med) > 3 * iqr AND iqr > 0
        |ORDER BY event_type, day""".stripMargin)
  }

  /** Seasonal-naive forecast with walk-forward backtest: predict each of
    * the last 14 days as the same weekday one week earlier, score with
    * integer absolute errors — the baseline every forecasting system
    * must beat, and the backtest join is one lag self-join on the day
    * spine.
    */
  val ts_forecast_snaive = OpQuery(
    "ts_forecast_snaive",
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM events GROUP BY CAST(ts AS DATE)),
      |hi AS (SELECT MAX(d) AS mx FROM daily),
      |scored AS (
      |  SELECT cur.d, cur.c AS actual, prev.c AS forecast,
      |         abs(cur.c - prev.c) AS abs_err
      |  FROM daily cur JOIN daily prev ON prev.d = cur.d - INTERVAL 7 DAY
      |  CROSS JOIN hi
      |  WHERE cur.d > hi.mx - INTERVAL 14 DAY)
      |SELECT strftime(d, '%Y-%m-%d') AS day,
      |       CAST(actual AS BIGINT) AS actual,
      |       CAST(forecast AS BIGINT) AS forecast,
      |       CAST(abs_err AS BIGINT) AS abs_err,
      |       CAST(SUM(abs_err) OVER () AS BIGINT) AS total_abs_err
      |FROM scored
      |ORDER BY d""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_sn_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM graft_sn_events GROUP BY CAST(ts AS DATE)),
        |hi AS (SELECT MAX(d) AS mx FROM daily),
        |scored AS (
        |  SELECT cur.d, cur.c AS actual, prev.c AS forecast,
        |         abs(cur.c - prev.c) AS abs_err
        |  FROM daily cur JOIN daily prev ON prev.d = date_sub(cur.d, 7)
        |  CROSS JOIN hi
        |  WHERE cur.d > date_sub(hi.mx, 14))
        |SELECT date_format(d, 'yyyy-MM-dd') AS day,
        |       CAST(actual AS BIGINT) AS actual,
        |       CAST(forecast AS BIGINT) AS forecast,
        |       CAST(abs_err AS BIGINT) AS abs_err,
        |       CAST(SUM(abs_err) OVER () AS BIGINT) AS total_abs_err
        |FROM scored
        |ORDER BY d""".stripMargin)
  }

  /** Time-weighted average purchase value per user-day (TWAP): each
    * value holds until the next event, weights are exact integer
    * seconds, the final division is the only float op. One user-keyed
    * lead window; the day rollup reuses the same shuffle.
    */
  val ts_twap = OpQuery(
    "ts_twap",
    """WITH seq AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |         CAST(ROUND(value * 100) AS BIGINT) AS cents,
      |         TRUNC(epoch(ts))::BIGINT AS t,
      |         TRUNC(epoch(LEAD(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                                    ORDER BY ts, event_id)))::BIGINT AS t_next
      |  FROM events WHERE event_type = 'purchase'),
      |weighted AS (
      |  SELECT user_id, d, cents, t_next - t AS w
      |  FROM seq WHERE t_next IS NOT NULL AND t_next > t)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
      |       CAST(SUM(w) AS BIGINT) AS total_weight_sec,
      |       CAST(ROUND(CAST(SUM(cents * w) AS DOUBLE) / SUM(w), 4) AS DOUBLE) AS twap_cents
      |FROM weighted
      |GROUP BY user_id, d
      |ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_twap_events")
    spark.sql(
      """WITH seq AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |         unix_timestamp(ts) AS t,
        |         unix_timestamp(LEAD(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                                       ORDER BY ts, event_id)) AS t_next
        |  FROM graft_twap_events WHERE event_type = 'purchase'),
        |weighted AS (
        |  SELECT user_id, d, cents, t_next - t AS w
        |  FROM seq WHERE t_next IS NOT NULL AND t_next > t)
        |SELECT user_id, date_format(d, 'yyyy-MM-dd') AS day,
        |       CAST(SUM(w) AS BIGINT) AS total_weight_sec,
        |       CAST(ROUND(CAST(SUM(cents * w) AS DOUBLE) / SUM(w), 4) AS DOUBLE) AS twap_cents
        |FROM weighted
        |GROUP BY user_id, d
        |ORDER BY user_id, day""".stripMargin)
  }

  /** Maximum drawdown of each user's cumulative purchase balance —
    * running peak minus current, all in integer cents (the quant risk
    * metric, exact by construction). Two windows on one user
    * partitioning: cumulative sum, then running max over it.
    */
  val ts_drawdown = OpQuery.sql("ts_drawdown", "events")(
    """WITH ledger AS (
      |  SELECT user_id, event_id, ts,
      |         SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value * 100) AS BIGINT)
      |                  ELSE -CAST(ROUND(value * 100) AS BIGINT) END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
      |  FROM events WHERE event_type IN ('purchase', 'error')),
      |dd AS (
      |  SELECT user_id,
      |         MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bal AS drawdown
      |  FROM ledger)
      |SELECT user_id, CAST(MAX(drawdown) AS BIGINT) AS max_drawdown_cents
      |FROM dd
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin)

  /** Mann-Kendall trend test: S = Σ sign(c_j − c_i) over all day pairs
    * (j > i) — the nonparametric "is there a monotone trend" statistic,
    * entirely in integers (no distribution assumptions, no floats).
    * Quadratic in DAYS (365² pairs at any corpus size) — the day
    * aggregate runs first, so the pair join is dimension-scale.
    */
  val ts_mann_kendall = OpQuery.sql("ts_mann_kendall", "events")(
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)),
      |pairs AS (
      |  SELECT CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
      |  FROM daily a JOIN daily b ON b.d > a.d)
      |SELECT CAST(SUM(sgn) AS BIGINT) AS mk_s,
      |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |       CAST(SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties
      |FROM pairs""".stripMargin)

  /** OHLC bars: the classic tick→bar downsample — per (event_type, day)
    * the first/highest/lowest/last `value` plus tick volume. Open and
    * close are deterministic picks ordered by (ts, event_id), so every
    * output is an existing double from the scan (no float arithmetic to
    * drift). One shuffle on the bar key; the windows reuse the same
    * partitioning as the final aggregation.
    */
  val ts_ohlc = OpQuery(
    "ts_ohlc",
    """WITH ticks AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, value,
      |         ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
      |           ORDER BY ts, event_id) AS rn_a,
      |         ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
      |           ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT event_type, CAST(day AS VARCHAR) AS day,
      |       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |       MAX(value) AS high, MIN(value) AS low,
      |       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |       CAST(COUNT(*) AS BIGINT) AS volume
      |FROM ticks
      |GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin) { (spark, dir) =>
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("value"))
    val asc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val desc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("event_type"), col("day").cast("string").as("day"))
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).cast("long").as("volume"))
      .orderBy("event_type", "day")
  }

  /** Local-maxima peak detection: a purchase tick strictly above both
    * neighbors in its user-independent per-type sequence. Lag/lead over
    * one shuffle on event_type; no self-join — at 100 TB this stays one
    * window pass per partition.
    */
  val ts_peaks = OpQuery(
    "ts_peaks",
    """WITH seq AS (
      |  SELECT event_type, event_id, value,
      |         TRUNC(epoch(ts))::BIGINT AS t,
      |         LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev,
      |         LEAD(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next
      |  FROM events WHERE event_type = 'purchase')
      |SELECT event_type, event_id, t, value
      |FROM seq
      |WHERE prev IS NOT NULL AND next IS NOT NULL
      |  AND value > prev AND value > next
      |ORDER BY t, event_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("t"), col("value"), col("ts"))
      .withColumn("prev", lag(col("value"), 1).over(w))
      .withColumn("next", lead(col("value"), 1).over(w))
      .filter(col("prev").isNotNull && col("next").isNotNull &&
        col("value") > col("prev") && col("value") > col("next"))
      .select(col("event_type"), col("event_id"), col("t"), col("value"))
      .orderBy("t", "event_id")
  }

  /** Bollinger bands over daily purchase totals: 7-day rolling mean ±2σ
    * with breakout flags. The rolling moments come from rolling sums of
    * integer cents and their squares — exact under any evaluation
    * order — with the band math done once per day in doubles. One
    * window pass; emitted only where the window is full.
    */
  val ts_bollinger = OpQuery(
    "ts_bollinger",
    """WITH daily AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1),
      |rolled AS (
      |  SELECT day, c,
      |         SUM(c) OVER w AS s,
      |         SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) OVER w AS sq,
      |         COUNT(*) OVER w AS n,
      |         ROW_NUMBER() OVER (ORDER BY day) AS rn
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |bands AS (
      |  SELECT day, CAST(c AS DOUBLE) / 100 AS total,
      |         CAST(s AS DOUBLE) / n / 100 AS mean,
      |         sqrt(CAST(sq AS DOUBLE) / n - POW(CAST(s AS DOUBLE) / n, 2)) / 100 AS sd
      |  FROM rolled WHERE rn >= 7)
      |SELECT day, CAST(ROUND(total, 2) AS DOUBLE) AS total,
      |       CAST(ROUND(mean, 4) AS DOUBLE) AS mean,
      |       CAST(ROUND(sd, 4) AS DOUBLE) AS sd,
      |       (total > mean + 2 * sd OR total < mean - 2 * sd) AS breakout
      |FROM bands
      |ORDER BY day""".stripMargin) { (spark, dir) =>
    val daily = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("c"))
    // bounded: one row per calendar day after the aggregation
    val w = graft.operators.TotalOrder.boundedGlobal(col("day")).rowsBetween(-6, 0)
    val rolled = graft.operators.TotalOrder
      .checkBounded(daily, "daily-purchase-spine")
      .withColumn("s", sum(col("c")).over(w))
      .withColumn("sq",
        sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        graft.operators.TotalOrder.boundedGlobal(col("day"))))
      .filter(col("rn") >= 7)
    val mean = col("s").cast("double") / col("n") / 100
    val sd = sqrt(col("sq").cast("double") / col("n") -
      pow(col("s").cast("double") / col("n"), 2)) / 100
    val total = col("c").cast("double") / 100
    rolled.select(col("day"),
        round(total, 2).cast("double").as("total"),
        round(mean, 4).cast("double").as("mean"),
        round(sd, 4).cast("double").as("sd"),
        (total > mean + lit(2) * sd || total < mean - lit(2) * sd).as("breakout"))
      .orderBy("day")
  }

  /** Lead–lag cross-correlation: does view traffic LEAD purchase value?
    * Pearson r between daily purchase cents and daily view counts at
    * lags −3…+3 days. Days are epoch-day integers, both series are
    * exact integers, and all seven lags come from one small self-join
    * fanned out by a sequence explode — no repeated scans.
    */
  val ts_crosscorr = OpQuery(
    "ts_crosscorr",
    """WITH purch AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |views AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
      |         COUNT(*) AS y
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |lags AS (SELECT unnest(range(-3, 4)) AS k),
      |joined AS (
      |  SELECT l.k, p.x, v.y
      |  FROM lags l
      |  JOIN purch p ON TRUE
      |  JOIN views v ON v.d = p.d + l.k),
      |m AS (
      |  SELECT k, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy,
      |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
      |         SUM(y * y) AS syy
      |  FROM joined GROUP BY k)
      |SELECT CAST(k AS INT) AS lag_days, CAST(n AS BIGINT) AS n_days,
      |       CAST(ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |            (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |                  POW(CAST(sx AS DOUBLE), 2)) *
      |             sqrt(CAST(n AS DOUBLE) * syy - POW(CAST(sy AS DOUBLE), 2))), 6)
      |            AS DOUBLE) AS r
      |FROM m
      |ORDER BY lag_days""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_xc_events")
    spark.sql(
      """WITH purch AS (
        |  SELECT CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT) AS d,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
        |  FROM graft_xc_events WHERE event_type = 'purchase' GROUP BY 1),
        |views AS (
        |  SELECT CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT) AS d,
        |         COUNT(*) AS y
        |  FROM graft_xc_events WHERE event_type = 'view' GROUP BY 1),
        |lags AS (SELECT explode(sequence(-3, 3)) AS k),
        |joined AS (
        |  SELECT l.k, p.x, v.y
        |  FROM lags l
        |  JOIN purch p ON TRUE
        |  JOIN views v ON v.d = p.d + l.k),
        |m AS (
        |  SELECT k, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy,
        |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
        |         SUM(y * y) AS syy
        |  FROM joined GROUP BY k)
        |SELECT CAST(k AS INT) AS lag_days, CAST(n AS BIGINT) AS n_days,
        |       CAST(ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |            (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |                  POW(CAST(sx AS DOUBLE), 2)) *
        |             sqrt(CAST(n AS DOUBLE) * syy - POW(CAST(sy AS DOUBLE), 2))), 6)
        |            AS DOUBLE) AS r
        |FROM m
        |ORDER BY lag_days""".stripMargin)
  }

  /** Page–Hinkley drift detector over the daily mean purchase value:
    * mₜ = Σ(xᵢ − meanᵢ − δ) with the running mean from exact prefix
    * sums, PHₜ = max(mᵢ) − mₜ, alarm when PH exceeds λ. Every
    * cumulative term is quantized to DECIMAL(28,12) before summation so
    * the sequential statistic is reproducible across engines — the
    * streaming-drift primitive next to CUSUM with a confidence drift
    * margin built in.
    */
  val ts_page_hinkley = OpQuery.sql("ts_page_hinkley", "events")(
    """WITH daily AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c,
      |         COUNT(*) AS k
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |seq AS (
      |  SELECT day,
      |         CAST(c AS DOUBLE) / k / 100 AS x,
      |         CAST(SUM(c) OVER w AS DOUBLE) / SUM(k) OVER w / 100 AS mean_t
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |terms AS (
      |  SELECT day, x, mean_t,
      |         CAST(ROUND(x - mean_t - 0.005, 12) AS DECIMAL(28,12)) AS t
      |  FROM seq),
      |walked AS (
      |  SELECT day, x,
      |         SUM(t) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      |  FROM terms),
      |ph AS (
      |  SELECT day, x, m,
      |         MAX(m) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m AS stat
      |  FROM walked)
      |SELECT day, CAST(ROUND(x, 4) AS DOUBLE) AS mean_value,
      |       CAST(ROUND(CAST(m AS DOUBLE), 6) AS DOUBLE) AS m,
      |       CAST(ROUND(CAST(stat AS DOUBLE), 6) AS DOUBLE) AS ph,
      |       CAST(stat AS DOUBLE) > 2.0 AS alarm
      |FROM ph
      |ORDER BY day""".stripMargin,
    "strftime(CAST(ts AS DATE), '%Y-%m-%d')" -> "date_format(to_date(ts), 'yyyy-MM-dd')")

  /** 1-D earth mover's distance between purchase and view value
    * distributions: ∫|F₁−F₂| as the sum of ECDF-gap × value-gap over
    * the merged sorted support. The ECDF gap stays an integer
    * cross-term (c₁n₂−c₂n₁); each slice's contribution is quantized to
    * DECIMAL(28,12) before the global sum. One sort + one window pass —
    * the drift metric that, unlike KS, weighs HOW FAR mass moved.
    */
  val ts_emd_drift = OpQuery(
    "ts_emd_drift",
    """WITH samples AS (
      |  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |counts AS (SELECT SUM(g) AS n1, SUM(1 - g) AS n2 FROM samples),
      |cum AS (
      |  SELECT value,
      |         SUM(g) OVER (ORDER BY value
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
      |         SUM(1 - g) OVER (ORDER BY value
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      |  FROM samples),
      |at_value AS (
      |  SELECT value, MAX(c1) AS c1, MAX(c2) AS c2 FROM cum GROUP BY value),
      |slices AS (
      |  SELECT value, c1, c2,
      |         LEAD(value) OVER (ORDER BY value) AS next_v
      |  FROM at_value),
      |terms AS (
      |  SELECT CAST(ROUND(ABS(c1 * (SELECT n2 FROM counts) -
      |                         c2 * (SELECT n1 FROM counts)) * (next_v - value), 12)
      |              AS DECIMAL(28,12)) AS t
      |  FROM slices WHERE next_v IS NOT NULL)
      |SELECT CAST((SELECT n1 FROM counts) AS BIGINT) AS n_purchase,
      |       CAST((SELECT n2 FROM counts) AS BIGINT) AS n_view,
      |       CAST(ROUND(CAST(SUM(t) AS DOUBLE) /
      |            ((SELECT n1 FROM counts) * (SELECT n2 FROM counts)), 6) AS DOUBLE)
      |         AS emd
      |FROM terms""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_emd_events")
    // running ECDF counters via ONE TotalOrder.prefixAggs pass, and the
    // LEAD over distinct values as an equi-join on the dense TotalOrder
    // rank (b.rn = a.rn + 1) — the window forms pushed every sampled
    // event (and then every distinct value) through a single reducer
    import org.apache.spark.sql.functions.{col, max}
    val emdSamples = spark.sql(
      """SELECT value,
        |       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
        |       CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS ig
        |FROM graft_emd_events
        |WHERE event_type IN ('purchase', 'view')""".stripMargin)
    val emdAtValue = graft.operators.TotalOrder
      .prefixAggs(emdSamples, Seq(col("value")),
        sums = Seq("g" -> "c1", "ig" -> "c2"))
      .groupBy(col("value"))
      .agg(max(col("c1")).as("c1"), max(col("c2")).as("c2"))
    graft.operators.TotalOrder
      .rowNumber(emdAtValue, Seq(col("value")), "rn")
      .createOrReplaceTempView("graft_emd_sl")
    spark.sql(
      """WITH samples AS (
        |  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        |  FROM graft_emd_events WHERE event_type IN ('purchase', 'view')),
        |counts AS (SELECT SUM(g) AS n1, SUM(1 - g) AS n2 FROM samples),
        |slices AS (
        |  SELECT a.value, a.c1, a.c2, b.value AS next_v
        |  FROM graft_emd_sl a LEFT JOIN graft_emd_sl b ON b.rn = a.rn + 1),
        |terms AS (
        |  SELECT CAST(ROUND(ABS(c1 * (SELECT n2 FROM counts) -
        |                         c2 * (SELECT n1 FROM counts)) * (next_v - value), 12)
        |              AS DECIMAL(28,12)) AS t
        |  FROM slices WHERE next_v IS NOT NULL)
        |SELECT CAST((SELECT n1 FROM counts) AS BIGINT) AS n_purchase,
        |       CAST((SELECT n2 FROM counts) AS BIGINT) AS n_view,
        |       CAST(ROUND(CAST(SUM(t) AS DOUBLE) /
        |            ((SELECT n1 FROM counts) * (SELECT n2 FROM counts)), 6) AS DOUBLE)
        |         AS emd
        |FROM terms""".stripMargin)
  }

  /** Level-shift detection: days where the mean of the NEXT 7 days
    * departs from the mean of the PREVIOUS 7 days by more than 25% —
    * edge detection for regime changes, complementing point anomalies —
    * every full-window day is emitted with its ratio and flag. Both window means come from exact integer cents over one sorted
    * pass; only full windows are compared.
    */
  val ts_level_shift = OpQuery.sql("ts_level_shift", "events")(
    """WITH daily AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |framed AS (
      |  SELECT day, c,
      |         SUM(c) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sb,
      |         COUNT(*) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS nb,
      |         SUM(c) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS sa,
      |         COUNT(*) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS na
      |  FROM daily)
      |SELECT day,
      |       CAST(ROUND(CAST(sb AS DOUBLE) / nb / 100, 2) AS DOUBLE) AS mean_before,
      |       CAST(ROUND(CAST(sa AS DOUBLE) / na / 100, 2) AS DOUBLE) AS mean_after,
      |       CAST(ROUND(CAST(sa AS DOUBLE) * nb / (CAST(sb AS DOUBLE) * na), 4)
      |            AS DOUBLE) AS shift_ratio,
      |       (CAST(sa AS DOUBLE) * nb > 1.25 * CAST(sb AS DOUBLE) * na
      |        OR CAST(sa AS DOUBLE) * nb * 1.25 < CAST(sb AS DOUBLE) * na) AS shifted
      |FROM framed
      |WHERE nb = 7 AND na = 7
      |ORDER BY day""".stripMargin,
    "strftime(CAST(ts AS DATE), '%Y-%m-%d')" -> "date_format(to_date(ts), 'yyyy-MM-dd')")

  /** Western Electric run rules on the daily purchase series: rule 1
    * (a point beyond 3σ) and rule 4 (8 consecutive points on one side
    * of the mean) — the SPC pattern alarms that single-point thresholds
    * miss. The mean/σ come from exact global cents moments; the
    * consecutive-side counter is a window over sign runs, all
    * engine-exact.
    */
  val ts_western_electric = OpQuery.sql("ts_western_electric", "events")(
    """WITH daily AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(c) AS s,
      |         SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS sq
      |  FROM daily),
      |scored AS (
      |  SELECT day, c,
      |         (c - CAST(s AS DOUBLE) / n) /
      |           sqrt(CAST(sq AS DOUBLE) / n - POW(CAST(s AS DOUBLE) / n, 2)) AS z,
      |         CASE WHEN c > CAST(s AS DOUBLE) / n THEN 1 ELSE 0 END AS side
      |  FROM daily CROSS JOIN m),
      |runs AS (
      |  SELECT day, z, side,
      |         ROW_NUMBER() OVER (ORDER BY day) -
      |           ROW_NUMBER() OVER (PARTITION BY side ORDER BY day) AS grp
      |  FROM scored),
      |streaks AS (
      |  SELECT day, z, side,
      |         ROW_NUMBER() OVER (PARTITION BY side, grp ORDER BY day) AS streak
      |  FROM runs)
      |SELECT day, CAST(ROUND(z, 4) AS DOUBLE) AS z,
      |       (ABS(z) > 3) AS rule1_beyond_3sigma,
      |       (streak >= 8) AS rule4_eight_one_side,
      |       CAST(streak AS INT) AS streak
      |FROM streaks
      |ORDER BY day""".stripMargin,
    "strftime(CAST(ts AS DATE), '%Y-%m-%d')" -> "date_format(to_date(ts), 'yyyy-MM-dd')")

  /** SAX (Symbolic Aggregate approXimation) words: each event type's
    * first-30-day daily-total series z-normalized and quantized to a 4
    * letter alphabet at the N(0,1) quartile breakpoints (−0.6745, 0,
    * 0.6745), concatenated in day order. Daily totals pass through
    * DECIMAL so the z-scores are bit-deterministic; the word assembly is
    * an ordered array fold, not a nondeterministic string agg.
    */
  val ts_sax = OpQuery(
    "ts_sax",
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2
      |), ranked AS (
      |  SELECT event_type, d, v,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
      |  FROM daily
      |), win AS (
      |  SELECT event_type, d, v FROM ranked WHERE rn <= 30
      |), stats AS (
      |  SELECT event_type, COUNT(*) AS n, AVG(v) AS mu,
      |         SQRT(SUM(v * v) / COUNT(*) - AVG(v) * AVG(v)) AS sd
      |  FROM win GROUP BY 1
      |), sym AS (
      |  SELECT w.event_type, w.d,
      |         CASE WHEN (w.v - s.mu) / s.sd < -0.6745 THEN 'a'
      |              WHEN (w.v - s.mu) / s.sd < 0 THEN 'b'
      |              WHEN (w.v - s.mu) / s.sd < 0.6745 THEN 'c'
      |              ELSE 'd' END AS ch
      |  FROM win w JOIN stats s ON w.event_type = s.event_type
      |)
      |SELECT sym.event_type, CAST(MAX(stats.n) AS BIGINT) AS n_days,
      |       string_agg(ch, '' ORDER BY d) AS sax_word
      |FROM sym JOIN stats ON sym.event_type = stats.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val daily = t(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    val win = daily
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("d")))
      .filter(col("rn") <= 30)
    val stats = win.groupBy("event_type").agg(
      count(lit(1)).as("n"), avg(col("v")).as("mu"),
      sqrt(sum(col("v") * col("v")) / count(lit(1)) -
        avg(col("v")) * avg(col("v"))).as("sd"))
    val z = (col("v") - col("mu")) / col("sd")
    win.join(stats, "event_type")
      .select(col("event_type"), col("n"), col("d"),
        when(z < -0.6745, "a").when(z < 0, "b").when(z < 0.6745, "c")
          .otherwise("d").as("ch"))
      .groupBy("event_type")
      .agg(max(col("n")).cast("long").as("n_days"),
        array_join(transform(
          array_sort(collect_list(struct(col("d"), col("ch")))),
          x => x.getField("ch")), "").as("sax_word"))
      .orderBy("event_type")
  }

  /** Theil–Sen robust trend over the first-30-day daily revenue series:
    * the median of all C(30,2) pairwise slopes, then the median residual
    * intercept. Medians are picked by deterministic row_number (value +
    * index tiebreak) with the even-count two-middle average — never an
    * engine-specific MEDIAN(). Daily totals are exact integer cents, so
    * every slope is a bit-identical double. The all-pairs join is bounded
    * by the fixed 30-point window, not by table size.
    */
  val ts_theil_sen = OpQuery(
    "ts_theil_sen",
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |         CAST(TRUNC(SUM(CAST(value AS DECIMAL(18,2))) * 100) AS BIGINT)
      |           AS vc
      |  FROM events GROUP BY 1
      |), idx AS (
      |  SELECT vc, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily
      |), w AS (SELECT vc, i FROM idx WHERE i <= 30),
      |slopes AS (
      |  SELECT a.i AS i, b.i AS j, (b.vc - a.vc) * 1.0 / (b.i - a.i) AS m
      |  FROM w a JOIN w b ON b.i > a.i
      |), ms AS (
      |  SELECT m, ROW_NUMBER() OVER (ORDER BY m, i, j) AS rn,
      |         COUNT(*) OVER () AS cnt
      |  FROM slopes
      |), med AS (
      |  SELECT AVG(m) AS slope FROM ms
      |  WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
      |), rs AS (
      |  SELECT w.vc - med.slope * w.i AS r, w.i,
      |         ROW_NUMBER() OVER (ORDER BY w.vc - med.slope * w.i, w.i) AS rn,
      |         COUNT(*) OVER () AS cnt
      |  FROM w CROSS JOIN med
      |)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_points,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM slopes) AS n_pairs,
      |       CAST(ROUND((SELECT slope FROM med), 6) AS DOUBLE) AS slope,
      |       CAST(ROUND((SELECT AVG(r) FROM rs
      |                   WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)), 4)
      |         AS DOUBLE) AS intercept""".stripMargin) { (spark, dir) =>
    t(spark, dir, "events").createOrReplaceTempView("graft_tsn_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS vc
        |  FROM graft_tsn_events GROUP BY 1
        |), idx AS (
        |  SELECT vc, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily
        |), w AS (SELECT vc, i FROM idx WHERE i <= 30),
        |slopes AS (
        |  SELECT a.i AS i, b.i AS j, (b.vc - a.vc) * 1.0 / (b.i - a.i) AS m
        |  FROM w a JOIN w b ON b.i > a.i
        |), ms AS (
        |  SELECT m, ROW_NUMBER() OVER (ORDER BY m, i, j) AS rn,
        |         COUNT(*) OVER () AS cnt
        |  FROM slopes
        |), med AS (
        |  SELECT AVG(m) AS slope FROM ms
        |  WHERE rn IN ((cnt + 1) DIV 2, (cnt + 2) DIV 2)
        |), rs AS (
        |  SELECT w.vc - med.slope * w.i AS r, w.i,
        |         ROW_NUMBER() OVER (ORDER BY w.vc - med.slope * w.i, w.i) AS rn,
        |         COUNT(*) OVER () AS cnt
        |  FROM w CROSS JOIN med
        |)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_points,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM slopes) AS n_pairs,
        |       CAST(ROUND((SELECT slope FROM med), 6) AS DOUBLE) AS slope,
        |       CAST(ROUND((SELECT AVG(r) FROM rs
        |                   WHERE rn IN ((cnt + 1) DIV 2, (cnt + 2) DIV 2)), 4)
        |         AS DOUBLE) AS intercept""".stripMargin)
  }

  /** Periodogram over the mean-centered daily revenue series: spectral
    * power at candidate periods 2–14 days as a share of total power,
    * with the dominant period flagged on the ROUNDED share (engine-
    * stable). O(n·k) trig sums — never an FFT's data reshuffle — and k
    * is a constant 13, so the scan dominates at scale.
    */
  val ts_periodogram = OpQuery(
    "ts_periodogram",
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1
      |), idx AS (
      |  SELECT v, ROW_NUMBER() OVER (ORDER BY d) - 1 AS ti FROM daily
      |), st AS (SELECT COUNT(*) AS n, AVG(v) AS mu FROM idx),
      |per AS (SELECT unnest(generate_series(2, 14)) AS p),
      |terms AS (
      |  SELECT per.p,
      |         (idx.v - st.mu) * COS(2 * PI() * idx.ti / per.p) AS c,
      |         (idx.v - st.mu) * SIN(2 * PI() * idx.ti / per.p) AS s
      |  FROM idx CROSS JOIN per CROSS JOIN st
      |), pw AS (
      |  SELECT p, SUM(c) AS a, SUM(s) AS b FROM terms GROUP BY 1
      |), sh AS (
      |  SELECT p,
      |         ROUND((a * a + b * b) /
      |           (SELECT SUM(a * a + b * b) FROM pw), 6) AS power_share
      |  FROM pw
      |)
      |SELECT CAST(p AS INT) AS period,
      |       CAST(power_share AS DOUBLE) AS power_share,
      |       power_share = MAX(power_share) OVER () AS dominant
      |FROM sh ORDER BY period""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val daily = t(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    val idx = graft.operators.TotalOrder
      .checkBounded(daily, "daily-value-spine").select(col("v"),
      // bounded: one row per calendar day after the aggregation
      (row_number().over(
        graft.operators.TotalOrder.boundedGlobal(col("d"))) - 1).as("ti"))
    val st = idx.agg(count(lit(1)).as("n"), avg(col("v")).as("mu"))
    val per = t(spark, dir, "region").limit(1)
      .select(explode(sequence(lit(2), lit(14))).as("p"))
    val terms = idx.crossJoin(per).crossJoin(st).select(col("p"),
      ((col("v") - col("mu")) *
        cos(lit(2) * lit(math.Pi) * col("ti") / col("p"))).as("c"),
      ((col("v") - col("mu")) *
        sin(lit(2) * lit(math.Pi) * col("ti") / col("p"))).as("s"))
    val pw = terms.groupBy("p")
      .agg(sum(col("c")).as("a"), sum(col("s")).as("b"))
    val tot = pw.agg(sum(col("a") * col("a") + col("b") * col("b")).as("tp"))
    val sh = pw.crossJoin(tot).select(col("p"),
      round((col("a") * col("a") + col("b") * col("b")) / col("tp"), 6)
        .as("power_share"))
    sh.select(col("p").cast("int").as("period"),
        col("power_share").cast("double").as("power_share"),
        (col("power_share") ===
          max(col("power_share")).over(Window.partitionBy())).as("dominant"))
      .orderBy("period")
  }

  /** Single-changepoint binary segmentation on daily revenue: for every
    * candidate split t the two-segment SSE is computed in O(1) from
    * DECIMAL prefix sums (SSE(a..b) = S2 − S1²/n, windows do the
    * prefixing), and the argmin split is the changepoint. The window
    * over the daily series is the only ordered pass — the classic
    * "where did the level shift" scan, O(n) not O(n²). Revenue is
    * pre-scaled by 1e-4 (exact at 6 decimals) so every SSE stays well
    * inside double's exact-integer range on both engines; SSEs are
    * reported in scaled² units (pinned contract), means in currency.
    */
  val ts_changepoint = OpQuery.sql("ts_changepoint", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |scaled AS (
      |  SELECT d, CAST(y / 10000 AS DECIMAL(20,6)) AS y FROM daily),
      |idx AS (
      |  SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS t,
      |         COUNT(*) OVER () AS n,
      |         SUM(y) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS p1,
      |         SUM(CAST(y * y AS DECIMAL(38,12)))
      |           OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS p2,
      |         SUM(y) OVER () AS tot1,
      |         SUM(CAST(y * y AS DECIMAL(38,12))) OVER () AS tot2
      |  FROM scaled),
      |cost AS (
      |  SELECT t, n,
      |         ROUND((CAST(p2 AS DOUBLE) - CAST(p1 AS DOUBLE) * p1 / t) +
      |               (CAST(tot2 - p2 AS DOUBLE)
      |                - CAST(tot1 - p1 AS DOUBLE) * CAST(tot1 - p1 AS DOUBLE)
      |                  / (n - t)), 4) AS sse,
      |         ROUND(CAST(tot2 AS DOUBLE)
      |               - CAST(tot1 AS DOUBLE) * tot1 / n, 4) AS sse0,
      |         CAST(p1 AS DOUBLE) / t * 10000 AS mean_left,
      |         CAST(tot1 - p1 AS DOUBLE) / (n - t) * 10000 AS mean_right
      |  FROM idx WHERE t < n),
      |best AS (
      |  SELECT t, n, sse, sse0, mean_left, mean_right,
      |         ROW_NUMBER() OVER (ORDER BY sse, t) AS rk
      |  FROM cost)
      |SELECT CAST(t AS BIGINT) AS split_t, CAST(n AS BIGINT) AS n_days,
      |       CAST(sse AS DOUBLE) AS sse_split,
      |       CAST(sse0 AS DOUBLE) AS sse_nosplit,
      |       CAST(ROUND(1 - sse / sse0, 6) AS DOUBLE) AS var_explained,
      |       CAST(ROUND(mean_left, 4) AS DOUBLE) AS mean_left,
      |       CAST(ROUND(mean_right, 4) AS DOUBLE) AS mean_right
      |FROM best WHERE rk = 1""".stripMargin)

  /** Three-level Haar wavelet decomposition of the first 256 days of
    * revenue: UNNORMALIZED pairwise sums/differences computed ENTIRELY in
    * DECIMAL (no division anywhere, so every coefficient is exact and
    * engine-identical; energies carry the 2^level factor — pinned
    * contract), detail energy per level as exact DECIMAL sums. Shows where the series' variance lives —
    * day-to-day noise vs multi-day swings. Each level is one
    * conditional aggregate over pair ids: O(n) total, no FFT shuffle.
    */
  val ts_haar = OpQuery.sql("ts_haar", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |base AS (
      |  SELECT t, x FROM (
      |    SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS t,
      |           CAST(y / 10000 AS DECIMAL(16,6)) AS x
      |    FROM daily) q
      |  WHERE t < 256),
      |l1 AS (
      |  SELECT t // 2 AS t2,
      |         CAST(SUM(CASE WHEN t % 2 = 0 THEN x ELSE -x END)
      |           AS DECIMAL(16,6)) AS det,
      |         CAST(SUM(x) AS DECIMAL(16,6)) AS app
      |  FROM base GROUP BY 1),
      |l2 AS (
      |  SELECT t2 // 2 AS t3,
      |         CAST(SUM(CASE WHEN t2 % 2 = 0 THEN app ELSE -app END)
      |           AS DECIMAL(16,6)) AS det,
      |         CAST(SUM(app) AS DECIMAL(16,6)) AS app
      |  FROM l1 GROUP BY 1),
      |l3 AS (
      |  SELECT t3 // 2 AS t4,
      |         CAST(SUM(CASE WHEN t3 % 2 = 0 THEN app ELSE -app END)
      |           AS DECIMAL(16,6)) AS det,
      |         CAST(SUM(app) AS DECIMAL(16,6)) AS app
      |  FROM l2 GROUP BY 1),
      |e AS (
      |  SELECT 1 AS level, COUNT(*) AS n_coeffs,
      |         CAST(SUM(CAST(det * det AS DECIMAL(38,12))) AS DOUBLE) AS energy
      |  FROM l1
      |  UNION ALL
      |  SELECT 2, COUNT(*),
      |         CAST(SUM(CAST(det * det AS DECIMAL(38,12))) AS DOUBLE)
      |  FROM l2
      |  UNION ALL
      |  SELECT 3, COUNT(*),
      |         CAST(SUM(CAST(det * det AS DECIMAL(38,12))) AS DOUBLE)
      |  FROM l3),
      |tot AS (SELECT SUM(energy) AS te FROM e)
      |SELECT CAST(level AS INT) AS level, CAST(n_coeffs AS BIGINT) AS n_coeffs,
      |       CAST(ROUND(energy, 6) AS DOUBLE) AS energy,
      |       CAST(ROUND(energy / tot.te, 6) AS DOUBLE) AS energy_share
      |FROM e CROSS JOIN tot
      |ORDER BY level""".stripMargin,
    "//" -> "DIV")

  /** Simple exponential smoothing (α = 0.2) as a CLOSED FORM instead of
    * a recursion: ŷ = αΣ(1−α)^(n−1−i)·yᵢ + (1−α)^(n−1)·y₀, so the whole
    * forecast is one weighted aggregate over the indexed series — no
    * sequential dependency, fully parallel. Weights are POW doubles on
    * integer exponents (identical on both engines); terms are quantized
    * before the DECIMAL fold. The last 60 days only, keeping (1−α)^k
    * above double underflow.
    */
  val ts_ses = OpQuery.sql("ts_ses", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT 61 - rev AS t, y FROM (
      |    SELECT CAST(y AS DOUBLE) AS y,
      |           ROW_NUMBER() OVER (ORDER BY d DESC) AS rev
      |    FROM daily) q
      |  WHERE rev <= 60),
      |f AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(
      |           0.2 * POW(0.8, 60 - t) * y, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |           AS smooth_part,
      |         MAX(CASE WHEN t = 1 THEN POW(0.8, 59) * y END) AS base_part
      |  FROM idx)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(ROUND(smooth_part + base_part, 4) AS DOUBLE) AS ses_forecast
      |FROM f""".stripMargin)

  /** PACF at lags 1–3 by the Durbin–Levinson recursion on the first
    * three autocorrelations of daily revenue. The ACF numerators are
    * quantized-DECIMAL folds over the lag-joined series (one window,
    * three self-aligned lags in a single pass); the recursion itself is
    * a fixed scalar formula. PACF(2)/PACF(3) tell you the true AR
    * order where the plain ACF can't.
    */
  val ts_pacf3 = OpQuery.sql("ts_pacf3", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT CAST(y AS DOUBLE) AS y, ROW_NUMBER() OVER (ORDER BY d) AS t
      |  FROM daily),
      |mu AS (
      |  SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS m FROM
      |    (SELECT CAST(y AS DECIMAL(18,2)) AS y FROM daily)),
      |lagd AS (
      |  SELECT idx.t, idx.y - mu.m AS e,
      |         LAG(idx.y, 1) OVER (ORDER BY idx.t) - mu.m AS e1,
      |         LAG(idx.y, 2) OVER (ORDER BY idx.t) - mu.m AS e2,
      |         LAG(idx.y, 3) OVER (ORDER BY idx.t) - mu.m AS e3
      |  FROM idx CROSS JOIN mu),
      |acv AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND(e * e, 6) AS DECIMAL(38,6))) AS DOUBLE) AS c0,
      |    CAST(SUM(CAST(ROUND(e * e1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS c1,
      |    CAST(SUM(CAST(ROUND(e * e2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS c2,
      |    CAST(SUM(CAST(ROUND(e * e3, 6) AS DECIMAL(38,6))) AS DOUBLE) AS c3
      |  FROM lagd),
      |r AS (
      |  SELECT c1 / c0 AS r1, c2 / c0 AS r2, c3 / c0 AS r3 FROM acv),
      |dl AS (
      |  SELECT r1, r2, r3,
      |         (r2 - r1 * r1) / (1 - r1 * r1) AS p22
      |  FROM r),
      |dl2 AS (
      |  SELECT r1, r2, r3, p22, r1 - p22 * r1 AS p21 FROM dl)
      |SELECT CAST(ROUND(r1, 6) AS DOUBLE) AS pacf1,
      |       CAST(ROUND(p22, 6) AS DOUBLE) AS pacf2,
      |       CAST(ROUND((r3 - p21 * r2 - p22 * r1)
      |         / (1 - p21 * r1 - p22 * r2), 6) AS DOUBLE) AS pacf3
      |FROM dl2""".stripMargin)

  /** Dickey–Fuller unit-root test on daily revenue: regress Δyₜ on
    * yₜ₋₁ (with intercept) and report the t-statistic of the slope —
    * the DF statistic whose strongly negative values reject a random
    * walk. All cross-moments are quantized-DECIMAL folds over the
    * lagged series (sum-order-proof); the OLS algebra and the
    * standard error are scalar arithmetic on those exact sums.
    */
  val ts_adf = OpQuery.sql("ts_adf", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT CAST(y AS DOUBLE) AS y, ROW_NUMBER() OVER (ORDER BY d) AS t
      |  FROM daily),
      |lagd AS (
      |  SELECT t, y, LAG(y) OVER (ORDER BY t) AS y1 FROM idx),
      |pairs AS (
      |  SELECT y1 AS x, y - y1 AS dy FROM lagd WHERE y1 IS NOT NULL),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(dy, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |         CAST(SUM(CAST(ROUND(x * dy, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
      |         CAST(SUM(CAST(ROUND(x * x, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
      |         CAST(SUM(CAST(ROUND(dy * dy, 4) AS DECIMAL(38,4))) AS DOUBLE) AS syy
      |  FROM pairs),
      |fit AS (
      |  SELECT n,
      |         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS beta,
      |         (sxx - sx * sx / n) AS cxx,
      |         (syy - sy * sy / n) AS cyy,
      |         (sxy - sx * sy / n) AS cxy
      |  FROM m),
      |stat AS (
      |  SELECT n, beta,
      |         (cyy - beta * cxy) / (n - 2) AS s2, cxx
      |  FROM fit)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       CAST(ROUND(beta, 8) AS DOUBLE) AS beta,
      |       CAST(ROUND(1.0 + beta, 8) AS DOUBLE) AS rho,
      |       CAST(ROUND(beta / SQRT(s2 / cxx), 4) AS DOUBLE) AS df_stat
      |FROM stat""".stripMargin)

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

  /** Trend and seasonality strength (the STL diagnostics): a 7-day
    * centered moving average is the trend, weekday means of the
    * detrended series are the seasonal component, and strength is
    * 1 − Var(remainder)/Var(component-plus-remainder), floored at 0.
    * Tells you at a glance whether the weekly cycle in revenue is
    * structure or noise. Windows + two grouped passes, all variances
    * by quantized folds.
    */
  val ts_strengths = OpQuery.sql("ts_strengths", "orders")(
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS e,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      |  FROM orders GROUP BY 1),
      |ma AS (
      |  SELECT e, y,
      |         AVG(y) OVER (ORDER BY e ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |           AS trend,
      |         COUNT(*) OVER (ORDER BY e ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |           AS wn
      |  FROM daily),
      |det AS (
      |  SELECT e, (e + 3) % 7 AS dow, y, trend, y - trend AS detr
      |  FROM ma WHERE wn = 7),
      |seas AS (
      |  SELECT dow,
      |         CAST(SUM(CAST(ROUND(detr, 4) AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*)
      |           AS s
      |  FROM det GROUP BY dow),
      |parts AS (
      |  SELECT det.detr - seas.s AS rem, det.detr, det.y - seas.s AS deseas
      |  FROM det JOIN seas ON seas.dow = det.dow),
      |vv AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(rem, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sr,
      |         CAST(SUM(CAST(ROUND(rem * rem, 2) AS DECIMAL(38,2))) AS DOUBLE) AS srr,
      |         CAST(SUM(CAST(ROUND(detr, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sd,
      |         CAST(SUM(CAST(ROUND(detr * detr, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sdd,
      |         CAST(SUM(CAST(ROUND(deseas, 4) AS DECIMAL(38,4))) AS DOUBLE) AS ss,
      |         CAST(SUM(CAST(ROUND(deseas * deseas, 2) AS DECIMAL(38,2))) AS DOUBLE)
      |           AS sss
      |  FROM parts)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(ROUND(GREATEST(0.0, 1.0 - (srr - sr * sr / n) / (sdd - sd * sd / n)),
      |         6) AS DOUBLE) AS seasonal_strength,
      |       CAST(ROUND(GREATEST(0.0, 1.0 - (srr - sr * sr / n) / (sss - ss * ss / n)),
      |         6) AS DOUBLE) AS trend_strength
      |FROM vv""".stripMargin,
    "epoch(o_orderdate)" -> "unix_timestamp(CAST(o_orderdate AS TIMESTAMP))")

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

  /** 1-D Kalman local-level filter over the last 60 days of revenue:
    * predict/update recursion (Q = 1e8, R = 1e9) as a recursive CTE,
    * with state, gain, and variance rounded per step so both engines
    * walk one float path. The gain column converging to its
    * steady-state Riccati value is visible in the output — the
    * smoothing weight the filter "learned". Same scale shape as
    * ts_holt: heavy aggregation distributed, O(days) recursion on the
    * driver-sized series.
    */
  val ts_kalman_level = OpQuery(
    "ts_kalman_level",
    """WITH RECURSIVE daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |lastd AS (SELECT MAX(d) AS mx FROM daily),
      |s AS (
      |  SELECT CAST(y AS DOUBLE) AS y,
      |         ROW_NUMBER() OVER (ORDER BY d) AS t,
      |         COUNT(*) OVER () AS n
      |  FROM daily, lastd WHERE d > mx - INTERVAL 60 DAY),
      |kal(t, x, pv, k) AS (
      |  SELECT 1, s1.y, CAST(1e10 AS DOUBLE), CAST(0.0 AS DOUBLE)
      |  FROM (SELECT y FROM s WHERE t = 1) s1
      |  UNION ALL
      |  SELECT kal.t + 1,
      |         ROUND(kal.x + ROUND((kal.pv + 1e8) / (kal.pv + 1e8 + 1e9), 10)
      |               * (s.y - kal.x), 4),
      |         ROUND((1 - ROUND((kal.pv + 1e8) / (kal.pv + 1e8 + 1e9), 10))
      |               * (kal.pv + 1e8), 2),
      |         ROUND((kal.pv + 1e8) / (kal.pv + 1e8 + 1e9), 10)
      |  FROM kal JOIN s ON s.t = kal.t + 1)
      |SELECT CAST(t AS INT) AS n_days,
      |       CAST(ROUND(x, 4) AS DOUBLE) AS level,
      |       CAST(ROUND(k, 6) AS DOUBLE) AS gain,
      |       CAST(ROUND(pv / 1e8, 6) AS DOUBLE) AS p_scaled
      |FROM kal
      |WHERE t = (SELECT MAX(n) FROM s)""".stripMargin) { (spark, dir) =>
    // Spark side: like ts_holt, the predict/update recursion folds into
    // one `aggregate()` over the collected ≤60-double daily array instead
    // of 60 scheduler rounds of recursive-CTE joins (~26 s at sf0.1).
    // Per-step ROUNDs are identical to the oracle's recursive form.
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_kal_orders")
    spark.sql(
      """WITH daily AS (
        |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM graft_kal_orders GROUP BY 1),
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
        |           named_struct('x', ys[0], 'pv', CAST(1e10 AS DOUBLE),
        |                        'k', CAST(0.0 AS DOUBLE)),
        |           (acc, y) -> named_struct(
        |             'x', ROUND(acc.x + ROUND((acc.pv + 1e8) / (acc.pv + 1e8 + 1e9), 10)
        |                        * (y - acc.x), 4),
        |             'pv', ROUND((1 - ROUND((acc.pv + 1e8) / (acc.pv + 1e8 + 1e9), 10))
        |                         * (acc.pv + 1e8), 2),
        |             'k', ROUND((acc.pv + 1e8) / (acc.pv + 1e8 + 1e9), 10))) AS st
        |  FROM arr)
        |SELECT CAST(n AS INT) AS n_days,
        |       CAST(ROUND(st.x, 4) AS DOUBLE) AS level,
        |       CAST(ROUND(st.k, 6) AS DOUBLE) AS gain,
        |       CAST(ROUND(st.pv / 1e8, 6) AS DOUBLE) AS p_scaled
        |FROM folded""".stripMargin)
  }

  /** Kendall τ-b at scale from the same [[graft.operators.Concordance]]
    * machinery (`ts_mann_kendall` runs the pair join on a day-level
    * aggregate; this runs row-level over an sf-scaled cohort). One
    * Concordance pass with an open filter yields everything τ-b needs:
    * pairs with x_a < x_b split into discordant (y_a > y_b), y-tied,
    * and concordant (the remainder); x-tied pair counts come from a
    * groupBy on x; the denominators are the classical n0 − t_x / n0 −
    * t_y. Oracle: the direct quadratic definition (DuckDB IEJoin) plus
    * the same tie algebra.
    */
  val ts_kendall_scalable = OpQuery(
    "ts_kendall_scalable",
    """WITH obs AS (
      |  SELECT CAST(FLOOR(epoch(l.l_shipdate) / 86400)
      |           - FLOOR(epoch(o.o_orderdate) / 86400) AS INT) AS x,
      |         CAST(l.l_quantity AS INT) AS y
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_orderkey % 5 = 0),
      |p AS (
      |  SELECT COUNT(*) AS m,
      |         SUM(CASE WHEN a.y < b.y THEN 1 ELSE 0 END) AS conc,
      |         SUM(CASE WHEN a.y > b.y THEN 1 ELSE 0 END) AS disc,
      |         SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS ty_pairs
      |  FROM obs a JOIN obs b ON a.x < b.x),
      |n AS (SELECT COUNT(*) AS n FROM obs),
      |tx AS (
      |  SELECT COALESCE(SUM(c * (c - 1) / 2), 0) AS t
      |  FROM (SELECT COUNT(*) AS c FROM obs GROUP BY x)),
      |ty AS (
      |  SELECT COALESCE(SUM(c * (c - 1) / 2), 0) AS t
      |  FROM (SELECT COUNT(*) AS c FROM obs GROUP BY y))
      |SELECT CAST(p.conc AS BIGINT) AS concordant,
      |       CAST(p.disc AS BIGINT) AS discordant,
      |       CAST(p.ty_pairs AS BIGINT) AS tied_y_only,
      |       CAST(tx.t AS BIGINT) AS tied_x,
      |       CAST(ROUND((p.conc - p.disc) /
      |         (sqrt(n.n * (n.n - 1) / 2.0 - tx.t) *
      |          sqrt(n.n * (n.n - 1) / 2.0 - ty.t)), 6) AS DOUBLE) AS tau_b
      |FROM p, n, tx, ty""".stripMargin) { (spark, dir) =>
    val obs = Tables.load(spark, dir, "lineitem").as("l")
      .join(Tables.load(spark, dir, "orders").as("o"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .filter(col("l.l_orderkey") % 5 === 0)
      .select(
        (floor(unix_timestamp(col("l.l_shipdate")) / 86400)
          - floor(unix_timestamp(col("o.o_orderdate")) / 86400)).cast("int").as("x"),
        col("l.l_quantity").cast("int").as("y"))
      .transform(Freeze.lazily)
    val counts = graft.operators.Concordance.counts(
      obs, "x", "y", lit(true), buckets = 2048)
    def tiePairs(c: String) = obs.groupBy(c).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0))
        .cast("long").as(s"t_$c"))
    val n = obs.agg(count(lit(1)).as("n"))
    counts.crossJoin(n).crossJoin(tiePairs("x")).crossJoin(tiePairs("y"))
      .select(
        // Concordance's "concordant" is y_a > y_b — Kendall's DISCORDANT
        (col("comparable") - col("concordant") - col("tied")).as("concordant"),
        col("concordant").as("discordant"),
        col("tied").as("tied_y_only"),
        col("t_x").as("tied_x"),
        round((col("comparable") - col("concordant") * 2 - col("tied")) /
          (sqrt(col("n") * (col("n") - 1) / 2.0 - col("t_x")) *
            sqrt(col("n") * (col("n") - 1) / 2.0 - col("t_y"))), 6)
          .cast("double").as("tau_b"))
  }

  val all: Seq[OpQuery] = Seq(
    ts_gapfill, ts_rolling, ts_anomaly, ts_interpolate, ts_active_intervals,
    ts_islands, ts_cusum, ts_seasonal_decompose, ts_ewma, ts_autocorr,
    ts_hampel, ts_forecast_snaive, ts_twap, ts_drawdown, ts_mann_kendall,
    ts_ohlc, ts_peaks, ts_bollinger, ts_crosscorr, ts_page_hinkley,
    ts_emd_drift, ts_level_shift, ts_western_electric, ts_sax, ts_theil_sen,
    ts_periodogram, ts_changepoint, ts_haar, ts_ses, ts_pacf3, ts_adf,
    ts_holt, ts_granger, ts_strengths, ts_segmented_trend, ts_kalman_level,
    ts_kendall_scalable)
}
