package graft.queries

import graft.Tables

/** Round-4 batch 75: Tukey-fence outlier detection, pro-rata interval
  * allocation across calendar months, and lead–lag cross-correlation.
  */
object Round4Ops75 {

  /** Tukey fences per event type: Q1/Q3 as pinned order statistics
    * (value at rank ⌈n/4⌉ / ⌈3n/4⌉), fences at 1.5×IQR, and the
    * outlier census. Rank picks instead of interpolation keep every
    * intermediate an existing double; two window passes share one
    * shuffle on event_type.
    */
  val a53_tukey_fences = OpQuery.sql("a53_tukey_fences", "events")(
    """WITH ranked AS (
      |  SELECT event_type, value,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |quarts AS (
      |  SELECT event_type,
      |         MAX(CASE WHEN r = CAST(CEIL(n * 0.25) AS BIGINT) THEN value END) AS q1,
      |         MAX(CASE WHEN r = CAST(CEIL(n * 0.75) AS BIGINT) THEN value END) AS q3,
      |         MAX(n) AS n
      |  FROM ranked GROUP BY event_type),
      |fenced AS (
      |  SELECT r.event_type, r.value, q.q1, q.q3, q.n,
      |         q.q1 - 1.5 * (q.q3 - q.q1) AS lo,
      |         q.q3 + 1.5 * (q.q3 - q.q1) AS hi
      |  FROM ranked r JOIN quarts q ON r.event_type = q.event_type)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
      |       CAST(MAX(q1) AS DOUBLE) AS q1, CAST(MAX(q3) AS DOUBLE) AS q3,
      |       CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_outliers,
      |       CAST(MIN(CASE WHEN value < lo OR value > hi THEN value END) AS DOUBLE)
      |         AS min_outlier,
      |       CAST(MAX(CASE WHEN value < lo OR value > hi THEN value END) AS DOUBLE)
      |         AS max_outlier
      |FROM fenced
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin)

  /** Pro-rata allocation of a line item's value across the calendar
    * months its ship→receipt span touches — the revenue-recognition /
    * cost-spreading primitive. The month spine comes from a native
    * sequence+explode (no recursion, no driver loop), overlap is pure
    * integer day arithmetic, and the allocated amount is a pinned
    * FLOOR(cents·days/total) — exact on any engine.
    */
  val j25_interval_allocation = OpQuery(
    "j25_interval_allocation",
    """WITH spans AS (
      |  SELECT l_orderkey, l_linenumber,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
      |           ORDER BY l_extendedprice, l_shipdate) AS INT) AS inst,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |         CAST(l_shipdate AS DATE) AS d0,
      |         CAST(l_shipdate AS DATE) + CAST(l_orderkey % 90 + 10 AS INT) AS d1,
      |         CAST(l_orderkey % 90 + 10 AS INT) + 1 AS total_days
      |  FROM lineitem WHERE l_orderkey < 500),
      |exploded AS (
      |  SELECT l_orderkey, l_linenumber, inst, cents, d0, d1, total_days,
      |         unnest(generate_series(CAST(date_trunc('month', d0) AS DATE),
      |                                CAST(date_trunc('month', d1) AS DATE),
      |                                INTERVAL 1 MONTH)) AS m
      |  FROM spans),
      |sliced AS (
      |  SELECT l_orderkey, l_linenumber, inst, cents, total_days,
      |         strftime(m, '%Y-%m') AS month,
      |         date_diff('day',
      |           GREATEST(CAST(m AS DATE), d0),
      |           LEAST(CAST(last_day(CAST(m AS DATE)) AS DATE), d1)) + 1 AS days
      |  FROM exploded)
      |SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber, inst, month,
      |       CAST(days AS INT) AS days,
      |       CAST(FLOOR(cents * days / total_days) AS BIGINT) AS allocated_cents
      |FROM sliced
      |ORDER BY l_orderkey, l_linenumber, inst, month""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_alloc_li")
    spark.sql(
      """WITH spans AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
        |           ORDER BY l_extendedprice, l_shipdate) AS INT) AS inst,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         CAST(l_shipdate AS DATE) AS d0,
        |         date_add(CAST(l_shipdate AS DATE), CAST(l_orderkey % 90 + 10 AS INT)) AS d1,
        |         CAST(l_orderkey % 90 + 10 AS INT) + 1 AS total_days
        |  FROM graft_alloc_li WHERE l_orderkey < 500),
        |exploded AS (
        |  SELECT l_orderkey, l_linenumber, inst, cents, d0, d1, total_days,
        |         explode(sequence(CAST(date_trunc('month', d0) AS DATE),
        |                          CAST(date_trunc('month', d1) AS DATE),
        |                          INTERVAL 1 MONTH)) AS m
        |  FROM spans),
        |sliced AS (
        |  SELECT l_orderkey, l_linenumber, inst, cents, total_days,
        |         date_format(m, 'yyyy-MM') AS month,
        |         datediff(LEAST(last_day(m), d1), GREATEST(m, d0)) + 1 AS days
        |  FROM exploded)
        |SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber, inst, month,
        |       CAST(days AS INT) AS days,
        |       CAST(FLOOR(cents * days / total_days) AS BIGINT) AS allocated_cents
        |FROM sliced
        |ORDER BY l_orderkey, l_linenumber, inst, month""".stripMargin)
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

  val all: Seq[OpQuery] = Seq(a53_tukey_fences, j25_interval_allocation, ts_crosscorr)
}
