package graft.queries

import graft.Tables

/** Round-4 batch 24: seasonal decomposition, timezone conversion,
  * bit-exact EWMA, triangle counting with super-node exclusion, and the
  * outer-generator family.
  */
object Round4Ops24 {

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

  /** Named-zone timestamp conversion with DST handling (ICU tzdata on
    * both engines). The oracle pins the zone interpretation explicitly
    * (UTC-in → zone-out) so it is independent of either engine's
    * session timezone.
    */
  val f_timezone = OpQuery(
    "f_timezone",
    """SELECT event_id,
      |       strftime(timezone('America/New_York', timezone('UTC', ts)), '%Y-%m-%d %H:%M') AS ny_time,
      |       strftime(timezone('Asia/Tokyo', timezone('UTC', ts)), '%Y-%m-%d %H:%M') AS tokyo_time
      |FROM events WHERE event_id % 10 = 0
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_tz_events")
    spark.sql(
      """SELECT event_id,
        |       date_format(from_utc_timestamp(ts, 'America/New_York'), 'yyyy-MM-dd HH:mm') AS ny_time,
        |       date_format(from_utc_timestamp(ts, 'Asia/Tokyo'), 'yyyy-MM-dd HH:mm') AS tokyo_time
        |FROM graft_tz_events WHERE event_id % 10 = 0
        |ORDER BY event_id""".stripMargin)
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

  /** Triangle counting on the co-supply graph (suppliers sharing a
    * part), with the standard super-node exclusion: parts supplied by
    * more than 4 suppliers are dropped BEFORE pair expansion, bounding
    * the per-part blowup at C(4,2) — the same hub-capping every
    * production triangle counter applies, because one celebrity node
    * otherwise quadruples the edge list. Edges are oriented (u < v) so
    * each triangle counts once via the two-hop wedge join.
    */
  val graph_triangles = OpQuery.sql("graph_triangles", "lineitem")(
    """WITH eligible AS (
      |  SELECT l_partkey FROM lineitem GROUP BY l_partkey
      |  HAVING COUNT(DISTINCT l_suppkey) <= 4),
      |edges AS (
      |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a
      |  JOIN eligible e ON a.l_partkey = e.l_partkey
      |  JOIN lineitem b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey)
      |SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
      |       CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM edges e1
      |JOIN edges e2 ON e2.u = e1.v
      |JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin)

  /** Outer generators: explode_outer keeps the parent row (as a null
    * element) when its array is empty — the LEFT JOIN of the generator
    * family. Users with no qualifying purchases must survive.
    */
  val f_generator_outer = OpQuery(
    "f_generator_outer",
    """WITH users AS (SELECT DISTINCT user_id FROM events),
      |bigbuys AS (
      |  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' AND value > 90)
      |SELECT u.user_id, b.cents
      |FROM users u LEFT JOIN bigbuys b ON u.user_id = b.user_id
      |ORDER BY u.user_id, b.cents NULLS FIRST""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_go_events")
    spark.sql(
      """WITH arrs AS (
        |  SELECT user_id,
        |         collect_list(CASE WHEN event_type = 'purchase' AND value > 90
        |                           THEN CAST(ROUND(value * 100) AS BIGINT) END) AS cents_arr
        |  FROM graft_go_events
        |  GROUP BY user_id)
        |SELECT user_id, explode_outer(cents_arr) AS cents
        |FROM arrs
        |ORDER BY user_id, cents NULLS FIRST""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(
    ts_seasonal_decompose, f_timezone, ts_ewma, graph_triangles,
    f_generator_outer)
}
