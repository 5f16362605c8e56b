package graft.queries

import graft.Tables

/** Round-4 batch 91: audience overlap matrix, Snowflake-style id
  * decomposition, and the Hurst exponent via rescaled range.
  */
object Round4Ops91 {

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

  /** Snowflake-style distributed id codec: compose 64-bit ids as
    * (millis << 22) | (worker << 12) | seq from event fields, then
    * decompose them back with shifts and masks — the id scheme every
    * distributed writer uses, proven bit-exact by reconstructing the
    * source fields.
    */
  val f_snowflake_id = OpQuery(
    "f_snowflake_id",
    """WITH src AS (
      |  SELECT event_id,
      |         TRUNC(epoch(ts))::BIGINT * 1000 AS millis,
      |         user_id % 1024 AS worker,
      |         event_id % 4096 AS seq
      |  FROM events WHERE event_id < 500),
      |ids AS (
      |  SELECT event_id, millis, worker, seq,
      |         (millis << 22) | (worker << 12) | seq AS snow
      |  FROM src)
      |SELECT event_id, snow,
      |       (snow >> 22) AS millis_out,
      |       (snow >> 12) & 1023 AS worker_out,
      |       snow & 4095 AS seq_out,
      |       ((snow >> 22) = millis AND (snow >> 12) & 1023 = worker
      |        AND snow & 4095 = seq) AS roundtrip_ok
      |FROM ids
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_sf_events")
    spark.sql(
      """WITH src AS (
        |  SELECT event_id,
        |         unix_timestamp(ts) * 1000 AS millis,
        |         user_id % 1024 AS worker,
        |         event_id % 4096 AS seq
        |  FROM graft_sf_events WHERE event_id < 500),
        |ids AS (
        |  SELECT event_id, millis, worker, seq,
        |         shiftleft(millis, 22) | shiftleft(worker, 12) | seq AS snow
        |  FROM src)
        |SELECT event_id, snow,
        |       shiftright(snow, 22) AS millis_out,
        |       shiftright(snow, 12) & 1023 AS worker_out,
        |       snow & 4095 AS seq_out,
        |       (shiftright(snow, 22) = millis AND (shiftright(snow, 12) & 1023) = worker
        |        AND (snow & 4095) = seq) AS roundtrip_ok
        |FROM ids
        |ORDER BY event_id""".stripMargin)
  }

  /** Hurst exponent via rescaled-range (R/S) analysis of the daily
    * purchase series at block sizes 4/8/16: per block the cumulative
    * deviation range over the block std, averaged per size, then the
    * log–log least-squares slope — the long-memory probe behind
    * capacity forecasts. Deviations are quantized to DECIMAL before
    * their running sums, block moments are exact cents, and the final
    * slope is pinned three-point least squares.
    */
  val a66_hurst_exponent = OpQuery(
    "a66_hurst_exponent",
    """WITH daily AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x FROM (
      |    SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
      |           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
      |    FROM events WHERE event_type = 'purchase' GROUP BY 1) t),
      |sized AS (
      |  SELECT s.s, d.rn, d.x, CAST((d.rn - 1) AS BIGINT) // s.s AS blk
      |  FROM daily d, (SELECT unnest([4, 8, 16]) AS s) s),
      |counted AS (
      |  SELECT s, blk, COUNT(*) AS bn, SUM(x) AS bs,
      |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS bsq
      |  FROM sized GROUP BY s, blk
      |  HAVING COUNT(*) = MAX(s)),
      |devs AS (
      |  SELECT z.s, z.blk, z.rn,
      |         SUM(CAST(ROUND(z.x - CAST(c.bs AS DOUBLE) / c.bn, 9) AS DECIMAL(28,9)))
      |           OVER (PARTITION BY z.s, z.blk ORDER BY z.rn
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sqrt(CAST(c.bsq AS DOUBLE) / c.bn -
      |              POW(CAST(c.bs AS DOUBLE) / c.bn, 2)) AS sd
      |  FROM sized z JOIN counted c ON z.s = c.s AND z.blk = c.blk),
      |rs AS (
      |  SELECT s, blk,
      |         CAST(ROUND((MAX(CAST(cum AS DOUBLE)) - MIN(CAST(cum AS DOUBLE)))
      |                    / MAX(sd), 9) AS DECIMAL(28,9)) AS r_over_s
      |  FROM devs GROUP BY s, blk),
      |per_size AS (
      |  SELECT s, ln(CAST(s AS DOUBLE)) AS lx,
      |         ln(CAST(SUM(r_over_s) AS DOUBLE) / COUNT(*)) AS ly
      |  FROM rs GROUP BY s),
      |fit AS (
      |  SELECT COUNT(*) AS k, SUM(lx) AS sx, SUM(ly) AS sy,
      |         SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
      |  FROM per_size)
      |SELECT CAST(k AS INT) AS n_sizes,
      |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
      |         AS hurst
      |FROM fit""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_hu_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x FROM (
        |    SELECT CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT) AS d,
        |           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
        |    FROM graft_hu_events WHERE event_type = 'purchase' GROUP BY 1) t),
        |sized AS (
        |  SELECT s.s, d.rn, d.x, CAST((d.rn - 1) AS BIGINT) DIV s.s AS blk
        |  FROM daily d CROSS JOIN (SELECT explode(array(4, 8, 16)) AS s) s),
        |counted AS (
        |  SELECT s, blk, COUNT(*) AS bn, SUM(x) AS bs,
        |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS bsq
        |  FROM sized GROUP BY s, blk
        |  HAVING COUNT(*) = MAX(s)),
        |devs AS (
        |  SELECT z.s, z.blk, z.rn,
        |         SUM(CAST(ROUND(z.x - CAST(c.bs AS DOUBLE) / c.bn, 9) AS DECIMAL(28,9)))
        |           OVER (PARTITION BY z.s, z.blk ORDER BY z.rn
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sqrt(CAST(c.bsq AS DOUBLE) / c.bn -
        |              POW(CAST(c.bs AS DOUBLE) / c.bn, 2)) AS sd
        |  FROM sized z JOIN counted c ON z.s = c.s AND z.blk = c.blk),
        |rs AS (
        |  SELECT s, blk,
        |         CAST(ROUND((MAX(CAST(cum AS DOUBLE)) - MIN(CAST(cum AS DOUBLE)))
        |                    / MAX(sd), 9) AS DECIMAL(28,9)) AS r_over_s
        |  FROM devs GROUP BY s, blk),
        |per_size AS (
        |  SELECT s, ln(CAST(s AS DOUBLE)) AS lx,
        |         ln(CAST(SUM(r_over_s) AS DOUBLE) / COUNT(*)) AS ly
        |  FROM rs GROUP BY s),
        |fit AS (
        |  SELECT COUNT(*) AS k, SUM(lx) AS sx, SUM(ly) AS sy,
        |         SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
        |  FROM per_size)
        |SELECT CAST(k AS INT) AS n_sizes,
        |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
        |         AS hurst
        |FROM fit""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(event_audience_overlap, f_snowflake_id, a66_hurst_exponent)
}
