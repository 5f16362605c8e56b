package graft.queries

import graft.Tables

/** Round-4 batch 37: running distinct counts (the windows-can't-
  * COUNT-DISTINCT workaround), inter-event gap statistics, and
  * role-playing dimension joins.
  */
object Round4Ops37 {

  /** Running distinct event types per user: windows cannot COUNT
    * DISTINCT, so mark each (user, type)'s FIRST occurrence with
    * row_number and take a running sum of the flags — two windows on
    * the same user partitioning, no extra shuffle. Emitted at each
    * user's last event of every day to keep the gate bounded.
    */
  val w8_running_distinct = OpQuery.sql("w8_running_distinct", "events")(
    """WITH ordered AS (
      |  SELECT user_id, event_id, event_type, ts, CAST(ts AS DATE) AS d,
      |         CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                                      ORDER BY ts, event_id) = 1
      |              THEN 1 ELSE 0 END AS first_of_type
      |  FROM events),
      |running AS (
      |  SELECT user_id, event_id, d,
      |         SUM(first_of_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS distinct_types_so_far,
      |         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                            ORDER BY ts DESC, event_id DESC) AS rn_day
      |  FROM ordered)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
      |       CAST(distinct_types_so_far AS BIGINT) AS distinct_types_so_far
      |FROM running WHERE rn_day = 1
      |ORDER BY user_id, day""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

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

  /** Role-playing dimension: ONE year spine joined in two roles (order
    * year and ship year) — the classic warehouse pattern where the same
    * physical dimension serves several foreign keys. Both legs are
    * broadcast-sized.
    */
  val j20_role_playing = OpQuery.sql("j20_role_playing", "lineitem", "orders")(
    """WITH yearspine AS (
      |  SELECT y.y AS yr, concat('FY', CAST(y.y AS VARCHAR)) AS label
      |  FROM (SELECT unnest(generate_series(1995, 2001)) AS y) y),
      |f AS (
      |  SELECT l.l_orderkey, l.l_linenumber,
      |         year(o.o_orderdate) AS oy, year(l.l_shipdate) AS sy
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT od.label AS ordered_in, sd.label AS shipped_in,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM f
      |JOIN yearspine od ON f.oy = od.yr
      |JOIN yearspine sd ON f.sy = sd.yr
      |GROUP BY od.label, sd.label
      |ORDER BY ordered_in, shipped_in""".stripMargin,
    "VARCHAR" -> "STRING",
    "unnest(generate_series(" -> "explode(sequence(")

  val all: Seq[OpQuery] = Seq(
    w8_running_distinct, event_gap_stats, j20_role_playing)
}
