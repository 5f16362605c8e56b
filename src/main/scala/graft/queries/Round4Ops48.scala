package graft.queries

import graft.Tables

/** Round-4 batch 48: discrete percentiles, composite bot scoring, and
  * greatest/least null semantics.
  */
object Round4Ops48 {

  /** percentile_disc: the DISCRETE percentile (an actual data value,
    * never interpolated) — the right quantile when the domain is
    * categorical-ordinal (latency buckets, rating scales). Integer
    * results, exact on both engines.
    */
  val a38_percentile_disc = OpQuery(
    "a38_percentile_disc",
    """SELECT l_returnflag,
      |       CAST(quantile_disc(CAST(l_quantity AS BIGINT), 0.5) AS BIGINT) AS p50_qty,
      |       CAST(quantile_disc(CAST(l_quantity AS BIGINT), 0.9) AS BIGINT) AS p90_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_pd_lineitem")
    spark.sql(
      """SELECT l_returnflag,
        |       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(l_quantity AS BIGINT)) AS BIGINT) AS p50_qty,
        |       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY CAST(l_quantity AS BIGINT)) AS BIGINT) AS p90_qty
        |FROM graft_pd_lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

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

  /** greatest/least null semantics: both engines skip NULL arguments
    * (returning NULL only when every argument is) — the non-obvious
    * cross-engine agreement pinned explicitly.
    */
  val f_greatest_least = OpQuery.sql("f_greatest_least", "orders")(
    """SELECT o_orderkey,
      |       CAST(greatest(o_totalprice,
      |                     CASE WHEN o_orderstatus = 'F' THEN NULL ELSE 100000.0 END) AS DOUBLE) AS g,
      |       CAST(least(o_totalprice,
      |                  CASE WHEN o_orderstatus = 'F' THEN NULL ELSE 100000.0 END) AS DOUBLE) AS l
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin)

  val all: Seq[OpQuery] = Seq(a38_percentile_disc, event_bot_score, f_greatest_least)
}
