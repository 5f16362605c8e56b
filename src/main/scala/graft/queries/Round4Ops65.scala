package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 65: OHLC downsampling, local-maxima peak detection,
  * and directed-graph reciprocity.
  */
object Round4Ops65 {

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

  /** Directed-graph reciprocity over the event-type transition graph:
    * of the distinct A→B transitions users actually make, what share
    * also occur as B→A? One window pass builds the edges; the
    * reciprocity probe is a self-join on a tiny distinct edge set
    * (|event_types|² upper bound — broadcast at any scale).
    */
  val graph_reciprocity = OpQuery.sql("graph_reciprocity", "events")(
    """WITH seq AS (
      |  SELECT event_type AS u,
      |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v
      |  FROM events),
      |edges AS (
      |  SELECT DISTINCT u, v FROM seq WHERE v IS NOT NULL AND u <> v),
      |m AS (
      |  SELECT COUNT(*) AS n_edges,
      |         SUM(CASE WHEN r.u IS NOT NULL THEN 1 ELSE 0 END) AS reciprocated
      |  FROM edges e LEFT JOIN edges r ON e.u = r.v AND e.v = r.u)
      |SELECT CAST(n_edges AS BIGINT) AS n_edges,
      |       CAST(reciprocated AS BIGINT) AS reciprocated,
      |       CAST(ROUND(CAST(reciprocated AS DOUBLE) / n_edges, 6) AS DOUBLE) AS reciprocity
      |FROM m""".stripMargin)

  val all: Seq[OpQuery] = Seq(ts_ohlc, ts_peaks, graph_reciprocity)
}
