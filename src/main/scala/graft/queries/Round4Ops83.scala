package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 83: leakage-safe feature backfill, duplicate-payment
  * audit, and level-shift detection.
  */
object Round4Ops83 {

  /** Point-in-time feature backfill: at every purchase (label) event,
    * the user's trailing 1-hour and 1-day activity counts and spend —
    * computed with RANGE frames over epoch seconds so only STRICTLY
    * PRIOR events contribute. This is the feature-store backfill that
    * must not leak the label row itself; one shuffle on user_id serves
    * every horizon.
    */
  val ml_feature_backfill = OpQuery(
    "ml_feature_backfill",
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |         TRUNC(epoch(ts))::BIGINT AS t,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |feat AS (
      |  SELECT user_id, event_id, event_type, t,
      |         COUNT(*) OVER (PARTITION BY user_id ORDER BY t
      |           RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING) AS n_1h,
      |         COUNT(*) OVER (PARTITION BY user_id ORDER BY t
      |           RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING) AS n_1d,
      |         SUM(cents) OVER (PARTITION BY user_id ORDER BY t
      |           RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING) AS spend_1d
      |  FROM ev)
      |SELECT user_id, event_id, t,
      |       CAST(n_1h AS BIGINT) AS n_1h, CAST(n_1d AS BIGINT) AS n_1d,
      |       CAST(COALESCE(spend_1d, 0) AS BIGINT) AS spend_1d_cents
      |FROM feat
      |WHERE event_type = 'purchase' AND user_id < 40
      |ORDER BY user_id, t, event_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val h1 = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-3600, -1)
    val d1 = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-86400, -1)
    ev.withColumn("n_1h", count(lit(1)).over(h1))
      .withColumn("n_1d", count(lit(1)).over(d1))
      .withColumn("spend_1d", sum(col("cents")).over(d1))
      .filter(col("event_type") === "purchase" && col("user_id") < 40)
      .select(col("user_id"), col("event_id"), col("t"),
        col("n_1h").cast("long").as("n_1h"),
        col("n_1d").cast("long").as("n_1d"),
        coalesce(col("spend_1d"), lit(0)).cast("long").as("spend_1d_cents"))
      .orderBy("user_id", "t", "event_id")
  }

  /** Duplicate-payment audit: order pairs from the SAME customer on the
    * SAME day with their amount delta — the double-charge review queue.
    * The self-join is blocked on (customer, day), so candidates only
    * form inside tiny per-key buckets; at scale that is one shuffle and
    * near-zero fan-out instead of a quadratic probe.
    */
  val dq_double_charge = OpQuery(
    "dq_double_charge",
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey,
      |         CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS d,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT a.o_custkey, a.d,
      |       a.o_orderkey AS order_a, b.o_orderkey AS order_b,
      |       a.cents AS cents_a, b.cents AS cents_b,
      |       ABS(a.cents - b.cents) AS delta_cents
      |FROM o a JOIN o b
      |  ON a.o_custkey = b.o_custkey AND a.d = b.d
      | AND a.o_orderkey < b.o_orderkey
      |ORDER BY a.o_custkey, a.d, order_a, order_b""".stripMargin) { (spark, dir) =>
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(unix_timestamp(col("o_orderdate")) / 86400).cast("long").as("d"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    o.as("a").join(o.as("b"),
        col("a.o_custkey") === col("b.o_custkey") &&
          col("a.d") === col("b.d") &&
          col("a.o_orderkey") < col("b.o_orderkey"))
      .select(col("a.o_custkey"), col("a.d"),
        col("a.o_orderkey").as("order_a"), col("b.o_orderkey").as("order_b"),
        col("a.cents").as("cents_a"), col("b.cents").as("cents_b"),
        abs(col("a.cents") - col("b.cents")).as("delta_cents"))
      .orderBy("o_custkey", "d", "order_a", "order_b")
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

  val all: Seq[OpQuery] = Seq(ml_feature_backfill, dq_double_charge, ts_level_shift)
}
