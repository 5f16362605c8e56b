package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 96: Beta-binomial posterior rates, schema-on-read
  * projection, and period-over-period deltas.
  */
object Round4Ops96 {

  /** Beta(1,1)-posterior error rates per event type with normal-approx
    * 95% credible intervals — the Bayesian shrinkage readout that keeps
    * small-sample types from screaming. Closed-form arithmetic over
    * integer counts; one grouped pass.
    */
  val a73_beta_binomial = OpQuery.sql("a73_beta_binomial", "events")(
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n,
      |         SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS hits
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |agg AS (
      |  SELECT event_type, SUM(n) AS n, SUM(hits) AS h FROM daily GROUP BY event_type),
      |post AS (
      |  SELECT event_type, n, h,
      |         (CAST(h AS DOUBLE) + 1) / (n + 2) AS mean,
      |         sqrt((CAST(h AS DOUBLE) + 1) * (n - h + 1) /
      |              (POW(CAST(n AS DOUBLE) + 2, 2) * (n + 3))) AS sd
      |  FROM agg)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(h AS BIGINT) AS hits,
      |       CAST(ROUND(mean, 6) AS DOUBLE) AS posterior_mean,
      |       CAST(ROUND(mean - 1.96 * sd, 6) AS DOUBLE) AS ci_lo,
      |       CAST(ROUND(mean + 1.96 * sd, 6) AS DOUBLE) AS ci_hi
      |FROM post
      |ORDER BY event_type""".stripMargin,
    "CAST(ts AS DATE)" -> "to_date(ts)")

  /** Schema-on-read projection: the parquet scan driven by an EXPLICIT
    * narrower schema (three of eleven lineitem columns, with
    * l_linenumber widened INT→LONG at read time) — proving projection
    * and upcast happen in the scan, not in a later select. The plan
    * reads only the requested columns; the oracle selects the same
    * three.
    */
  val s44_schema_on_read = OpQuery(
    "s44_schema_on_read",
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       CAST(l_quantity AS DOUBLE) AS l_quantity
      |FROM lineitem
      |WHERE l_orderkey < 600
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin) { (spark, dir) =>
    spark.read
      .schema("l_orderkey LONG, l_linenumber LONG, l_quantity DOUBLE")
      .parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") < 600)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  /** Period-over-period deltas in one pass: each day's purchase total
    * against yesterday (lag 1) and the same weekday last week (lag 7),
    * with percent changes — the dashboard staple. One sort, two lags,
    * exact cents until the final ratios.
    */
  val w12_period_over_period = OpQuery(
    "w12_period_over_period",
    """WITH daily AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |lagged AS (
      |  SELECT day, c,
      |         LAG(c, 1) OVER (ORDER BY day) AS prev_day,
      |         LAG(c, 7) OVER (ORDER BY day) AS prev_week
      |  FROM daily)
      |SELECT day, CAST(ROUND(CAST(c AS DOUBLE) / 100, 2) AS DOUBLE) AS total,
      |       CAST(ROUND(100.0 * (c - prev_day) / prev_day, 4) AS DOUBLE) AS dod_pct,
      |       CAST(ROUND(100.0 * (c - prev_week) / prev_week, 4) AS DOUBLE) AS wow_pct
      |FROM lagged
      |ORDER BY day""".stripMargin) { (spark, dir) =>
    val daily = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("c"))
    // bounded: one row per calendar day after the aggregation
    val w = graft.operators.TotalOrder.boundedGlobal(col("day"))
    graft.operators.TotalOrder.checkBounded(daily, "daily-purchase-spine")
      .withColumn("prev_day", lag(col("c"), 1).over(w))
      .withColumn("prev_week", lag(col("c"), 7).over(w))
      .select(col("day"),
        round(col("c").cast("double") / 100, 2).cast("double").as("total"),
        round(lit(100.0) * (col("c") - col("prev_day")) / col("prev_day"), 4)
          .cast("double").as("dod_pct"),
        round(lit(100.0) * (col("c") - col("prev_week")) / col("prev_week"), 4)
          .cast("double").as("wow_pct"))
      .orderBy("day")
  }

  val all: Seq[OpQuery] = Seq(a73_beta_binomial, s44_schema_on_read, w12_period_over_period)
}
