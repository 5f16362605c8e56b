package graft.queries

import graft.Tables

/** Round-4 batch 42: velocity flags (RANGE-frame-on-epoch windows),
  * decile lift tables, and regex-flag parity.
  */
object Round4Ops42 {

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

  /** Decile lift table: rank customers into spend deciles, then each
    * decile's share of total spend vs its 10% population share — the
    * campaign-targeting table. NTILE over the customer aggregate
    * (dimension-sized), DECIMAL-exact spend.
    */
  val a34_decile_lift = OpQuery(
    "a34_decile_lift",
    """WITH spend AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT s, NTILE(10) OVER (ORDER BY s DESC, o_custkey) AS decile FROM spend),
      |per AS (
      |  SELECT decile, COUNT(*) AS n, SUM(s) AS ds FROM ranked GROUP BY decile),
      |tot AS (SELECT SUM(ds) AS t, SUM(n) AS cn FROM per)
      |SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n_customers,
      |       CAST(ROUND(CAST(ds AS DOUBLE) / t, 6) AS DOUBLE) AS spend_share,
      |       CAST(ROUND((CAST(ds AS DOUBLE) / t) / (CAST(n AS DOUBLE) / cn), 4) AS DOUBLE) AS lift
      |FROM per, tot
      |ORDER BY decile""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_lift_orders")
    // decile assignment via TotalOrder.ntile (two-phase range ranks,
    // bit-equal to the window NTILE) — the window form single-reduced
    // the whole per-customer spend frame
    import org.apache.spark.sql.functions.col
    graft.operators.TotalOrder
      .ntile(
        spark.sql(
          """SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
            |FROM graft_lift_orders GROUP BY o_custkey""".stripMargin),
        Seq(col("s").desc, col("o_custkey")), 10, "decile")
      .select(col("s"), col("decile"))
      .createOrReplaceTempView("graft_lift_ranked")
    spark.sql(
      """WITH ranked AS (SELECT s, decile FROM graft_lift_ranked),
        |per AS (
        |  SELECT decile, COUNT(*) AS n, SUM(s) AS ds FROM ranked GROUP BY decile),
        |tot AS (SELECT SUM(ds) AS t, SUM(n) AS cn FROM per)
        |SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n_customers,
        |       CAST(ROUND(CAST(ds AS DOUBLE) / t, 6) AS DOUBLE) AS spend_share,
        |       CAST(ROUND((CAST(ds AS DOUBLE) / t) / (CAST(n AS DOUBLE) / cn), 4) AS DOUBLE) AS lift
        |FROM per, tot
        |ORDER BY decile""".stripMargin)
  }

  /** Inline regex flags: case-insensitive (?i) matching — both engines
    * honor inline flags, pinned on counts and extraction.
    */
  val f_regex_flags = OpQuery(
    "f_regex_flags",
    """SELECT source,
      |       CAST(SUM(CASE WHEN regexp_matches(source, '(?i)^SRC1') THEN 1 ELSE 0 END) AS BIGINT) AS ci_src1,
      |       CAST(SUM(len(regexp_extract_all(upper(source), '(?i)src'))) AS BIGINT) AS ci_hits
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_rx_docs")
    spark.sql(
      """SELECT source,
        |       CAST(SUM(CASE WHEN source RLIKE '(?i)^SRC1' THEN 1 ELSE 0 END) AS BIGINT) AS ci_src1,
        |       CAST(SUM(size(regexp_extract_all(upper(source), '(?i)src', 0))) AS BIGINT) AS ci_hits
        |FROM graft_rx_docs
        |GROUP BY source
        |ORDER BY source""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(
    event_velocity_flags, a34_decile_lift, f_regex_flags)
}
