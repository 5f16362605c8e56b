package graft.queries

import graft.Tables

/** Round-4 batch 61: URL percent-encoding, trimmed means, and p-chart
  * process control.
  */
object Round4Ops61 {

  /** url_encode / url_decode round trip on constructed strings with
    * spaces and reserved characters; the oracle states the expected
    * encoding explicitly (space → %2B/%20 families are where engines
    * usually disagree — pinned here as application/x-www-form-urlencoded,
    * Spark's contract).
    */
  val f_url_codec = OpQuery(
    "f_url_codec",
    """SELECT doc_id,
      |       concat(lang, '+', replace(source, 'src', 'src%26')) AS encoded,
      |       concat(lang, ' ', replace(source, 'src', 'src&')) AS roundtrip
      |FROM documents
      |WHERE doc_id % 31 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_urlc2_docs")
    spark.sql(
      """WITH raw AS (
        |  SELECT doc_id, concat(lang, ' ', replace(source, 'src', 'src&')) AS s
        |  FROM graft_urlc2_docs WHERE doc_id % 31 = 0)
        |SELECT doc_id,
        |       url_encode(s) AS encoded,
        |       url_decode(url_encode(s)) AS roundtrip
        |FROM raw
        |ORDER BY doc_id""".stripMargin)
  }

  /** Trimmed mean: the average of values strictly inside the exact
    * [p10, p90] band — the robust center that survives fat tails.
    * Bounds are exact interpolated percentiles broadcast back; the
    * trimmed sum stays DECIMAL.
    */
  val a44_trimmed_mean = OpQuery.sql("a44_trimmed_mean", "orders")(
    """WITH v AS (SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS x FROM orders),
      |b AS (SELECT quantile_cont(x, 0.1) AS lo, quantile_cont(x, 0.9) AS hi FROM v)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
      |       CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS trimmed_mean
      |FROM v, b
      |WHERE x >= b.lo AND x <= b.hi""".stripMargin,
    "quantile_cont(" -> "percentile(")

  /** p-chart: daily error PROPORTION against 3σ binomial control limits
    * around the corpus-wide rate — statistical process control for the
    * pipeline's own health stream. Exact counts; the limit expression
    * is shared; out-of-control days are the output.
    */
  val dq_p_chart = OpQuery.sql("dq_p_chart", "events")(
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
      |         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
      |  FROM events GROUP BY CAST(ts AS DATE)),
      |pbar AS (SELECT CAST(SUM(errs) AS DOUBLE) / SUM(n) AS p FROM daily)
      |SELECT strftime(d, '%Y-%m-%d') AS day,
      |       CAST(errs AS BIGINT) AS errs, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(p - 3 * sqrt(p * (1 - p) / n), 6) AS DOUBLE) AS lcl,
      |       CAST(ROUND(p + 3 * sqrt(p * (1 - p) / n), 6) AS DOUBLE) AS ucl,
      |       (abs(CAST(errs AS DOUBLE) / n - p) > 3 * sqrt(p * (1 - p) / n))
      |         AS out_of_control
      |FROM daily, pbar
      |ORDER BY day""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  val all: Seq[OpQuery] = Seq(f_url_codec, a44_trimmed_mean, dq_p_chart)
}
