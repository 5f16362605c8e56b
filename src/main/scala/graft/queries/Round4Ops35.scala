package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 35: the array-function long tail, exact bivariate
  * correlation, JSONL write round-trip, and Benford's-law auditing.
  */
object Round4Ops35 {

  /** Array-function long tail: flatten / slice / distinct / position /
    * remove over arrays built from row data, rendered sorted so the
    * values (not engine-internal orderings) are what's compared.
    */
  val f_array_extra = OpQuery(
    "f_array_extra",
    """WITH src AS (
      |  SELECT user_id, list_sort(list(DISTINCT event_type)) AS types,
      |         list_sort(list(DISTINCT CAST(value AS INT) // 25)) AS bands
      |  FROM (SELECT user_id, event_type, TRUNC(value) AS value FROM events WHERE value >= 0)
      |  GROUP BY user_id)
      |SELECT user_id,
      |       array_to_string(types, ',') AS type_list,
      |       array_to_string(bands, ',') AS band_list,
      |       CAST(len(types) AS INT) AS n_types,
      |       CAST(coalesce(list_position(types, 'purchase'), 0) AS INT) AS purchase_pos,
      |       array_to_string(list_filter(types, t -> t <> 'error'), ',') AS sans_error
      |FROM src
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_arr_events")
    spark.sql(
      """WITH src AS (
        |  SELECT user_id, array_sort(collect_set(event_type)) AS types,
        |         array_sort(collect_set(CAST(value AS INT) DIV 25)) AS bands
        |  FROM (SELECT user_id, event_type, value FROM graft_arr_events WHERE value >= 0)
        |  GROUP BY user_id)
        |SELECT user_id,
        |       array_join(types, ',') AS type_list,
        |       array_join(bands, ',') AS band_list,
        |       CAST(size(types) AS INT) AS n_types,
        |       CAST(array_position(types, 'purchase') AS INT) AS purchase_pos,
        |       array_join(filter(types, t -> t <> 'error'), ',') AS sans_error
        |FROM src
        |ORDER BY user_id""".stripMargin)
  }

  /** Pearson correlation and covariance from exact integer moments
    * (price vs quantity per return flag) — bypassing both engines'
    * single-pass accumulators for the definition itself, like
    * a31_variance does for variance.
    */
  val a33_corr = OpQuery.sql("a33_corr", "lineitem")(
    """WITH b AS (
      |  SELECT l_returnflag AS grp,
      |         CAST(ROUND(l_extendedprice) AS BIGINT) AS x,
      |         CAST(l_quantity AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT grp, COUNT(*) AS n,
      |         SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
      |         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
      |  FROM b GROUP BY grp)
      |SELECT grp, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / n, 4) AS DOUBLE) AS covar_pop,
      |       CAST(ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
      |            / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
      |               * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)), 6) AS DOUBLE) AS corr
      |FROM m
      |ORDER BY grp""".stripMargin)

  /** JSONL WRITE round-trip: the export side of the SFT/DPO formatters —
    * df.write.json then read back with an explicit schema must be
    * lossless (types included). The oracle reads the source table only.
    */
  val s31_jsonl_write = OpQuery(
    "s31_jsonl_write",
    """SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE doc_id % 7 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 7 === 0).select("doc_id", "lang", "n_chars")
    val out = graft.queries.GateScratch.dir("graft-jsonlw-").toString
    docs.write.mode("overwrite").json(out)
    spark.read.schema(docs.schema).json(out).orderBy("doc_id")
  }

  /** Benford's-law first-digit audit on order totals — the fraud/
    * anomaly screen on financial columns: observed first-digit counts
    * vs the log10(1+1/d) expectation, exact integer counts plus one
    * shared float expression per digit.
    */
  val dq_benford = OpQuery.sql("dq_benford", "orders")(
    """WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
      |  FROM orders WHERE o_totalprice >= 1),
      |counts AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
      |tot AS (SELECT SUM(n) AS t FROM counts)
      |SELECT CAST(d AS INT) AS first_digit, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(CAST(n AS DOUBLE) / t, 6) AS DOUBLE) AS observed,
      |       CAST(ROUND(log10(1 + 1.0 / d), 6) AS DOUBLE) AS benford_expected
      |FROM counts, tot
      |ORDER BY first_digit""".stripMargin,
    "substr(" -> "substring(",
    "VARCHAR" -> "STRING")

  val all: Seq[OpQuery] = Seq(
    f_array_extra, a33_corr, s31_jsonl_write, dq_benford)
}
