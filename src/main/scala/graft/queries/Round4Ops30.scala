package graft.queries

import graft.Tables

/** Round-4 batch 30: slug normalization, PSI distribution drift,
  * new-vs-returning decomposition, and the activity heatmap.
  */
object Round4Ops30 {

  /** URL-slug normalization + split_part extraction — the id-mangling
    * pair every content pipeline carries. Map-only codegen regexes,
    * identical semantics both engines.
    */
  val f_slugify = OpQuery.sql("f_slugify", "documents")(
    """SELECT doc_id,
      |       trim(regexp_replace(lower(concat(source, ' ', lang, ' doc ', CAST(doc_id AS VARCHAR))),
      |                          '[^a-z0-9]+', '-', 'g'), '-') AS slug,
      |       split_part(source, 'c', 2) AS src_num
      |FROM documents
      |ORDER BY doc_id""".stripMargin,
    "trim(regexp_replace(" -> "trim(BOTH '-' FROM regexp_replace(",
    "'-', 'g'), '-')" -> "'-'))",
    "VARCHAR" -> "STRING")

  /** Population stability index between the first and second half of the
    * event stream, per value band — the drift metric every deployed
    * model monitors. Band shares are exact integer ratios; the single
    * float PSI expression is written identically on both sides.
    */
  val dq_psi_drift = OpQuery(
    "dq_psi_drift",
    """WITH split AS (
      |  SELECT CASE WHEN epoch(ts)::BIGINT < (SELECT (epoch(MIN(ts))::BIGINT + epoch(MAX(ts))::BIGINT) // 2 FROM events)
      |              THEN 'ref' ELSE 'cur' END AS half,
      |         least(CAST(TRUNC(value) AS INT) // 20, 4) AS band
      |  FROM events WHERE event_type = 'purchase'),
      |counts AS (
      |  SELECT band,
      |         SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_ref,
      |         SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_cur
      |  FROM split GROUP BY band),
      |tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts)
      |SELECT CAST(band AS INT) AS band,
      |       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
      |       CAST(ROUND((CAST(n_cur AS DOUBLE) / tc - CAST(n_ref AS DOUBLE) / tr)
      |                  * ln((CAST(n_cur AS DOUBLE) / tc) / (CAST(n_ref AS DOUBLE) / tr)), 6) AS DOUBLE) AS psi_term
      |FROM counts, tot
      |WHERE n_ref > 0 AND n_cur > 0
      |ORDER BY band""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_psi_events")
    spark.sql(
      """WITH split AS (
        |  SELECT CASE WHEN unix_timestamp(ts) < (SELECT (unix_timestamp(MIN(ts)) + unix_timestamp(MAX(ts))) DIV 2 FROM graft_psi_events)
        |              THEN 'ref' ELSE 'cur' END AS half,
        |         least(CAST(value AS INT) DIV 20, 4) AS band
        |  FROM graft_psi_events WHERE event_type = 'purchase'),
        |counts AS (
        |  SELECT band,
        |         SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_ref,
        |         SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_cur
        |  FROM split GROUP BY band),
        |tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts)
        |SELECT CAST(band AS INT) AS band,
        |       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |       CAST(ROUND((CAST(n_cur AS DOUBLE) / tc - CAST(n_ref AS DOUBLE) / tr)
        |                  * ln((CAST(n_cur AS DOUBLE) / tc) / (CAST(n_ref AS DOUBLE) / tr)), 6) AS DOUBLE) AS psi_term
        |FROM counts, tot
        |WHERE n_ref > 0 AND n_cur > 0
        |ORDER BY band""".stripMargin)
  }

  /** Daily new-vs-returning decomposition: a user's first-ever active
    * day classifies them once; every later active day is returning.
    * Two aggregates on the user key sharing one shuffle, then a
    * day-keyed rollup.
    */
  val event_new_returning = OpQuery.sql("event_new_returning", "events")(
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |firsts AS (
      |  SELECT user_id, MIN(d) AS first_day FROM active GROUP BY user_id)
      |SELECT strftime(a.d, '%Y-%m-%d') AS day,
      |       CAST(SUM(CASE WHEN a.d = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |       CAST(SUM(CASE WHEN a.d > f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
      |FROM active a JOIN firsts f ON a.user_id = f.user_id
      |GROUP BY a.d
      |ORDER BY a.d""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  /** Day-of-week × hour activity heatmap — the grid behind every usage
    * dashboard. One aggregate on the (dow, hour) key.
    */
  val event_heatmap = OpQuery.sql("event_heatmap", "events")(
    """SELECT CAST(dayofweek(CAST(ts AS DATE)) AS INT) AS dow,
      |       CAST(hour(ts) AS INT) AS hr,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
      |FROM events
      |GROUP BY dayofweek(CAST(ts AS DATE)), hour(ts)
      |ORDER BY dow, hr""".stripMargin,
    "dayofweek(CAST(ts AS DATE))" -> "dayofweek(CAST(ts AS DATE)) - 1")

  val all: Seq[OpQuery] = Seq(
    f_slugify, dq_psi_drift, event_new_returning, event_heatmap)
}
