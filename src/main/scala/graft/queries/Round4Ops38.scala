package graft.queries

import graft.Tables

/** Round-4 batch 38: CTAS into the session catalog, width_bucket
  * binning, time-weighted averages, and exact-duplicate embedding
  * detection.
  */
object Round4Ops38 {

  /** CREATE TABLE AS SELECT into the session catalog (managed parquet
    * table, not a temp view), read back by catalog name — the DDL
    * surface scripted ETL uses. The table is dropped and recreated so
    * the gate is rerunnable.
    */
  val s33_ctas = OpQuery(
    "s33_ctas",
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_ctas_docs")
    spark.sql("DROP TABLE IF EXISTS graft_ctas_summary")
    // a PREVIOUS session's managed-table directory survives while the
    // in-memory metastore forgets it — CTAS would fail on the stale
    // location, so clear it explicitly (rerunnability across JVMs)
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
    val stale = new java.io.File(
      if (wh.getScheme == null) wh.toString else wh.getPath, "graft_ctas_summary")
    if (stale.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(stale)
    }
    spark.sql(
      """CREATE TABLE graft_ctas_summary USING parquet AS
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM graft_ctas_docs
        |GROUP BY lang""".stripMargin)
    require(spark.catalog.tableExists("graft_ctas_summary"), "CTAS did not register")
    spark.table("graft_ctas_summary").orderBy("lang")
  }

  /** width_bucket binning: equal-width histogram assignment with
    * under/overflow buckets — the SQL-standard binning primitive. The
    * oracle replays the bucket arithmetic explicitly, so what's
    * verified is the function's edge behavior (clamps, exact
    * boundaries).
    */
  val f_width_bucket = OpQuery(
    "f_width_bucket",
    """SELECT CAST(b AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n
      |FROM (
      |  SELECT CASE WHEN o_totalprice < 0 THEN 0
      |              WHEN o_totalprice >= 400000 THEN 9
      |              ELSE CAST(TRUNC(o_totalprice / 50000) AS INT) + 1 END AS b
      |  FROM orders)
      |GROUP BY b
      |ORDER BY bucket""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_wb_orders")
    spark.sql(
      """SELECT CAST(b AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT width_bucket(o_totalprice, 0, 400000, 8) AS b FROM graft_wb_orders)
        |GROUP BY b
        |ORDER BY bucket""".stripMargin)
  }

  /** Time-weighted average purchase value per user-day (TWAP): each
    * value holds until the next event, weights are exact integer
    * seconds, the final division is the only float op. One user-keyed
    * lead window; the day rollup reuses the same shuffle.
    */
  val ts_twap = OpQuery(
    "ts_twap",
    """WITH seq AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |         CAST(ROUND(value * 100) AS BIGINT) AS cents,
      |         TRUNC(epoch(ts))::BIGINT AS t,
      |         TRUNC(epoch(LEAD(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                                    ORDER BY ts, event_id)))::BIGINT AS t_next
      |  FROM events WHERE event_type = 'purchase'),
      |weighted AS (
      |  SELECT user_id, d, cents, t_next - t AS w
      |  FROM seq WHERE t_next IS NOT NULL AND t_next > t)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
      |       CAST(SUM(w) AS BIGINT) AS total_weight_sec,
      |       CAST(ROUND(CAST(SUM(cents * w) AS DOUBLE) / SUM(w), 4) AS DOUBLE) AS twap_cents
      |FROM weighted
      |GROUP BY user_id, d
      |ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_twap_events")
    spark.sql(
      """WITH seq AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |         unix_timestamp(ts) AS t,
        |         unix_timestamp(LEAD(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                                       ORDER BY ts, event_id)) AS t_next
        |  FROM graft_twap_events WHERE event_type = 'purchase'),
        |weighted AS (
        |  SELECT user_id, d, cents, t_next - t AS w
        |  FROM seq WHERE t_next IS NOT NULL AND t_next > t)
        |SELECT user_id, date_format(d, 'yyyy-MM-dd') AS day,
        |       CAST(SUM(w) AS BIGINT) AS total_weight_sec,
        |       CAST(ROUND(CAST(SUM(cents * w) AS DOUBLE) / SUM(w), 4) AS DOUBLE) AS twap_cents
        |FROM weighted
        |GROUP BY user_id, d
        |ORDER BY user_id, day""".stripMargin)
  }

  /** Exact-duplicate embedding detection: fingerprint the fixed-point
    * rendering of each vector (micro-unit truncation — the same
    * quantization the JL gate uses), group on the fingerprint. Catches
    * the bit-identical copies that plague scraped embedding corpora
    * at one uniform-key shuffle (planted duplicates make the gate
    * non-vacuous — random vectors alone never collide).
    */
  val emb_dedup_exact = OpQuery.sql("emb_dedup_exact", "embeddings")(
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
      |fp AS (
      |  SELECT vec_id,
      |         md5(array_to_string(list_transform(embedding,
      |               x -> CAST(TRUNC(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), ',')) AS f
      |  FROM corpus)
      |SELECT f AS fingerprint,
      |       CAST(COUNT(*) AS BIGINT) AS n_copies,
      |       CAST(MIN(vec_id) AS BIGINT) AS keeper
      |FROM fp
      |GROUP BY f
      |HAVING COUNT(*) > 1
      |ORDER BY fingerprint""".stripMargin,
    "array_to_string(list_transform(" -> "array_join(transform(",
    "CAST(TRUNC(CAST(x AS DOUBLE) * 1000000) AS BIGINT)" ->
      "CAST(CAST(x AS DOUBLE) * 1000000 AS BIGINT)")

  val all: Seq[OpQuery] = Seq(s33_ctas, f_width_bucket, ts_twap, emb_dedup_exact)
}
