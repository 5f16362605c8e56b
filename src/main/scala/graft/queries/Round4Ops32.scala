package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 32: image tiling metadata, recursive file discovery,
  * cart abandonment (anti range join), and format-string parity.
  */
object Round4Ops32 {

  /** Image tiling: per-image grid of 64×64 tiles from the stored
    * dimensions (ceil division), exploded to one row per tile with its
    * pixel offsets — the patching step in front of every vision encoder.
    * Map-only sequence explode, mirroring the audio-window operator on
    * the image modality.
    */
  val mm_image_tiles = OpQuery(
    "mm_image_tiles",
    """WITH images AS (
      |  SELECT doc_id AS media_id,
      |         CAST(doc_id % 640 + 1 AS INT) AS w,
      |         CAST(doc_id % 480 + 1 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |grid AS (
      |  SELECT media_id, w, h,
      |         (w + 63) // 64 AS n_cols, (h + 63) // 64 AS n_rows
      |  FROM images)
      |SELECT media_id, CAST(t.tile AS INT) AS tile_idx,
      |       CAST((t.tile % n_cols) * 64 AS INT) AS x0,
      |       CAST((t.tile // n_cols) * 64 AS INT) AS y0,
      |       CAST(least((t.tile % n_cols) * 64 + 64, w) AS INT) AS x1,
      |       CAST(least((t.tile // n_cols) * 64 + 64, h) AS INT) AS y1
      |FROM grid, unnest(generate_series(0, n_cols * n_rows - 1)) AS t(tile)
      |ORDER BY media_id, tile_idx""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_tile_docs")
    spark.sql(
      """WITH images AS (
        |  SELECT doc_id AS media_id,
        |         CAST(doc_id % 640 + 1 AS INT) AS w,
        |         CAST(doc_id % 480 + 1 AS INT) AS h
        |  FROM graft_tile_docs WHERE doc_id % 3 = 0),
        |grid AS (
        |  SELECT media_id, w, h,
        |         CAST((w + 63) / 64 AS INT) AS n_cols, CAST((h + 63) / 64 AS INT) AS n_rows
        |  FROM images)
        |SELECT media_id, CAST(t.tile AS INT) AS tile_idx,
        |       CAST((t.tile % n_cols) * 64 AS INT) AS x0,
        |       CAST((t.tile DIV n_cols) * 64 AS INT) AS y0,
        |       CAST(least((t.tile % n_cols) * 64 + 64, w) AS INT) AS x1,
        |       CAST(least((t.tile DIV n_cols) * 64 + 64, h) AS INT) AS y1
        |FROM grid LATERAL VIEW explode(sequence(0, n_cols * n_rows - 1)) t AS tile
        |ORDER BY media_id, tile_idx""".stripMargin)
  }

  /** Recursive file discovery: datasets land as nested date trees
    * (year/month/file); recursiveFileLookup walks the whole tree while
    * pathGlobFilter keeps sidecar files out of the scan. The oracle
    * reads the source table — the gate proves discovery is lossless and
    * filtered.
    */
  val s28_recursive_lookup = OpQuery(
    "s28_recursive_lookup",
    """SELECT doc_id, lang
      |FROM documents
      |WHERE doc_id % 10 < 2
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 < 2).select("doc_id", "lang")
    val base = graft.queries.GateScratch.dir("graft-rec-").toString
    // nested tree: two levels, plus a decoy .json sidecar the glob must skip
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$base/2024/01")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$base/2024/02")
    docs.limit(5).write.json(s"$base/2024/03-sidecar")
    spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(base)
      .orderBy("doc_id")
  }

  /** Cart abandonment: views with NO purchase by the same user within
    * the following 24 h — the anti-join with a time-range residual
    * (equi on the uniform user key, so one shuffle), aggregated to a
    * per-day abandonment rate.
    */
  val event_abandonment = OpQuery.sql("event_abandonment", "events")(
    """WITH views AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |abandoned AS (
      |  SELECT v.event_id, v.ts
      |  FROM views v
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM events p
      |    WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
      |      AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 24 HOUR))
      |SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |       CAST(COUNT(*) AS BIGINT) AS abandoned_views
      |FROM abandoned
      |GROUP BY CAST(ts AS DATE)
      |ORDER BY day""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  /** Format-string parity: thousands-separated numbers, zero-padded
    * ids, printf composition — the report-rendering long tail.
    */
  val f_format = OpQuery.sql("f_format", "orders")(
    """SELECT o_orderkey,
      |       format('{:,}', CAST(ROUND(o_totalprice) AS BIGINT)) AS pretty_total,
      |       lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded_id,
      |       printf('%s/%d', o_orderstatus, CAST(year(o_orderdate) AS INT)) AS status_year
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin,
    "format('{:,}', CAST(ROUND(o_totalprice) AS BIGINT))" ->
      "format_number(CAST(ROUND(o_totalprice) AS BIGINT), 0)",
    "VARCHAR" -> "STRING")

  val all: Seq[OpQuery] = Seq(
    mm_image_tiles, s28_recursive_lookup, event_abandonment, f_format)
}
