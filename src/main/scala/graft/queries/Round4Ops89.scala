package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 89: multiline JSON-array ingestion, Western Electric
  * control rules, and the Ljung–Box whiteness statistic.
  */
object Round4Ops89 {

  /** Multiline JSON ARRAY ingestion (one big `[{...},{...}]` document,
    * not JSON-lines): the API-export format that needs
    * `multiLine=true` because records span physical lines. The landing
    * file is materialized deterministically; the oracle recomputes the
    * same rows from parquet, proving the whole-file parse is lossless.
    * At scale one such file is a single split — the gate documents the
    * format's parallelism cost next to the JSONL gate's splittable
    * path.
    */
  val s43_json_array_read = OpQuery(
    "s43_json_array_read",
    """WITH first150 AS (
      |  SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id LIMIT 150)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
      |       CAST(n_chars AS BIGINT) AS n_chars
      |FROM first150
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val path = s"/tmp/graft_jsonarr_${math.abs(dir.hashCode)}.json"
    val rows = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
      .limit(150)
      .collect()
    val body = rows.map { r =>
      s"""  {\n    "doc_id": ${r.getLong(0)},\n    "lang": "${r.getString(1)}",\n    "n_chars": ${r.getLong(2)}\n  }"""
    }.mkString("[\n", ",\n", "\n]\n")
    val tmp = Paths.get(path + s".tmp-${System.nanoTime()}")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(path),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    spark.read
      .option("multiLine", "true")
      .schema("doc_id LONG, lang STRING, n_chars LONG")
      .json(path)
      .orderBy("doc_id")
  }

  /** Western Electric run rules on the daily purchase series: rule 1
    * (a point beyond 3σ) and rule 4 (8 consecutive points on one side
    * of the mean) — the SPC pattern alarms that single-point thresholds
    * miss. The mean/σ come from exact global cents moments; the
    * consecutive-side counter is a window over sign runs, all
    * engine-exact.
    */
  val ts_western_electric = OpQuery.sql("ts_western_electric", "events")(
    """WITH daily AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(c) AS s,
      |         SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS sq
      |  FROM daily),
      |scored AS (
      |  SELECT day, c,
      |         (c - CAST(s AS DOUBLE) / n) /
      |           sqrt(CAST(sq AS DOUBLE) / n - POW(CAST(s AS DOUBLE) / n, 2)) AS z,
      |         CASE WHEN c > CAST(s AS DOUBLE) / n THEN 1 ELSE 0 END AS side
      |  FROM daily CROSS JOIN m),
      |runs AS (
      |  SELECT day, z, side,
      |         ROW_NUMBER() OVER (ORDER BY day) -
      |           ROW_NUMBER() OVER (PARTITION BY side ORDER BY day) AS grp
      |  FROM scored),
      |streaks AS (
      |  SELECT day, z, side,
      |         ROW_NUMBER() OVER (PARTITION BY side, grp ORDER BY day) AS streak
      |  FROM runs)
      |SELECT day, CAST(ROUND(z, 4) AS DOUBLE) AS z,
      |       (ABS(z) > 3) AS rule1_beyond_3sigma,
      |       (streak >= 8) AS rule4_eight_one_side,
      |       CAST(streak AS INT) AS streak
      |FROM streaks
      |ORDER BY day""".stripMargin,
    "strftime(CAST(ts AS DATE), '%Y-%m-%d')" -> "date_format(to_date(ts), 'yyyy-MM-dd')")

  /** Ljung–Box whiteness statistic over lags 1–5 of the daily purchase
    * series: n(n+2)·Σ ρₖ²/(n−k) — "is there ANY autocorrelation left?"
    * in one number. Each lag's ρ comes from exact integer cross-sums
    * over the self-joined day series; the five quantized terms sum as
    * DECIMAL.
    */
  val a63_ljung_box = OpQuery.sql("a63_ljung_box", "events")(
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS s,
      |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sq
      |  FROM daily),
      |lags AS (SELECT unnest(range(1, 6)) AS k),
      |rhos AS (
      |  SELECT l.k,
      |         SUM((a.x - CAST(m.s AS DOUBLE) / m.n) *
      |             (b.x - CAST(m.s AS DOUBLE) / m.n)) /
      |           MAX(CAST(m.sq AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n) AS rho,
      |         MAX(m.n) AS n
      |  FROM lags l
      |  JOIN daily a ON TRUE
      |  JOIN daily b ON b.d = a.d + l.k
      |  CROSS JOIN m
      |  GROUP BY l.k),
      |terms AS (
      |  SELECT n, CAST(ROUND(rho * rho / (n - k), 12) AS DECIMAL(28,12)) AS t
      |  FROM rhos)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_days,
      |       CAST(ROUND(MAX(n) * (MAX(n) + 2.0) * CAST(SUM(t) AS DOUBLE), 6) AS DOUBLE)
      |         AS ljung_box_q
      |FROM terms""".stripMargin,
    "epoch(" -> "unix_timestamp(",
    "unnest(range(1, 6))" -> "explode(sequence(1, 5))")

  val all: Seq[OpQuery] = Seq(s43_json_array_read, ts_western_electric, a63_ljung_box)
}
