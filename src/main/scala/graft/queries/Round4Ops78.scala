package graft.queries

import graft.Tables

/** Round-4 batch 78: product-quantization ANN (encode + asymmetric
  * distance) and Page–Hinkley drift detection.
  */
object Round4Ops78 {

  /** Product quantization: the 64-dim embedding space is split into 8
    * subspaces of 8 dims; each subvector is encoded as the nearest of 4
    * codebook entries (vectors 0–3), shrinking every vector to 8 small
    * codes. A query then scores the whole corpus through an
    * asymmetric-distance lookup table (8 × 4 entries) instead of raw
    * vectors — the memory-bandwidth trick behind billion-scale ANN. All
    * distances fold left-to-right in doubles (bit-identical across
    * engines); ties go to the smaller code. Top-10 by estimated
    * distance.
    */
  val sim_ann_pq = OpQuery(
    "sim_ann_pq",
    """WITH emb AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS c, e AS ce FROM emb WHERE vec_id < 4),
      |subs AS (SELECT unnest(range(0, 8)) AS s),
      |assign AS (
      |  SELECT v.vec_id, sub.s, ct.c,
      |         list_sum(list_transform(range(1, 9),
      |           j -> (v.e[sub.s * 8 + j] - ct.ce[sub.s * 8 + j]) *
      |                (v.e[sub.s * 8 + j] - ct.ce[sub.s * 8 + j]))) AS d2
      |  FROM emb v, subs sub, cents ct),
      |codes AS (
      |  SELECT vec_id, s, c AS code FROM (
      |    SELECT vec_id, s, c,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rk
      |    FROM assign) t WHERE rk = 1),
      |q AS (SELECT e AS qe FROM emb WHERE vec_id = 42),
      |lut AS (
      |  SELECT sub.s, ct.c,
      |         list_sum(list_transform(range(1, 9),
      |           j -> (q.qe[sub.s * 8 + j] - ct.ce[sub.s * 8 + j]) *
      |                (q.qe[sub.s * 8 + j] - ct.ce[sub.s * 8 + j]))) AS d2q
      |  FROM q, subs sub, cents ct),
      |scored AS (
      |  SELECT cd.vec_id,
      |         CAST(SUM(CAST(ROUND(l.d2q, 12) AS DECIMAL(28,12))) AS DOUBLE) AS est
      |  FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.c
      |  WHERE cd.vec_id <> 42
      |  GROUP BY cd.vec_id)
      |SELECT vec_id, CAST(ROUND(est, 6) AS DOUBLE) AS est_dist
      |FROM scored
      |ORDER BY est, vec_id
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_pq_emb")
    spark.sql(
      """WITH emb AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM graft_pq_emb),
        |cents AS (SELECT vec_id AS c, e AS ce FROM emb WHERE vec_id < 4),
        |subs AS (SELECT explode(sequence(0, 7)) AS s),
        |assign AS (
        |  SELECT v.vec_id, sub.s, ct.c,
        |         aggregate(transform(sequence(1, 8),
        |           j -> (v.e[sub.s * 8 + j - 1] - ct.ce[sub.s * 8 + j - 1]) *
        |                (v.e[sub.s * 8 + j - 1] - ct.ce[sub.s * 8 + j - 1])),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d2
        |  FROM emb v CROSS JOIN subs sub CROSS JOIN cents ct),
        |codes AS (
        |  SELECT vec_id, s, c AS code FROM (
        |    SELECT vec_id, s, c,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rk
        |    FROM assign) t WHERE rk = 1),
        |q AS (SELECT e AS qe FROM emb WHERE vec_id = 42),
        |lut AS (
        |  SELECT sub.s, ct.c,
        |         aggregate(transform(sequence(1, 8),
        |           j -> (q.qe[sub.s * 8 + j - 1] - ct.ce[sub.s * 8 + j - 1]) *
        |                (q.qe[sub.s * 8 + j - 1] - ct.ce[sub.s * 8 + j - 1])),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d2q
        |  FROM q CROSS JOIN subs sub CROSS JOIN cents ct),
        |scored AS (
        |  SELECT cd.vec_id,
        |         CAST(SUM(CAST(ROUND(l.d2q, 12) AS DECIMAL(28,12))) AS DOUBLE) AS est
        |  FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.c
        |  WHERE cd.vec_id <> 42
        |  GROUP BY cd.vec_id)
        |SELECT vec_id, CAST(ROUND(est, 6) AS DOUBLE) AS est_dist
        |FROM scored
        |ORDER BY est, vec_id
        |LIMIT 10""".stripMargin)
  }

  /** Page–Hinkley drift detector over the daily mean purchase value:
    * mₜ = Σ(xᵢ − meanᵢ − δ) with the running mean from exact prefix
    * sums, PHₜ = max(mᵢ) − mₜ, alarm when PH exceeds λ. Every
    * cumulative term is quantized to DECIMAL(28,12) before summation so
    * the sequential statistic is reproducible across engines — the
    * streaming-drift primitive next to CUSUM with a confidence drift
    * margin built in.
    */
  val ts_page_hinkley = OpQuery.sql("ts_page_hinkley", "events")(
    """WITH daily AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c,
      |         COUNT(*) AS k
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |seq AS (
      |  SELECT day,
      |         CAST(c AS DOUBLE) / k / 100 AS x,
      |         CAST(SUM(c) OVER w AS DOUBLE) / SUM(k) OVER w / 100 AS mean_t
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |terms AS (
      |  SELECT day, x, mean_t,
      |         CAST(ROUND(x - mean_t - 0.005, 12) AS DECIMAL(28,12)) AS t
      |  FROM seq),
      |walked AS (
      |  SELECT day, x,
      |         SUM(t) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      |  FROM terms),
      |ph AS (
      |  SELECT day, x, m,
      |         MAX(m) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m AS stat
      |  FROM walked)
      |SELECT day, CAST(ROUND(x, 4) AS DOUBLE) AS mean_value,
      |       CAST(ROUND(CAST(m AS DOUBLE), 6) AS DOUBLE) AS m,
      |       CAST(ROUND(CAST(stat AS DOUBLE), 6) AS DOUBLE) AS ph,
      |       CAST(stat AS DOUBLE) > 2.0 AS alarm
      |FROM ph
      |ORDER BY day""".stripMargin,
    "strftime(CAST(ts AS DATE), '%Y-%m-%d')" -> "date_format(to_date(ts), 'yyyy-MM-dd')")

  val all: Seq[OpQuery] = Seq(sim_ann_pq, ts_page_hinkley)
}
