package graft.queries

import graft.Tables

/** Round-4 batch 85: running mode over an event stream, the
  * nearest-centroid classifier, and homoglyph normalization.
  */
object Round4Ops85 {

  /** Running mode: at every event, the user's most frequent event type
    * SO FAR — the online-summary window that plain running sums can't
    * express. Each row's type gets its running count; the mode is
    * recovered from a running MAX over (count, fixed type rank) encoded
    * into one integer, so two windows over the same (user, time) sort
    * do all the work — no per-row re-aggregation.
    */
  val w9_running_mode = OpQuery.sql("w9_running_mode", "events")(
    """WITH typed AS (
      |  SELECT user_id, event_id, ts,
      |         CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
      |              WHEN 'purchase' THEN 2 WHEN 'error' THEN 3 ELSE 4 END AS tr
      |  FROM events WHERE user_id < 20),
      |counted AS (
      |  SELECT user_id, event_id, ts, tr,
      |         COUNT(*) OVER (PARTITION BY user_id, tr ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM typed),
      |encoded AS (
      |  SELECT user_id, event_id, ts,
      |         MAX(c * 10 + (9 - tr)) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS code
      |  FROM counted)
      |SELECT user_id, event_id,
      |       CAST(FLOOR(code / 10) AS BIGINT) AS mode_count,
      |       CAST(9 - code % 10 AS INT) AS mode_type_rank
      |FROM encoded
      |ORDER BY user_id, event_id""".stripMargin)

  /** Nearest-centroid (Rocchio) classifier evaluated on its own
    * training set: per-label centroids from quantized DECIMAL component
    * means, every vector assigned to the closest centroid, and the
    * label-level confusion summary. The heavy stage is one exploded
    * (label, dim) aggregation + a broadcast-size centroid table — the
    * shape that holds when the corpus is 10⁹ vectors and labels are
    * dozens.
    */
  val sim_centroid_classifier = OpQuery(
    "sim_centroid_classifier",
    """WITH pts AS (
      |  SELECT vec_id, label % 4 AS y,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |comps AS (
      |  SELECT y, i.i AS dim, CAST(ROUND(e[i.i], 12) AS DECIMAL(28,12)) AS v
      |  FROM pts, (SELECT unnest(range(1, 65)) AS i) i),
      |cents AS (
      |  SELECT y, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS c
      |  FROM comps GROUP BY y, dim),
      |cvec AS (
      |  SELECT y, list(c ORDER BY dim) AS cv FROM cents GROUP BY y),
      |scored AS (
      |  SELECT p.vec_id, p.y, cv.y AS cand,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (p.e[i] - cv.cv[i]) * (p.e[i] - cv.cv[i]))) AS d2
      |  FROM pts p, cvec cv),
      |assigned AS (
      |  SELECT vec_id, y, cand AS yhat FROM (
      |    SELECT vec_id, y, cand,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rk
      |    FROM scored) t WHERE rk = 1)
      |SELECT CAST(y AS INT) AS label, CAST(yhat AS INT) AS predicted,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM assigned
      |GROUP BY y, yhat
      |ORDER BY label, predicted""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_nc_emb")
    spark.sql(
      """WITH pts AS (
        |  SELECT vec_id, label % 4 AS y,
        |         transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM graft_nc_emb),
        |comps AS (
        |  SELECT y, i.i AS dim, CAST(ROUND(e[i.i - 1], 12) AS DECIMAL(28,12)) AS v
        |  FROM pts, (SELECT explode(sequence(1, 64)) AS i) i),
        |cents AS (
        |  SELECT y, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS c
        |  FROM comps GROUP BY y, dim),
        |cvec AS (
        |  SELECT y, transform(array_sort(collect_list(struct(dim, c))),
        |                      s -> s.c) AS cv
        |  FROM cents GROUP BY y),
        |scored AS (
        |  SELECT p.vec_id, p.y, cv.y AS cand,
        |         aggregate(transform(sequence(1, 64),
        |           i -> (p.e[i - 1] - cv.cv[i - 1]) * (p.e[i - 1] - cv.cv[i - 1])),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d2
        |  FROM pts p CROSS JOIN cvec cv),
        |assigned AS (
        |  SELECT vec_id, y, cand AS yhat FROM (
        |    SELECT vec_id, y, cand,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rk
        |    FROM scored) t WHERE rk = 1)
        |SELECT CAST(y AS INT) AS label, CAST(yhat AS INT) AS predicted,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM assigned
        |GROUP BY y, yhat
        |ORDER BY label, predicted""".stripMargin)
  }

  /** Homoglyph normalization: the OCR/spam canon that folds 0↔O, 1↔l,
    * 5↔S, 8↔B before fingerprinting — Spark's codegen'd `translate`
    * builtin pinned against a replace-chain oracle, then the dedup
    * payoff: how many extra fingerprint collisions the canon creates.
    */
  val f_translate_homoglyphs = OpQuery(
    "f_translate_homoglyphs",
    """WITH noisy AS (
      |  SELECT doc_id,
      |         replace(replace(replace(substr(text, 1, 40), 'o', '0'), 'l', '1'),
      |                 's', '5') AS raw
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, substr(text, 1, 40) FROM documents WHERE doc_id % 2 = 1),
      |canon AS (
      |  SELECT doc_id, raw,
      |         replace(replace(replace(replace(replace(replace(
      |           lower(raw), '0', 'o'), '1', 'l'), '5', 's'), '8', 'b'),
      |           '|', 'l'), '@', 'a') AS canonical
      |  FROM noisy)
      |SELECT doc_id, raw, canonical,
      |       md5(canonical) AS canon_fp
      |FROM canon
      |WHERE doc_id < 200
      |ORDER BY doc_id, raw""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_hg_docs")
    spark.sql(
      """WITH noisy AS (
        |  SELECT doc_id,
        |         translate(substring(text, 1, 40), 'ols', '015') AS raw
        |  FROM graft_hg_docs WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, substring(text, 1, 40) FROM graft_hg_docs WHERE doc_id % 2 = 1),
        |canon AS (
        |  SELECT doc_id, raw,
        |         translate(lower(raw), '0158|@', 'olsbla') AS canonical
        |  FROM noisy)
        |SELECT doc_id, raw, canonical,
        |       md5(canonical) AS canon_fp
        |FROM canon
        |WHERE doc_id < 200
        |ORDER BY doc_id, raw""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(w9_running_mode, sim_centroid_classifier, f_translate_homoglyphs)
}
