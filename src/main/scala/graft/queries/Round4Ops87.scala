package graft.queries

import graft.Tables

/** Round-4 batch 87: the Hill diversity profile, cross-lingual
  * near-duplicate leakage, and capture–recapture population
  * estimation.
  */
object Round4Ops87 {

  /** Hill diversity profile of the source mix per language: q=0
    * (richness), q=1 (exp Shannon), q=2 (inverse Simpson) — the three
    * diversity numbers ecology settled on, here applied to corpus
    * composition. Share-based terms are quantized to 12 decimals
    * before their DECIMAL sums so the profile is engine-exact; one
    * grouped pass over (lang, source) counts feeds all three.
    */
  val a60_hill_diversity = OpQuery.sql("a60_hill_diversity", "documents")(
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source),
      |tot AS (SELECT lang, SUM(n) AS t FROM cells GROUP BY lang),
      |terms AS (
      |  SELECT c.lang,
      |         CAST(ROUND(-(CAST(c.n AS DOUBLE) / t.t) *
      |                    ln(CAST(c.n AS DOUBLE) / t.t), 12) AS DECIMAL(28,12))
      |           AS hterm,
      |         CAST(ROUND(POW(CAST(c.n AS DOUBLE) / t.t, 2), 12) AS DECIMAL(28,12))
      |           AS sterm
      |  FROM cells c JOIN tot t ON c.lang = t.lang)
      |SELECT lang,
      |       CAST(COUNT(*) AS BIGINT) AS hill_q0,
      |       CAST(ROUND(exp(CAST(SUM(hterm) AS DOUBLE)), 6) AS DOUBLE) AS hill_q1,
      |       CAST(ROUND(1.0 / CAST(SUM(sterm) AS DOUBLE), 6) AS DOUBLE) AS hill_q2
      |FROM terms
      |GROUP BY lang
      |ORDER BY lang""".stripMargin)

  /** Cross-lingual near-duplicate leakage: the top-20 highest-cosine embedding
    * pairs whose documents carry DIFFERENT language tags — translated or
    * copied content that slips past per-language dedup and leaks across
    * a language-stratified train/eval split. Cosine folds are
    * engine-exact left-to-right sums; the probe set is capped at 400
    * vectors (the documented quadratic ground-truth quarantine — the
    * scale path is the LSH family).
    */
  val dedup_cross_lingual = OpQuery(
    "dedup_cross_lingual",
    """WITH sample_docs AS (
      |  SELECT e.vec_id, d.lang,
      |         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
      |  WHERE e.vec_id < 400),
      |normed AS (
      |  SELECT vec_id, lang, v,
      |         sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) AS nrm
      |  FROM sample_docs),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.lang AS lang_a, b.lang AS lang_b,
      |         list_sum(list_transform(range(1, 65),
      |           i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
      |  FROM normed a JOIN normed b ON a.vec_id < b.vec_id
      |  WHERE a.lang <> b.lang)
      |SELECT id_a, id_b, lang_a, lang_b,
      |       CAST(ROUND(cos, 6) AS DOUBLE) AS cosine
      |FROM pairs
      |ORDER BY ROUND(cos, 6) DESC, id_a, id_b
      |LIMIT 20""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_xl_emb")
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_xl_docs")
    spark.sql(
      """WITH sample_docs AS (
        |  SELECT e.vec_id, d.lang,
        |         transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM graft_xl_emb e JOIN graft_xl_docs d ON d.doc_id = e.vec_id
        |  WHERE e.vec_id < 400),
        |normed AS (
        |  SELECT vec_id, lang, v,
        |         sqrt(aggregate(transform(sequence(1, 64), i -> v[i - 1] * v[i - 1]),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x)) AS nrm
        |  FROM sample_docs),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.lang AS lang_a, b.lang AS lang_b,
        |         aggregate(transform(sequence(1, 64), i -> a.v[i - 1] * b.v[i - 1]),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
        |  FROM normed a JOIN normed b ON a.vec_id < b.vec_id
        |  WHERE a.lang <> b.lang)
        |SELECT id_a, id_b, lang_a, lang_b,
        |       CAST(ROUND(cos, 6) AS DOUBLE) AS cosine
        |FROM pairs
        |ORDER BY ROUND(cos, 6) DESC, id_a, id_b
        |LIMIT 20""".stripMargin)
  }

  /** Capture–recapture (Lincoln–Petersen) estimate of the active user
    * population from two behavioral "samples" — users seen purchasing
    * vs users seen erroring: N̂ = n₁·n₂ / overlap, with the Chapman
    * bias correction alongside. Three distinct-count aggregates and one
    * inner join on user sets; the estimator data teams use to size
    * what they cannot enumerate.
    */
  val a61_capture_recapture = OpQuery.sql("a61_capture_recapture", "events")(
    """WITH s1 AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |s2 AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
      |m AS (
      |  SELECT (SELECT COUNT(*) FROM s1) AS n1,
      |         (SELECT COUNT(*) FROM s2) AS n2,
      |         (SELECT COUNT(*) FROM s1 JOIN s2 USING (user_id)) AS overlap)
      |SELECT CAST(n1 AS BIGINT) AS n_purchasers, CAST(n2 AS BIGINT) AS n_errorers,
      |       CAST(overlap AS BIGINT) AS overlap,
      |       CAST(ROUND(CAST(n1 AS DOUBLE) * n2 / overlap, 4) AS DOUBLE)
      |         AS lincoln_petersen,
      |       CAST(ROUND((CAST(n1 + 1 AS DOUBLE)) * (n2 + 1) / (overlap + 1) - 1, 4)
      |            AS DOUBLE) AS chapman
      |FROM m""".stripMargin)

  val all: Seq[OpQuery] = Seq(a60_hill_diversity, dedup_cross_lingual, a61_capture_recapture)
}
