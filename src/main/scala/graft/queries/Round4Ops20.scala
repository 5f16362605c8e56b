package graft.queries

import graft.Tables

/** Round-4 batch 20: categorical feature engineering (mode, one-hot,
  * smoothed target encoding), class-balanced sampling, bipartite degree
  * distributions, and the map-function family.
  */
object Round4Ops20 {

  /** Most-frequent value per group with a full deterministic tie-break
    * (count desc, then value asc). One shuffle on the group key; the
    * per-(group,value) count is map-side combined before the window
    * ever sees it, so the window input is dimension-sized.
    */
  val a26_mode = OpQuery.sql("a26_mode", "documents")(
    """WITH counts AS (
      |  SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY source, lang),
      |ranked AS (
      |  SELECT source, lang, cnt,
      |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, lang) AS rn
      |  FROM counts)
      |SELECT source, lang AS mode_lang, CAST(cnt AS BIGINT) AS n
      |FROM ranked WHERE rn = 1
      |ORDER BY source""".stripMargin)

  /** One-hot encoding of a low-cardinality categorical (the classical
    * ML-feature expansion). Fixed vocabulary, map-only codegen CASE
    * chain — no shuffle at all; identical SQL both engines.
    */
  val feature_onehot = OpQuery.sql("feature_onehot", "documents")(
    """SELECT doc_id,
      |       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lang_en,
      |       CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS lang_de,
      |       CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS lang_es,
      |       CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS lang_fr,
      |       CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS lang_zh
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  /** Smoothed mean target encoding: encode(seg) = (sum_y + m·µ)/(n + m)
    * with prior weight m=20 — the leakage-safe categorical encoder for
    * gradient-boosted models. Sums stay DECIMAL-exact until the single
    * final division; the category table is dimension-sized so every
    * stage after the first aggregate is broadcast-scale.
    */
  val feature_target_encode = OpQuery.sql("feature_target_encode", "orders", "customer")(
    """WITH joined AS (
      |  SELECT c_mktsegment AS seg, CAST(o_totalprice AS DECIMAL(18,2)) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |stats AS (
      |  SELECT seg, COUNT(*) AS n, SUM(y) AS s FROM joined GROUP BY seg),
      |overall AS (
      |  SELECT CAST(SUM(s) AS DOUBLE) / SUM(n) AS mu FROM stats)
      |SELECT seg, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND((CAST(s AS DOUBLE) + 20.0 * mu) / (n + 20.0), 4) AS DOUBLE) AS seg_encoded
      |FROM stats, overall
      |ORDER BY seg""".stripMargin)

  /** Class-balanced downsampling: every label keeps exactly
    * min-class-count rows, selected by a content-stable md5 order (so
    * the sample is reproducible under any partitioning — a shuffled
    * corpus draws the identical balanced set). Per-label windows
    * partition on the label key; the class-size floor is a broadcast
    * scalar.
    */
  val sample_balanced = OpQuery.sql("sample_balanced", "embeddings")(
    """WITH sizes AS (
      |  SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY label),
      |k AS (SELECT MIN(cnt) AS k FROM sizes),
      |ranked AS (
      |  SELECT vec_id, label,
      |         ROW_NUMBER() OVER (PARTITION BY label
      |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      |  FROM embeddings)
      |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INT) AS label
      |FROM ranked, k WHERE rn <= k
      |ORDER BY label, vec_id""".stripMargin,
    "VARCHAR" -> "STRING")

  /** Bipartite degree distribution (part ↔ supplier from lineitem):
    * per-part distinct-supplier degree, then the degree histogram.
    * Two aggregations, each map-side combined on a uniform key; the
    * histogram input is already dimension-sized.
    */
  val graph_degree_dist = OpQuery.sql("graph_degree_dist", "lineitem")(
    """WITH deg AS (
      |  SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS degree
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(degree AS BIGINT) AS degree,
      |       CAST(COUNT(*) AS BIGINT) AS n_parts
      |FROM deg
      |GROUP BY degree
      |ORDER BY degree""".stripMargin)

  /** Map-typed column family: map_from_entries over the per-user
    * event-type counts, map_filter to the frequent entries, rendered
    * through sorted keys to a canonical string (maps themselves are
    * unordered — rendering is what makes the value hashable). The
    * oracle derives the same string relationally, proving the map
    * round-trip loses nothing.
    */
  val f_map_funcs = OpQuery(
    "f_map_funcs",
    """WITH counts AS (
      |  SELECT user_id, event_type, COUNT(*) AS cnt
      |  FROM events GROUP BY user_id, event_type)
      |SELECT user_id,
      |       coalesce(string_agg(CASE WHEN cnt >= 3 THEN concat(event_type, ':', CAST(cnt AS VARCHAR)) END,
      |                           ',' ORDER BY event_type), '') AS frequent,
      |       CAST(COUNT(*) AS BIGINT) AS n_types
      |FROM counts
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_map_events")
    spark.sql(
      """WITH counts AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt
        |  FROM graft_map_events GROUP BY user_id, event_type),
        |maps AS (
        |  SELECT user_id,
        |         map_from_entries(array_sort(collect_list(struct(event_type, cnt)))) AS m
        |  FROM counts GROUP BY user_id),
        |filtered AS (
        |  SELECT user_id, map_filter(m, (k, v) -> v >= 3) AS mf, size(m) AS n_types
        |  FROM maps)
        |SELECT user_id,
        |       array_join(transform(array_sort(map_keys(mf)),
        |                            k -> concat(k, ':', CAST(mf[k] AS STRING))), ',') AS frequent,
        |       CAST(n_types AS BIGINT) AS n_types
        |FROM filtered
        |ORDER BY user_id""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(
    a26_mode, feature_onehot, feature_target_encode, sample_balanced,
    graph_degree_dist, f_map_funcs)
}
