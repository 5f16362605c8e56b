package graft.queries

import graft.Tables

/** Round-4 batch 53: embedded-CSV parsing, JSON struct round-trips,
  * the near-dup threshold curve, and lexical diversity.
  */
object Round4Ops53 {

  /** from_csv: CSV text embedded in a COLUMN parsed against an explicit
    * schema — the inner-format pattern (a CSV payload inside a Kafka
    * value, a log line inside a table). The oracle re-derives the
    * fields from the constituent columns.
    */
  val p19_from_csv = OpQuery(
    "p19_from_csv",
    """SELECT doc_id,
      |       lang AS f_lang,
      |       CAST(n_chars AS BIGINT) AS f_chars
      |FROM documents
      |WHERE doc_id % 19 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_fcsv_docs")
    spark.sql(
      """WITH lines AS (
        |  SELECT doc_id, concat(lang, ',', CAST(n_chars AS STRING)) AS line
        |  FROM graft_fcsv_docs WHERE doc_id % 19 = 0),
        |parsed AS (
        |  SELECT doc_id, from_csv(line, 'f_lang STRING, f_chars BIGINT') AS p FROM lines)
        |SELECT doc_id, p.f_lang AS f_lang, CAST(p.f_chars AS BIGINT) AS f_chars
        |FROM parsed
        |ORDER BY doc_id""".stripMargin)
  }

  /** to_json ∘ from_json struct round-trip: serialize a typed struct to
    * JSON text and parse it back — both directions of the JSON bridge
    * in one gate, field types preserved.
    */
  val p20_json_roundtrip = OpQuery(
    "p20_json_roundtrip",
    """SELECT o_orderkey,
      |       o_orderstatus AS status_rt,
      |       CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price_rt
      |FROM orders
      |WHERE o_orderkey % 23 = 0
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_jrt_orders")
    spark.sql(
      """WITH ser AS (
        |  SELECT o_orderkey,
        |         to_json(named_struct('s', o_orderstatus, 'p', ROUND(o_totalprice, 2))) AS j
        |  FROM graft_jrt_orders WHERE o_orderkey % 23 = 0),
        |de AS (
        |  SELECT o_orderkey, from_json(j, 's STRING, p DOUBLE') AS st FROM ser)
        |SELECT o_orderkey, st.s AS status_rt,
        |       CAST(st.p AS DOUBLE) AS price_rt
        |FROM de
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Near-duplicate threshold curve: exact pair counts at cosine ≥
    * 0.80/0.85/0.90/0.95 over a deterministic subset — the tuning curve
    * every dedup deployment draws before picking its cut. One exact
    * pair pass feeds all four thresholds.
    */
  val sim_threshold_curve = OpQuery(
    "sim_threshold_curve",
    """WITH sub AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings WHERE vec_id % 4 = 0),
      |pairs AS (
      |  SELECT list_dot_product(a.e, b.e)
      |         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos
      |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id),
      |th AS (SELECT unnest([0.80, 0.85, 0.90, 0.95]) AS t)
      |SELECT CAST(ROUND(th.t, 2) AS DOUBLE) AS threshold,
      |       CAST(SUM(CASE WHEN pairs.cos >= th.t THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
      |FROM th, pairs
      |GROUP BY th.t
      |ORDER BY threshold""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_thc_emb")
    graft.expressions.VectorExprs.register(spark)
    spark.sql(
      """WITH sub AS (
        |  SELECT vec_id, embedding FROM graft_thc_emb WHERE vec_id % 4 = 0),
        |pairs AS (
        |  SELECT CASE WHEN vec_norm(a.embedding) * vec_norm(b.embedding) = 0.0 THEN 0.0
        |              ELSE vec_dot(a.embedding, b.embedding)
        |                   / (vec_norm(a.embedding) * vec_norm(b.embedding)) END AS cos
        |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id),
        |th AS (SELECT explode(array(0.80, 0.85, 0.90, 0.95)) AS t)
        |SELECT CAST(ROUND(th.t, 2) AS DOUBLE) AS threshold,
        |       CAST(SUM(CASE WHEN pairs.cos >= th.t THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
        |FROM th, pairs
        |GROUP BY th.t
        |ORDER BY threshold""".stripMargin)
  }

  /** Type-token ratio per document — the lexical-diversity signal that
    * separates natural prose from template spam. Exact integer counts,
    * map-only plus one per-doc aggregate.
    */
  val text_ttr = OpQuery.sql("text_ttr", "documents")(
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |per AS (
      |  SELECT doc_id, COUNT(*) AS words, COUNT(DISTINCT w) AS types
      |  FROM toks WHERE w <> '' GROUP BY doc_id)
      |SELECT doc_id, CAST(words AS BIGINT) AS words, CAST(types AS BIGINT) AS types,
      |       CAST(ROUND(CAST(types AS DOUBLE) / words, 4) AS DOUBLE) AS ttr
      |FROM per WHERE words > 0
      |ORDER BY doc_id""".stripMargin,
    "unnest(regexp_split_to_array(" -> "explode(split(",
    """'\s+'""" -> """'\\s+'""")

  val all: Seq[OpQuery] = Seq(
    p19_from_csv, p20_json_roundtrip, sim_threshold_curve, text_ttr)
}
