package graft.queries

import graft.Tables

/** Round-4 batch 34: preference-pair (DPO) assembly, tokenizer
  * fertility, VARIANT array explosion, and instruction-data detection.
  */
object Round4Ops34 {

  /** DPO preference-pair assembly: within each language, pair the
    * highest- and lowest-quality document per source (quality = length
    * rank as the stand-in signal), rendered as the chosen/rejected JSONL
    * a preference trainer ingests. Byte-identical serialization is
    * hash-pinned; ranking windows run per (lang, source) partition.
    */
  val format_dpo_pairs = OpQuery.sql("format_dpo_pairs", "documents")(
    """WITH ranked AS (
      |  SELECT lang, source, doc_id, text,
      |         ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY n_chars DESC, doc_id) AS best,
      |         ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY n_chars ASC, doc_id) AS worst
      |  FROM documents),
      |chosen AS (SELECT lang, source, doc_id AS chosen_id, text AS chosen FROM ranked WHERE best = 1),
      |rejected AS (SELECT lang, source, doc_id AS rejected_id, text AS rejected FROM ranked WHERE worst = 1)
      |SELECT c.lang, c.source,
      |       concat('{"chosen_id":', CAST(c.chosen_id AS VARCHAR),
      |              ',"rejected_id":', CAST(r.rejected_id AS VARCHAR),
      |              ',"chosen_len":', CAST(length(c.chosen) AS VARCHAR),
      |              ',"rejected_len":', CAST(length(r.rejected) AS VARCHAR), '}') AS pair_json
      |FROM chosen c JOIN rejected r ON c.lang = r.lang AND c.source = r.source
      |WHERE c.chosen_id <> r.rejected_id
      |ORDER BY c.lang, c.source""".stripMargin,
    "VARCHAR" -> "STRING")

  /** Tokenizer fertility: BPE-ish subword count over whitespace words
    * per language — the metric that decides whether a tokenizer wastes
    * budget on a language. Both counts are exact regex counts; one
    * aggregate on the lang key.
    */
  val text_fertility = OpQuery.sql("text_fertility", "documents")(
    """WITH per AS (
      |  SELECT lang,
      |         SUM(len(regexp_extract_all(trim(text), '\S+'))) AS words,
      |         SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))) AS subwords
      |  FROM documents GROUP BY lang)
      |SELECT lang, CAST(words AS BIGINT) AS words,
      |       CAST(subwords AS BIGINT) AS subwords,
      |       CAST(ROUND(CAST(subwords AS DOUBLE) / words, 4) AS DOUBLE) AS fertility
      |FROM per
      |ORDER BY lang""".stripMargin,
    """len(regexp_extract_all(trim(text), '\S+'))""" ->
      """size(regexp_extract_all(trim(text), '\\S+', 0))""",
    """len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))""" ->
      """size(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]', 0))""")

  /** VARIANT array explosion (Spark 4): a JSON array parsed to variant
    * and exploded to typed rows — the semi-structured fan-out path. The
    * array is constructed from row data so the oracle can replay it
    * with generate_series.
    */
  val p15_variant_explode = OpQuery(
    "p15_variant_explode",
    """SELECT doc_id, CAST(u.i AS INT) AS pos, CAST(doc_id % 5 + u.i AS BIGINT) AS val
      |FROM documents, unnest(generate_series(0, 2)) AS u(i)
      |WHERE doc_id % 100 = 0
      |ORDER BY doc_id, pos""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_ve_docs")
    spark.sql(
      """WITH src AS (
        |  SELECT doc_id,
        |         parse_json(concat('[', CAST(doc_id % 5 AS STRING), ',',
        |                           CAST(doc_id % 5 + 1 AS STRING), ',',
        |                           CAST(doc_id % 5 + 2 AS STRING), ']')) AS v
        |  FROM graft_ve_docs WHERE doc_id % 100 = 0)
        |SELECT doc_id, CAST(e.pos AS INT) AS pos,
        |       CAST(e.value AS BIGINT) AS val
        |FROM src, LATERAL variant_explode(v) AS e
        |ORDER BY doc_id, pos""".stripMargin)
  }

  /** Instruction-data detection: heuristic flags for question-shaped and
    * imperative-shaped text (the classifier that routes documents into
    * SFT vs pretraining pools). Exact integer signals, map-only.
    */
  val text_instruction_filter = OpQuery(
    "text_instruction_filter",
    """WITH feat AS (
      |  SELECT doc_id,
      |         len(regexp_extract_all(text, '\?')) AS questions,
      |         CASE WHEN regexp_matches(lower(trim(text)),
      |                '^(write|explain|describe|list|give|sort|merge|scan|filter)\b')
      |              THEN 1 ELSE 0 END AS imperative_start,
      |         len(regexp_extract_all(trim(text), '\S+')) AS words
      |  FROM documents)
      |SELECT doc_id, CAST(questions AS BIGINT) AS questions,
      |       CAST(imperative_start AS INT) AS imperative_start,
      |       CAST(questions > 0 OR imperative_start = 1 AS BOOLEAN) AS instruction_like
      |FROM feat WHERE words > 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_instr_docs")
    spark.sql(
      """WITH feat AS (
        |  SELECT doc_id,
        |         size(regexp_extract_all(text, '\\?', 0)) AS questions,
        |         CASE WHEN lower(trim(text))
        |                   RLIKE '^(write|explain|describe|list|give|sort|merge|scan|filter)\\b'
        |              THEN 1 ELSE 0 END AS imperative_start,
        |         size(regexp_extract_all(trim(text), '\\S+', 0)) AS words
        |  FROM graft_instr_docs)
        |SELECT doc_id, CAST(questions AS BIGINT) AS questions,
        |       CAST(imperative_start AS INT) AS imperative_start,
        |       CAST(questions > 0 OR imperative_start = 1 AS BOOLEAN) AS instruction_like
        |FROM feat WHERE words > 0
        |ORDER BY doc_id""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(
    format_dpo_pairs, text_fertility, p15_variant_explode,
    text_instruction_filter)
}
