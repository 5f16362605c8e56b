package graft.queries

import graft.Tables

/** Round-4 batch 44: temporal train/test splitting, DISTINCT ordered
  * string aggregation, and Jensen-Shannon corpus comparison.
  */
object Round4Ops44 {

  /** Temporal train/test split: train strictly before the cutoff, test
    * at-or-after — the ONLY valid split for forecasting data (random
    * splits leak the future). The cutoff is the 80th percentile event
    * second (integer), and the gate emits per-split integrity facts
    * including a zero-overlap proof.
    */
  val data_split_temporal = OpQuery(
    "data_split_temporal",
    """WITH cut AS (
      |  SELECT CAST(TRUNC(quantile_cont(TRUNC(epoch(ts))::BIGINT, 0.8)) AS BIGINT) AS c
      |  FROM events),
      |tagged AS (
      |  SELECT CASE WHEN TRUNC(epoch(ts))::BIGINT < cut.c THEN 'train' ELSE 'test' END AS split,
      |         TRUNC(epoch(ts))::BIGINT AS t
      |  FROM events, cut)
      |SELECT split,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(MIN(t) AS BIGINT) AS min_t,
      |       CAST(MAX(t) AS BIGINT) AS max_t
      |FROM tagged
      |GROUP BY split
      |ORDER BY split""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_tsplit_events")
    spark.sql(
      """WITH cut AS (
        |  SELECT CAST(percentile(unix_timestamp(ts), 0.8) AS BIGINT) AS c
        |  FROM graft_tsplit_events),
        |tagged AS (
        |  SELECT CASE WHEN unix_timestamp(ts) < cut.c THEN 'train' ELSE 'test' END AS split,
        |         unix_timestamp(ts) AS t
        |  FROM graft_tsplit_events, cut)
        |SELECT split,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MIN(t) AS BIGINT) AS min_t,
        |       CAST(MAX(t) AS BIGINT) AS max_t
        |FROM tagged
        |GROUP BY split
        |ORDER BY split""".stripMargin)
  }

  /** DISTINCT ordered string aggregation: the dedup variant of listagg —
    * repeated values collapse before joining.
    */
  val a37_string_agg_distinct = OpQuery.sql("a37_string_agg_distinct", "events")(
    """SELECT user_id % 10 AS cohort,
      |       string_agg(DISTINCT event_type, '|' ORDER BY event_type) AS types
      |FROM events
      |GROUP BY user_id % 10
      |ORDER BY cohort""".stripMargin,
    "string_agg(DISTINCT event_type, '|' ORDER BY event_type)" ->
      "listagg(DISTINCT event_type, '|') WITHIN GROUP (ORDER BY event_type)")

  /** Jensen-Shannon divergence between two sources' term distributions
    * over their shared top vocabulary — the symmetric, bounded corpus
    * drift measure (KL's better-behaved sibling). Counts exact; the
    * divergence is one shared log expression per term, summed after
    * rounding-stable DOUBLE division by exact totals.
    */
  val text_js_divergence = OpQuery.sql("text_js_divergence", "documents")(
    """WITH toks AS (
      |  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents WHERE source IN ('src1', 'src2')),
      |counts AS (
      |  SELECT source, term, COUNT(*) AS n FROM toks WHERE term <> '' GROUP BY source, term),
      |wide AS (
      |  SELECT term,
      |         SUM(CASE WHEN source = 'src1' THEN n ELSE 0 END) AS n1,
      |         SUM(CASE WHEN source = 'src2' THEN n ELSE 0 END) AS n2
      |  FROM counts GROUP BY term HAVING MIN(n) > 0 AND COUNT(*) = 2),
      |tot AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM wide),
      |terms AS (
      |  SELECT CAST(n1 AS DOUBLE) / t1 AS p, CAST(n2 AS DOUBLE) / t2 AS q
      |  FROM wide, tot)
      |SELECT CAST(COUNT(*) AS BIGINT) AS shared_terms,
      |       CAST(ROUND(SUM(0.5 * p * ln(2 * p / (p + q))
      |                      + 0.5 * q * ln(2 * q / (p + q))) / ln(2), 6) AS DOUBLE) AS jsd_bits
      |FROM terms""".stripMargin,
    "unnest(regexp_split_to_array(" -> "explode(split(",
    """'\s+'""" -> """'\\s+'""")

  val all: Seq[OpQuery] = Seq(
    data_split_temporal, a37_string_agg_distinct, text_js_divergence)
}
