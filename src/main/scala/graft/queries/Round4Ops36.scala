package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 36: growth accounting, PMI collocations, and
  * custom-delimiter CSV ingest.
  */
object Round4Ops36 {

  /** Growth accounting: weekly user states — new (first week ever),
    * retained (active previous week), resurrected (returned after a
    * gap) — the decomposition every growth team reports. One user-keyed
    * window (lag over active weeks) feeding a week-keyed rollup.
    */
  val event_growth_accounting = OpQuery.sql("event_growth_accounting", "events")(
    """WITH weeks AS (
      |  SELECT DISTINCT user_id,
      |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, wk,
      |         LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      |  FROM weeks)
      |SELECT CAST(wk AS BIGINT) AS wk,
      |       CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |       CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained,
      |       CAST(SUM(CASE WHEN prev_wk < wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
      |FROM flagged
      |GROUP BY wk
      |ORDER BY wk""".stripMargin,
    "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7" ->
      "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT) DIV 7")

  /** Pointwise mutual information for adjacent word pairs — the
    * collocation detector ("strongly associated bigrams") behind phrase
    * mining. All counts exact; PMI is one shared log expression, ranked
    * on its rounded value with a full tie-break.
    */
  val text_pmi = OpQuery(
    "text_pmi",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
      |grams AS (
      |  SELECT t[u.i] AS w1, t[u.i + 1] AS w2
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
      |pair_counts AS (
      |  SELECT w1, w2, COUNT(*) AS n_ab FROM grams GROUP BY w1, w2),
      |uni AS (
      |  SELECT w1 AS w, COUNT(*) AS n FROM grams GROUP BY w1),
      |tot AS (SELECT SUM(n_ab) AS big_n FROM pair_counts),
      |scored AS (
      |  SELECT p.w1, p.w2, p.n_ab,
      |         CAST(ROUND(ln(CAST(p.n_ab AS DOUBLE) * tot.big_n
      |                        / (CAST(a.n AS DOUBLE) * b.n)), 6) AS DOUBLE) AS pmi
      |  FROM pair_counts p
      |  JOIN uni a ON p.w1 = a.w
      |  JOIN uni b ON p.w2 = b.w
      |  CROSS JOIN tot
      |  WHERE p.n_ab >= 20)
      |SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab, pmi
      |FROM scored
      |ORDER BY pmi DESC, w1, w2
      |LIMIT 25""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_pmi_docs")
    spark.sql(
      """WITH toks AS (
        |  SELECT doc_id, split(lower(trim(text)), '\\s+') AS t FROM graft_pmi_docs),
        |grams AS (
        |  SELECT t[u.i - 1] AS w1, t[u.i] AS w2
        |  FROM toks LATERAL VIEW explode(sequence(1, size(t) - 1)) u AS i),
        |pair_counts AS (
        |  SELECT w1, w2, COUNT(*) AS n_ab FROM grams GROUP BY w1, w2),
        |uni AS (
        |  SELECT w1 AS w, COUNT(*) AS n FROM grams GROUP BY w1),
        |tot AS (SELECT SUM(n_ab) AS big_n FROM pair_counts),
        |scored AS (
        |  SELECT p.w1, p.w2, p.n_ab,
        |         CAST(ROUND(ln(CAST(p.n_ab AS DOUBLE) * tot.big_n
        |                        / (CAST(a.n AS DOUBLE) * b.n)), 6) AS DOUBLE) AS pmi
        |  FROM pair_counts p
        |  JOIN uni a ON p.w1 = a.w
        |  JOIN uni b ON p.w2 = b.w
        |  CROSS JOIN tot
        |  WHERE p.n_ab >= 20)
        |SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab, pmi
        |FROM scored
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 25""".stripMargin)
  }

  /** Custom-delimiter CSV (pipe-separated, quoted) round trip — the
    * "every vendor ships a different flavor" ingest path. The oracle
    * reads the source table; delimiter handling must be invisible.
    */
  val s32_csv_delim = OpQuery(
    "s32_csv_delim",
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE doc_id % 9 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 9 === 0).select("doc_id", "lang", "source", "n_chars")
    val out = graft.queries.GateScratch.dir("graft-psv-").toString
    docs.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("sep", "|").option("quoteAll", "true")
      .csv(out)
    spark.read
      .option("header", "true").option("sep", "|")
      .schema(docs.schema)
      .csv(out)
      .orderBy("doc_id")
  }

  val all: Seq[OpQuery] = Seq(
    event_growth_accounting, text_pmi, s32_csv_delim)
}
