package graft.queries

/** Round-4 batch 88: behavioral sequence surprise, temperature-scaled
  * corpus mixing, and McNemar's paired test.
  */
object Round4Ops88 {

  /** Sequence surprise: score every user's event-type transitions under
    * the corpus bigram model and rank the most anomalous users — the
    * sequence-level outlier detector (bot/fraud smell) that per-event
    * thresholds can't see. Transition probabilities come from one
    * grouped pass; per-user mean −ln p is a quantized DECIMAL sum, and
    * add-one smoothing keeps unseen transitions finite.
    */
  val event_sequence_surprise = OpQuery.sql("event_sequence_surprise", "events")(
    """WITH seq AS (
      |  SELECT user_id, event_type AS w1,
      |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS w2
      |  FROM events),
      |trans AS (SELECT user_id, w1, w2 FROM seq WHERE w2 IS NOT NULL),
      |model AS (
      |  SELECT w1, w2, COUNT(*) AS c FROM trans GROUP BY w1, w2),
      |marg AS (SELECT w1, SUM(c) AS t FROM model GROUP BY w1),
      |probs AS (
      |  SELECT m.w1, m.w2,
      |         CAST(m.c + 1 AS DOUBLE) / (mg.t + 25) AS p
      |  FROM model m JOIN marg mg ON m.w1 = mg.w1),
      |scored AS (
      |  SELECT t.user_id,
      |         CAST(ROUND(-ln(p.p), 12) AS DECIMAL(28,12)) AS nll
      |  FROM trans t JOIN probs p ON t.w1 = p.w1 AND t.w2 = p.w2)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
      |       CAST(ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
      |         AS mean_surprise
      |FROM scored
      |GROUP BY user_id
      |ORDER BY mean_surprise DESC, user_id
      |LIMIT 20""".stripMargin)

  /** Temperature-scaled corpus mixing: the pᵢ^α / Σpⱼ^α (α = 0.3)
    * reweighting that multilingual training mixes use to lift
    * low-resource languages without drowning the head. Outputs natural
    * share, temperature share, and the implied per-language document
    * budget for a 100k-doc mix — the allocation table a data-mixture
    * job consumes directly.
    */
  val corpus_temperature_mix = OpQuery.sql("corpus_temperature_mix", "documents")(
    """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      |tot AS (SELECT SUM(n) AS t FROM counts),
      |powed AS (
      |  SELECT c.lang, c.n,
      |         CAST(c.n AS DOUBLE) / t.t AS p_nat,
      |         POW(CAST(c.n AS DOUBLE) / t.t, 0.3) AS pa
      |  FROM counts c CROSS JOIN tot t),
      |z AS (SELECT SUM(CAST(ROUND(pa, 12) AS DECIMAL(28,12))) AS za FROM powed)
      |SELECT lang, CAST(n AS BIGINT) AS n_docs,
      |       CAST(ROUND(p_nat, 6) AS DOUBLE) AS natural_share,
      |       CAST(ROUND(pa / CAST(z.za AS DOUBLE), 6) AS DOUBLE) AS temp_share,
      |       CAST(FLOOR(100000 * pa / CAST(z.za AS DOUBLE)) AS BIGINT) AS budget_docs
      |FROM powed CROSS JOIN z
      |ORDER BY lang""".stripMargin)

  /** McNemar's test between the two deterministic document classifiers
    * from the kappa gate (language rule vs length rule, binarized on
    * "good"): the paired test that asks whether they DISAGREE
    * asymmetrically. Only the discordant cells matter — integer counts,
    * continuity-corrected statistic.
    */
  val eval_mcnemar = OpQuery.sql("eval_mcnemar", "documents")(
    """WITH labeled AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS c1,
      |         CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END AS c2
      |  FROM documents),
      |m AS (
      |  SELECT SUM(CASE WHEN c1 = 1 AND c2 = 0 THEN 1 ELSE 0 END) AS b,
      |         SUM(CASE WHEN c1 = 0 AND c2 = 1 THEN 1 ELSE 0 END) AS c,
      |         COUNT(*) AS n
      |  FROM labeled)
      |SELECT CAST(n AS BIGINT) AS n_docs,
      |       CAST(b AS BIGINT) AS only_lang_good,
      |       CAST(c AS BIGINT) AS only_length_good,
      |       CAST(ROUND(POW(ABS(CAST(b AS DOUBLE) - c) - 1, 2) / (b + c), 6)
      |            AS DOUBLE) AS mcnemar_chi2
      |FROM m""".stripMargin)

  val all: Seq[OpQuery] = Seq(event_sequence_surprise, corpus_temperature_mix, eval_mcnemar)
}
