package graft.queries

/** Round-4 batch 46: running max drawdown and image-caption pair
  * manifests.
  */
object Round4Ops46 {

  /** Maximum drawdown of each user's cumulative purchase balance —
    * running peak minus current, all in integer cents (the quant risk
    * metric, exact by construction). Two windows on one user
    * partitioning: cumulative sum, then running max over it.
    */
  val ts_drawdown = OpQuery.sql("ts_drawdown", "events")(
    """WITH ledger AS (
      |  SELECT user_id, event_id, ts,
      |         SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value * 100) AS BIGINT)
      |                  ELSE -CAST(ROUND(value * 100) AS BIGINT) END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
      |  FROM events WHERE event_type IN ('purchase', 'error')),
      |dd AS (
      |  SELECT user_id,
      |         MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bal AS drawdown
      |  FROM ledger)
      |SELECT user_id, CAST(MAX(drawdown) AS BIGINT) AS max_drawdown_cents
      |FROM dd
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin)

  /** Image-caption pair manifest: media assets joined back to their
    * caption text with quality filters — the contrastive-pair
    * (CLIP-style) assembly step. The pair fingerprint hash-pins the
    * exact (image, caption) binding, not just the counts.
    */
  val mm_caption_pairs = OpQuery.sql("mm_caption_pairs", "documents")(
    """SELECT doc_id AS media_id,
      |       CAST(n_chars AS BIGINT) AS caption_len,
      |       md5(concat(CAST(doc_id AS VARCHAR), '|', text)) AS pair_fingerprint
      |FROM documents
      |WHERE doc_id % 3 = 0 AND n_chars BETWEEN 100 AND 400 AND lang = 'en'
      |ORDER BY media_id""".stripMargin,
    "VARCHAR" -> "STRING")

  val all: Seq[OpQuery] = Seq(ts_drawdown, mm_caption_pairs)
}
