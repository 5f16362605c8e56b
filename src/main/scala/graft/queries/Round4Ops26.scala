package graft.queries

import graft.Tables
import graft.operators.Multimodal

/** Round-4 batch 26: the corpus mixture card, conversion latency
  * percentiles, audio windowing, crypto round-trips, and corpus
  * stopword discovery.
  */
object Round4Ops26 {

  /** The data-mixture card: docs / whitespace tokens / corpus share per
    * (lang, source) — the table every pretraining run is configured
    * from. Token counts are exact integers; shares divide by the same
    * broadcast total on both engines.
    */
  val corpus_mixture = OpQuery.sql("corpus_mixture", "documents")(
    """WITH per AS (
      |  SELECT lang, source, COUNT(*) AS docs,
      |         SUM(len(regexp_extract_all(trim(text), '\S+'))) AS tokens
      |  FROM documents GROUP BY lang, source),
      |tot AS (SELECT SUM(tokens) AS t FROM per)
      |SELECT lang, source, CAST(docs AS BIGINT) AS docs,
      |       CAST(tokens AS BIGINT) AS tokens,
      |       CAST(ROUND(CAST(tokens AS DOUBLE) / t, 6) AS DOUBLE) AS token_share
      |FROM per, tot
      |ORDER BY lang, source""".stripMargin,
    """len(regexp_extract_all(trim(text), '\S+'))""" ->
      """size(regexp_extract_all(trim(text), '\\S+', 0))""")

  /** Time-to-convert: first view → first purchase latency per user in
    * whole seconds, summarized as exact interpolated quartiles plus the
    * conversion rate. Two min-aggregates on the user key (one shuffle),
    * then a percentile over the user-sized result.
    */
  val event_time_to_convert = OpQuery(
    "event_time_to_convert",
    """WITH firsts AS (
      |  SELECT user_id,
      |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      |  FROM events GROUP BY user_id),
      |lat AS (
      |  SELECT date_diff('second', first_view, first_purchase) AS sec
      |  FROM firsts
      |  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
      |    AND first_purchase >= first_view)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
      |       CAST((SELECT COUNT(*) FROM firsts WHERE first_view IS NOT NULL) AS BIGINT) AS n_viewers,
      |       CAST(ROUND(quantile_cont(sec, 0.25), 2) AS DOUBLE) AS p25_sec,
      |       CAST(ROUND(quantile_cont(sec, 0.50), 2) AS DOUBLE) AS p50_sec,
      |       CAST(ROUND(quantile_cont(sec, 0.75), 2) AS DOUBLE) AS p75_sec
      |FROM lat""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_ttc_events")
    spark.sql(
      """WITH firsts AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM graft_ttc_events GROUP BY user_id),
        |lat AS (
        |  SELECT CAST(unix_timestamp(first_purchase) - unix_timestamp(first_view) AS BIGINT) AS sec
        |  FROM firsts
        |  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        |    AND first_purchase >= first_view)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |       CAST((SELECT COUNT(*) FROM firsts WHERE first_view IS NOT NULL) AS BIGINT) AS n_viewers,
        |       CAST(ROUND(percentile(sec, 0.25), 2) AS DOUBLE) AS p25_sec,
        |       CAST(ROUND(percentile(sec, 0.50), 2) AS DOUBLE) AS p50_sec,
        |       CAST(ROUND(percentile(sec, 0.75), 2) AS DOUBLE) AS p75_sec
        |FROM lat""".stripMargin)
  }

  /** Audio windowing over the multimodal table (200 ms windows, 100 ms
    * hop) — see [[Multimodal.audioWindows]]. The oracle replays the
    * framing arithmetic relationally; the Spark side exercises the
    * binary payload → duration → explode plumbing.
    */
  val mm_audio_windows = OpQuery(
    "mm_audio_windows",
    """WITH audio AS (
      |  SELECT doc_id AS media_id,
      |         (octet_length(encode(text)) * 1000) // (16000 * 2) AS duration_ms
      |  FROM documents WHERE doc_id % 3 = 1),
      |eligible AS (SELECT * FROM audio WHERE duration_ms >= 4)
      |SELECT media_id, CAST(w.win_idx AS INT) AS win_idx,
      |       CAST(w.win_idx * 2 AS BIGINT) AS start_ms,
      |       CAST(w.win_idx * 2 + 4 AS BIGINT) AS end_ms
      |FROM eligible, unnest(generate_series(0, (duration_ms - 4) // 2)) AS w(win_idx)
      |ORDER BY media_id, win_idx""".stripMargin) { (spark, dir) =>
    val media = Multimodal.syntheticMedia(Tables.load(spark, dir, "documents"))
    Multimodal.audioWindows(media, winMs = 4, hopMs = 2)
      .select("media_id", "win_idx", "start_ms", "end_ms")
      .orderBy("media_id", "win_idx")
  }

  /** Crypto round-trips: AES-GCM encrypt/decrypt recovers the plaintext
    * (the IV is random, so only the ROUND TRIP is deterministic — which
    * is exactly the property worth pinning), plus cross-engine sha256
    * and base64 parity. The PII-at-rest toolbox.
    */
  val f_crypto_roundtrip = OpQuery(
    "f_crypto_roundtrip",
    """SELECT doc_id,
      |       lang AS roundtrip,
      |       sha256(lang) AS lang_sha,
      |       to_base64(encode(lang)) AS lang_b64
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_crypt_docs")
    spark.sql(
      """SELECT doc_id,
        |       CAST(aes_decrypt(
        |              aes_encrypt(encode(lang, 'UTF-8'), 'graft-16-byte-ky'),
        |              'graft-16-byte-ky') AS STRING) AS roundtrip,
        |       sha2(lang, 256) AS lang_sha,
        |       base64(encode(lang, 'UTF-8')) AS lang_b64
        |FROM graft_crypt_docs
        |ORDER BY doc_id""".stripMargin)
  }

  /** Corpus-driven stopword discovery: terms appearing in over 60% of
    * documents carry no signal for retrieval or dedup shingling — the
    * list every BM25/TF-IDF deployment precomputes. One distinct-doc
    * aggregate on the uniform term key.
    */
  val text_stopword_discovery = OpQuery.sql("text_stopword_discovery", "documents")(
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |    FROM documents)),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |df AS (SELECT term, COUNT(*) AS doc_freq FROM toks WHERE term <> '' GROUP BY term)
      |SELECT term, CAST(doc_freq AS BIGINT) AS doc_freq,
      |       CAST(ROUND(CAST(doc_freq AS DOUBLE) / n_docs, 4) AS DOUBLE) AS doc_share
      |FROM df, n
      |WHERE doc_freq * 10 >= n_docs * 6
      |ORDER BY doc_freq DESC, term""".stripMargin,
    "unnest(regexp_split_to_array(" -> "explode(split(",
    """'\s+'""" -> """'\\s+'""")

  val all: Seq[OpQuery] = Seq(
    corpus_mixture, event_time_to_convert, mm_audio_windows,
    f_crypto_roundtrip, text_stopword_discovery)
}
