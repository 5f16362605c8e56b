package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.BpeEncode
import graft.functions.TextFunctions
import graft.operators.{Bpe, Curation, Dedup, Freeze, Pq, QualityModel, Retrieval,
  Sampling, TotalOrder}

/** Text and training-data curation: normalization, tokenization (BPE),
  * language and quality signals, trained quality filters, corpus
  * selection and mixtures, decontamination, sequence packing and
  * instruction-pair formatting.
  */
object TextGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Text analysis: token counts (whitespace + BPE-ish), quality-score
    * components, and the md5 fingerprint — one codegen'd scan pass.
    */
  val text_analysis = OpQuery(
    "text_analysis",
    """SELECT doc_id,
      |  CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |       ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS INT) AS n_tokens,
      |  CAST(coalesce(length(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')), 0) AS INT) AS n_bpe_ish,
      |  CAST(CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
      |       ELSE ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text), 6) END AS DOUBLE) AS alpha_ratio,
      |  CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0.0
      |       ELSE ROUND(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> length(x))) * 1.0
      |            / length(regexp_split_to_array(trim(text), '\s+')), 6) END AS DOUBLE) AS mean_token_len,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.bpeIshTokenCount(col("text")).cast("int").as("n_bpe_ish"),
      round(TextFunctions.alphaRatio(col("text")), 6).cast("double").as("alpha_ratio"),
      round(TextFunctions.meanTokenLength(col("text")), 6).cast("double")
        .as("mean_token_len"),
      TextFunctions.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Language ID by marker-word hit counting with argmax + deterministic
    * tie-break — heuristic replicated verbatim in the oracle.
    */
  val text_lang_id: OpQuery = {
    val markerLists = TextFunctions.langMarkers
    val scoreSql = markerLists.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(length(list_intersect(toks, $arr)) AS INT) AS score_$lang"
    }.mkString(",\n      |  ")
    val bestExpr = markerLists.map(l => s"score_${l._1}").mkString("greatest(", ", ", ")")
    val caseChain = markerLists.map { case (lang, _) =>
      s"WHEN score_$lang = best AND best > 0 THEN '$lang'"
    }.mkString("\n      |       ")
    OpQuery(
      "text_lang_id",
      s"""WITH scored AS (
        |  SELECT doc_id, lang AS declared_lang,
        |  $scoreSql
        |  FROM (SELECT doc_id, lang,
        |          list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks
        |        FROM documents)
        |), best AS (
        |  SELECT *, $bestExpr AS best FROM scored
        |)
        |SELECT doc_id, declared_lang,
        |       CASE $caseChain
        |       ELSE 'und' END AS lang_id,
        |       ${markerLists.map(l => s"score_${l._1}").mkString(", ")}
        |FROM best
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val docs = t(spark, dir, "documents")
      val scores = TextFunctions.langScores(col("text"))
      docs.select(
        Seq(
          col("doc_id"),
          col("lang").as("declared_lang"),
          TextFunctions.langId(col("text")).as("lang_id")) ++
          scores.map { case (lang, c) => c.as(s"score_$lang") }: _*)
        .orderBy(col("doc_id"))
    }
  }

  /** PII-style scrubbing: emails and long digit runs masked via ordered
    * regex passes (documents carry no PII, so deterministic synthetic
    * tokens are appended first; the oracle replicates both steps).
    */
  val text_redact = OpQuery(
    "text_redact",
    """WITH seeded AS (
      |  SELECT doc_id,
      |    text || CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      |      WHEN 1 THEN ' ref 1234567' || CAST(doc_id AS VARCHAR) || ' end'
      |      WHEN 2 THEN ' a.b-c_d@mail.co and 99887766 twice'
      |      ELSE '' END AS text2
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |     + len(regexp_extract_all(regexp_replace(text2,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |         '[0-9]{6,}')) AS INT) AS n_redactions,
      |  md5(regexp_replace(regexp_replace(text2,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |        '[0-9]{6,}', '<NUM>', 'g')) AS redacted_md5
      |FROM seeded
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val seeded = t(spark, dir, "documents").withColumn(
      "text2",
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now")))
          .when(col("doc_id") % 4 === 1,
            concat(lit(" ref 1234567"), col("doc_id").cast("string"), lit(" end")))
          .when(col("doc_id") % 4 === 2, lit(" a.b-c_d@mail.co and 99887766 twice"))
          .otherwise(lit(""))))
    seeded.select(
        col("doc_id"),
        TextFunctions.redactionCount(col("text2")).cast("int").as("n_redactions"),
        md5(TextFunctions.redact(col("text2"))).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF with top-3 terms per document — the classic relevance
    * weighting as pure relational algebra: term frequencies (one
    * shuffle), document frequencies (one shuffle on term — the "inverted
    * index" aggregate), broadcast N, rank per doc. Scales as two
    * aggregations regardless of corpus size.
    */
  val text_tfidf = OpQuery(
    "text_tfidf",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
      |), df AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
      |), n AS (
      |  SELECT COUNT(*) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.term,
      |         CAST(ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS DOUBLE) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |), ranked AS (
      |  SELECT doc_id, term, tfidf,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |              ORDER BY tfidf DESC, term ASC) AS INT) AS rank
      |  FROM scored
      |)
      |SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val toks = docs.select(
      col("doc_id"),
      explode(TextFunctions.tokens(lower(col("text")))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        round(col("tf") * log(col("n_docs") * 1.0 / col("df")), 6).cast("double"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "term", "tfidf", "rank")
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Corpus-level dedup capstone: exact-jaccard pairs → connected
    * components → one survivor (min id) per duplicate group + all
    * unpaired docs. Oracle re-derives the survivors from the same
    * recursive closure.
    */
  /** BM25 lexical scoring against a fixed query term set — tf, df,
    * doc-length normalization, and the smoothed idf all replayed by the
    * oracle (ln rounded at the 6-decimal parity bound).
    */
  val text_bm25 = OpQuery(
    "text_bm25",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
      |), lens AS (
      |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM lens
      |), m AS (
      |  SELECT doc_id, u.term FROM toks, unnest(t) AS u(term)
      |  WHERE u.term IN ('spark', 'data', 'merge')
      |), tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM m GROUP BY 1, 2
      |), df AS (
      |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
      |)
      |SELECT tf.doc_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
      |       CAST(ROUND(SUM(
      |         LN((s.n - df.df + 0.5) / (df.df + 0.5) + 1)
      |           * (tf.tf * 2.2)
      |           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 6) AS DOUBLE) AS score
      |FROM tf JOIN df USING (term) JOIN lens l USING (doc_id) CROSS JOIN stats s
      |GROUP BY tf.doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Retrieval.bm25(
        t(spark, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "data", "merge"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing: documents assigned to fixed-capacity training
    * sequences in 8 parallel packing lanes (md5-bucketed), greedy by id
    * within each lane — the oracle reproduces lane, running total, bin,
    * and in-sequence position exactly.
    */
  val pack_sequences = OpQuery(
    "pack_sequences",
    """WITH lanes AS (
      |  SELECT doc_id,
      |         length(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS lane
      |  FROM documents
      |), packed AS (
      |  SELECT doc_id, n_tokens, lane,
      |         SUM(n_tokens) OVER (PARTITION BY lane ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS before_
      |  FROM lanes
      |)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, lane,
      |       lane * 1099511627776 + CAST(FLOOR(before_ / 512.0) AS BIGINT) AS bin,
      |       CAST(ROW_NUMBER() OVER (
      |         PARTITION BY lane, FLOOR(before_ / 512.0) ORDER BY doc_id) AS INT) AS seq_pos
      |FROM packed
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents").select(
      col("doc_id"),
      size(TextFunctions.tokens(lower(col("text")))).cast("long").as("n_tokens"))
    graft.operators.Packing.packSequences(docs, "doc_id", "n_tokens",
        capacity = 512L, buckets = 8)
      .select(col("doc_id"), col("n_tokens"), col("lane"), col("bin"), col("seq_pos"))
      .orderBy(col("doc_id"))
  }

  /** Domain-mixture resampling: rebalance the corpus toward target rows
    * per language (en is downsampled hardest). The oracle recomputes the
    * per-domain counts, the ceil'd hash thresholds, and the salted md5
    * bucket arithmetic exactly, so membership — not just counts — is
    * pinned.
    */
  val mixture_sample = OpQuery(
    "mixture_sample",
    """WITH counts AS (
      |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
      |), thr AS (
      |  SELECT lang,
      |         LEAST(CAST(1000000 AS BIGINT),
      |               (tgt * 1000000 + n - 1) // n) AS t
      |  FROM (
      |    SELECT lang, n,
      |           CAST(CASE lang WHEN 'en' THEN 100 WHEN 'es' THEN 50
      |                WHEN 'de' THEN 50 WHEN 'fr' THEN 50 WHEN 'zh' THEN 50
      |                ELSE 0 END AS BIGINT) AS tgt
      |    FROM counts)
      |)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN thr ON d.lang = thr.lang
      |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || d.lang), 1, 8)) AS BIGINT)
      |        % 1000000 < thr.t
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Sampling.mixtureSample(
        t(spark, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang",
        targetRows = Map("en" -> 100L, "es" -> 50L, "de" -> 50L,
          "fr" -> 50L, "zh" -> 50L))
      .orderBy(col("doc_id"))
  }

  private val stopwords =
    TextFunctions.langMarkers.flatMap(_._2).distinct

  val curation_e2e: OpQuery = {
    val stopList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    OpQuery(
      "curation_e2e",
      s"""WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    LEAST(length(regexp_split_to_array(trim(text), '\\s+')) * 1.0 / 100, 1.0) AS length_score,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text) AS alpha_ratio,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |        t -> list_contains($stopList, t))) * 1.0
        |      / length(regexp_split_to_array(lower(trim(text)), '\\s+')) AS stop_ratio,
        |    length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) * 1.0 / length(text) AS punct_ratio
        |  FROM documents
        |), quality AS (
        |  SELECT doc_id, lang, text,
        |    ROUND(GREATEST(LEAST(
        |      length_score * 0.3 + alpha_ratio * 0.3 + stop_ratio * 0.2 + (1.0 - punct_ratio) * 0.2,
        |      1.0), 0.0), 4) AS q
        |  FROM scored
        |), kept AS (
        |  SELECT * FROM quality WHERE q >= 0.5
        |), survivors AS (
        |  SELECT MIN(doc_id) AS doc_id
        |  FROM kept
        |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        |), split AS (
        |  SELECT k.doc_id, k.lang,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM kept k JOIN survivors s ON k.doc_id = s.doc_id
        |)
        |SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM split
        |GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      val kept = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.5)
      val survivors = Dedup.exact(kept, "doc_id", "text")
      Sampling.deterministicSplit(
          survivors.select(col("doc_id"), col("lang")), "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"), col("lang"))
    }
  }

  /** Token-budget corpus selection: the best documents by quality score
    * until 12k tokens are spent (the "best N tokens" cut every
    * pretraining mix ends with; the doc crossing the budget is kept
    * whole). Spark runs the two-phase distributed prefix sum — range
    * partition on the selection order, window within partitions,
    * partition offsets broadcast back — the oracle states the same
    * selection with one global running-sum window.
    */
  val corpus_select: OpQuery = {
    val stopList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    OpQuery(
      "corpus_select",
      s"""WITH scored AS (
        |  SELECT doc_id, text,
        |    LEAST(length(regexp_split_to_array(trim(text), '\\s+')) * 1.0 / 100, 1.0) AS length_score,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text) AS alpha_ratio,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |        t -> list_contains($stopList, t))) * 1.0
        |      / length(regexp_split_to_array(lower(trim(text)), '\\s+')) AS stop_ratio,
        |    length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) * 1.0 / length(text) AS punct_ratio
        |  FROM documents
        |), quality AS (
        |  SELECT doc_id,
        |    ROUND(GREATEST(LEAST(
        |      length_score * 0.3 + alpha_ratio * 0.3 + stop_ratio * 0.2 + (1.0 - punct_ratio) * 0.2,
        |      1.0), 0.0), 4) AS q,
        |    CASE WHEN coalesce(trim(text), '') = '' THEN 0
        |         ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
        |  FROM scored
        |), ord AS (
        |  SELECT doc_id, q, n_tokens,
        |    COALESCE(SUM(CAST(n_tokens AS BIGINT)) OVER (
        |      ORDER BY q DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS spent_before
        |  FROM quality
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(q AS DOUBLE) AS quality
        |FROM ord WHERE spent_before < 12000
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      val scored = docs.select(
        col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Sampling
        .selectByTokenBudget(scored, "doc_id", "quality", "n_tokens", 12000L)
        .select(col("doc_id"), col("n_tokens"),
          col("quality").cast("double").as("quality"))
        .orderBy(col("doc_id"))
    }
  }

  /** Dataset card: per (source, lang) corpus statistics — doc count,
    * token volume, exact median doc length, and exact-duplicate rate
    * (share of docs whose normalized fingerprint appears more than
    * once). The summary every curated-corpus release ships with; one
    * fingerprint aggregate + one grouped rollup.
    */
  val corpus_stats = OpQuery(
    "corpus_stats",
    """WITH d AS (
      |  SELECT source, lang,
      |         CASE WHEN coalesce(trim(text), '') = '' THEN 0
      |              ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS toks,
      |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents
      |), f AS (
      |  SELECT fp, COUNT(*) AS c FROM d GROUP BY fp
      |)
      |SELECT d.source, d.lang,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(toks) AS BIGINT) AS total_tokens,
      |       CAST(ROUND(quantile_cont(toks, 0.5), 4) AS DOUBLE) AS median_tokens,
      |       CAST(ROUND(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS DOUBLE) AS dup_rate
      |FROM d JOIN f USING (fp)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(
      col("source"), col("lang"),
      TextFunctions.tokenCount(col("text")).cast("long").as("toks"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val fpCounts = base.groupBy(col("fp")).agg(count(lit(1)).as("c"))
    base.join(fpCounts, Seq("fp"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        round(percentile(col("toks"), lit(0.5)), 4).cast("double").as("median_tokens"),
        round(sum(when(col("c") > 1, 1).otherwise(0)) * 1.0 / count(lit(1)), 6)
          .cast("double").as("dup_rate"))
      .orderBy(col("source"), col("lang"))
  }

  /** Decontamination: training docs sharing any word 8-gram with the
    * benchmark slice (doc_id % 17 = 3 stands in for an eval suite).
    * Full audit output — zero-hit docs included — so the gate hashes the
    * whole corpus-side decision, not just the flagged tail.
    */
  val decontam_overlap = OpQuery(
    "decontam_overlap",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents WHERE coalesce(trim(text), '') <> ''
      |), ng AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-8+1),
      |           i -> array_to_string(list_slice(t, i, i+8-1), ' '))) AS g
      |  FROM toks WHERE len(t) >= 8
      |), bench AS (
      |  SELECT DISTINCT g FROM ng WHERE doc_id % 17 = 3
      |), hits AS (
      |  SELECT ng.doc_id, CAST(COUNT(DISTINCT ng.g) AS BIGINT) AS n_hits
      |  FROM ng JOIN bench USING (g)
      |  WHERE ng.doc_id % 17 <> 3
      |  GROUP BY 1
      |)
      |SELECT d.doc_id,
      |       COALESCE(h.n_hits, 0) AS n_hits,
      |       COALESCE(h.n_hits, 0) > 0 AS contaminated
      |FROM (SELECT doc_id FROM toks WHERE doc_id % 17 <> 3) d
      |LEFT JOIN hits h ON d.doc_id = h.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    Curation.decontaminate(
        training = docs.filter(col("doc_id") % 17 =!= 3),
        benchmark = docs.filter(col("doc_id") % 17 === 3),
        idCol = "doc_id", textCol = "text", n = 8)
      .orderBy(col("doc_id"))
  }

  /** Sliding token-window chunking: 32-token chunks, 8-token overlap. */
  val text_chunk = OpQuery(
    "text_chunk",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE coalesce(trim(text), '') <> ''
      |), nc AS (
      |  SELECT doc_id, t, len(t) AS L,
      |    CASE WHEN len(t) <= 32 THEN 1
      |         ELSE CAST(FLOOR((len(t) - 32 + 23) / 24.0) AS INT) + 1 END AS n_chunks
      |  FROM toks
      |)
      |SELECT doc_id,
      |       CAST(u.i AS INT) AS chunk_idx,
      |       CAST(LEAST(32, L - u.i * 24) AS INT) AS n_chunk_tokens,
      |       array_to_string(list_slice(t, u.i * 24 + 1, u.i * 24 + 32), ' ') AS chunk_text
      |FROM nc, unnest(generate_series(0, n_chunks - 1)) AS u(i)
      |ORDER BY doc_id, chunk_idx""".stripMargin) { (spark, dir) =>
    Curation.chunk(t(spark, dir, "documents"), "doc_id", "text",
        chunkSize = 32, overlap = 8)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Gopher-style repetition stats + composite filter flag (flag
    * computed from the rounded fractions on both sides).
    */
  val text_repetition = OpQuery(
    "text_repetition",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents WHERE coalesce(trim(text), '') <> ''
      |), stats AS (
      |  SELECT doc_id,
      |    CAST(len(t) AS INT) AS n_tokens,
      |    CAST(ROUND(list_max(list_transform(list_distinct(t),
      |           x -> len(list_filter(t, e -> e = x)))) * 1.0 / len(t), 6)
      |         AS DOUBLE) AS top_tok_frac,
      |    CAST(CASE WHEN len(t) > 1
      |      THEN ROUND(1.0 - len(list_distinct(list_transform(generate_series(1, len(t)-1),
      |             i -> t[i] || ' ' || t[i+1]))) * 1.0 / (len(t) - 1), 6)
      |      ELSE 0.0 END AS DOUBLE) AS dup_bigram_frac,
      |    CAST(ROUND(len(list_distinct(t)) * 1.0 / len(t), 6) AS DOUBLE) AS distinct_frac
      |  FROM toks
      |)
      |SELECT doc_id, n_tokens, top_tok_frac, dup_bigram_frac, distinct_frac,
      |       (top_tok_frac > 0.14 OR dup_bigram_frac > 0.065) AS repetitive
      |FROM stats
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Curation.repetitionStats(t(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** SemDeDup: collapse cosine-near-identical embeddings (>= 0.45 on
    * the same half-corpus slice the near-dup gate uses) to one survivor
    * per connected component. The oracle rebuilds the component graph
    * with a recursive CTE and elects the same min-id survivors.
    */
  /** Corpus-trained bigram LM quality scoring (KenLM-style filter,
    * relational form): add-one-smoothed mean bigram log-likelihood per
    * document, model trained on the same corpus. The oracle replays
    * tokenization, bigram extraction, both count tables, the vocabulary
    * size, and the smoothed ln — documents under 2 tokens score NULL.
    */
  val text_lm_score = OpQuery(
    "text_lm_score",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
      |), bg AS (
      |  SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 2
      |), cwp AS (
      |  SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2
      |), cw AS (
      |  SELECT w1, SUM(c) AS cw FROM cwp GROUP BY 1
      |), vocab AS (
      |  SELECT COUNT(DISTINCT w) AS v
      |  FROM (SELECT unnest(t) AS w FROM toks) WHERE w <> ''
      |)
      |SELECT d.doc_id,
      |       CAST(COUNT(b.w1) AS BIGINT) AS n_bigrams,
      |       CAST(ROUND(AVG(LN((c + 1.0) / (cw + v))), 6) AS DOUBLE) AS lm_score
      |FROM documents d
      |LEFT JOIN bg b ON d.doc_id = b.doc_id
      |LEFT JOIN cwp ON b.w1 = cwp.w1 AND b.w2 = cwp.w2
      |LEFT JOIN cw ON b.w1 = cw.w1
      |CROSS JOIN vocab
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.LanguageModel.scoreDocs(
        t(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  val semantic_dedup = OpQuery(
    "semantic_dedup",
    """WITH RECURSIVE half AS (
      |  SELECT vec_id, label FROM embeddings WHERE vec_id % 2 = 0
      |), vecs AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
      |), pairs AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2
      |  FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
      |), edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM pairs
      |  UNION
      |  SELECT id2, id1 FROM pairs
      |), reach(node, lbl) AS (
      |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
      |), losers AS (
      |  SELECT node FROM (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
      |  WHERE node <> component
      |)
      |SELECT h.vec_id, h.label
      |FROM half h LEFT JOIN losers l ON h.vec_id = l.node
      |WHERE l.node IS NULL
      |ORDER BY h.vec_id""".stripMargin) { (spark, dir) =>
    Curation.semanticDedupExact(
        t(spark, dir, "embeddings").filter(col("vec_id") % 2 === 0),
        threshold = 0.45)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** Corpus boilerplate-line removal (C4/RefinedWeb line dedup): lines
    * appearing verbatim in ≥ 10 distinct documents are dropped
    * everywhere, documents reassembled in original line order. The
    * documents table has no newlines, so the gate manufactures a
    * deterministic multi-line corpus by splitting on the literal
    * delimiter " the " — both engines see the identical segmentation.
    */
  val text_boilerplate = OpQuery(
    "text_boilerplate",
    """WITH src AS (
      |  SELECT doc_id, string_split(text, ' the ') AS ls FROM documents
      |), lines AS (
      |  SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, ls[u.i] AS line
      |  FROM src, unnest(generate_series(1, len(ls))) AS u(i)
      |), boiler AS (
      |  SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 10
      |), kept AS (
      |  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM boiler)
      |), totals AS (
      |  SELECT doc_id, CAST(coalesce(len(ls), 0) AS BIGINT) AS n_total FROM src
      |)
      |SELECT s.doc_id,
      |       COALESCE(string_agg(k.line, ' the ' ORDER BY k.pos), '') AS text,
      |       CAST(COUNT(k.line) AS BIGINT) AS n_lines_kept,
      |       t.n_total - COUNT(k.line) AS n_lines_dropped
      |FROM src s
      |LEFT JOIN kept k ON s.doc_id = k.doc_id
      |JOIN totals t ON s.doc_id = t.doc_id
      |GROUP BY s.doc_id, t.n_total
      |ORDER BY s.doc_id""".stripMargin) { (spark, dir) =>
    Curation.removeBoilerplateLines(
        t(spark, dir, "documents"), "doc_id", "text",
        minDocs = 10, sep = " the ")
      .orderBy(col("doc_id"))
  }

  /** C4-style heuristic quality filter: word count, mean word length
    * band, brace exclusion — the cheap scan-speed prefilter every web
    * corpus runs before the expensive model-based scoring. Full audit
    * output (every doc with its features + verdict).
    */
  val text_c4_filter = OpQuery(
    "text_c4_filter",
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |         ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS INT) AS n_words,
      |    length(regexp_replace(coalesce(text, ''), '\s', '', 'g')) AS n_word_chars,
      |    coalesce(contains(text, '{'), FALSE) AS has_brace
      |  FROM documents
      |)
      |SELECT doc_id, n_words,
      |       CAST(ROUND(n_word_chars * 1.0 / NULLIF(n_words, 0), 6) AS DOUBLE) AS mean_word_len,
      |       (n_words >= 10
      |         AND n_word_chars * 1.0 / NULLIF(n_words, 0) BETWEEN 3 AND 12
      |         AND NOT has_brace) AS keep
      |FROM f
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val nWords = graft.functions.TextFunctions.tokenCount(col("text"))
    val nWordChars = length(regexp_replace(coalesce(col("text"), lit("")), "\\s", ""))
    val meanLen = nWordChars * 1.0 / nullif(col("n_words"), lit(0))
    t(spark, dir, "documents")
      .select(col("doc_id"), nWords.as("n_words"), nWordChars.as("__c"),
        coalesce(col("text").contains("{"), lit(false)).as("__brace"))
      .select(col("doc_id"), col("n_words"),
        round(col("__c") * 1.0 / nullif(col("n_words"), lit(0)), 6)
          .cast("double").as("mean_word_len"),
        (col("n_words") >= 10 &&
          (col("__c") * 1.0 / nullif(col("n_words"), lit(0))).between(3, 12) &&
          !col("__brace")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** BPE tokenizer: train 20 merges on a corpus slice (distributed pair
    * counting over the vocabulary), then tokenize EVERY document with
    * the learned table. Rows-only gate (BPE is not SQL-expressible);
    * the algorithmic contract — greedy rank-ordered merging, exhaustive
    * left-to-right application, reconstruction invariant — is pinned in
    * BpeSpec.
    */
  val bpe_tokenize = OpQuery.noOracle("bpe_tokenize") { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val merges = Bpe.train(
      docs.filter(col("doc_id") % 7 === 0), "text", numMerges = 20)
    BpeEncode.register(spark)
    docs.select(
        col("doc_id"),
        Bpe.encode(lower(col("text")), merges).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_bpe_tokens"),
        array_join(slice(col("toks"), 1, 5), " ").as("head_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Corpus bigram frequencies: top-50 word bigrams — the n-gram
    * statistics pass of LM data work ([[TextFunctions.wordNgrams]],
    * guarded for short/blank docs), one explode + one uniform-key
    * aggregate + TakeOrdered.
    */
  val text_ngram_freq = OpQuery(
    "text_ngram_freq",
    """WITH toks AS (
      |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |  FROM documents WHERE coalesce(trim(text), '') <> ''
      |), bi AS (
      |  SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
      |           i -> array_to_string(list_slice(ts, i, i + 1), ' '))) AS bigram
      |  FROM toks WHERE len(ts) >= 2
      |)
      |SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
      |FROM bi GROUP BY bigram
      |ORDER BY n DESC, bigram
      |LIMIT 50""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents")
      .filter(coalesce(trim(col("text")), lit("")) =!= "")
      .select(explode(TextFunctions.wordNgrams(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)
  }

  /** Per-document keyword extraction: top-3 TF-IDF terms per doc. The
    * per-doc ranking happens INSIDE each doc's aggregated term array
    * (sort + slice of a doc-vocabulary-sized array) — no window, no
    * global sort; document frequencies join back broadcast.
    */
  val text_keywords = OpQuery(
    "text_keywords",
    """WITH tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |    FROM documents WHERE coalesce(trim(text), '') <> ''
      |  ) GROUP BY 1, 2
      |), idf AS (
      |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
      |), n AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
      |  WHERE coalesce(trim(text), '') <> ''
      |), ranked AS (
      |  SELECT tf.doc_id, tf.tok,
      |         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |           ORDER BY tf.tf * ln(n.n_docs / idf.df) DESC, tf.tok) AS rn
      |  FROM tf JOIN idf ON tf.tok = idf.tok, n
      |)
      |SELECT doc_id,
      |       array_to_string(list(tok ORDER BY rn), ',') AS keywords
      |FROM ranked WHERE rn <= 3
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
      .filter(coalesce(trim(col("text")), lit("")) =!= "")
    val tf = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    tf.join(idf, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("n_docs") / col("df")))
      .groupBy(col("doc_id"))
      // rank inside the doc's own term array: sort by (-score, tok),
      // slice 3 — doc-vocabulary-sized, never a window over the corpus
      .agg(slice(
        array_sort(collect_list(struct((-col("score")).as("ns"), col("tok")))),
        1, 3).as("top"))
      .select(col("doc_id"),
        array_join(transform(col("top"), s => s.getField("tok")), ",").as("keywords"))
      .orderBy(col("doc_id"))
  }

  /** SFT-pair assembly: render (prompt, completion) training rows as
    * compact JSON strings — the last step before an instruction-tuning
    * export. Both engines produce byte-identical compact JSON
    * (verified: same key order, same escaping), so the gate hash-pins
    * the exact serialized bytes a trainer would read.
    */
  val format_sft_pairs = OpQuery(
    "format_sft_pairs",
    """SELECT doc_id,
      |       json_object(
      |         'prompt', 'Identify the language: ' || substr(text, 1, 120),
      |         'completion', lang)::VARCHAR AS sft_row
      |FROM documents
      |WHERE coalesce(trim(text), '') <> ''
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents")
      .filter(coalesce(trim(col("text")), lit("")) =!= "")
      .select(col("doc_id"),
        to_json(struct(
          concat(lit("Identify the language: "), substring(col("text"), 1, 120))
            .as("prompt"),
          col("lang").as("completion"))).as("sft_row"))
      .orderBy(col("doc_id"))
  }

  /** Text normalization: lowercase, punctuation strip, whitespace
    * collapse, stopword removal — the canonicalization pass before
    * fingerprinting/frequency work. Map-only (one codegen'd expression
    * chain, zero shuffles beyond the final ORDER BY).
    */
  val text_normalize = OpQuery(
    "text_normalize",
    """WITH n AS (
      |  SELECT doc_id,
      |         regexp_split_to_array(
      |           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |                ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents WHERE coalesce(trim(text), '') <> ''
      |)
      |SELECT doc_id,
      |       CAST(len(toks) AS INT) AS n_tokens,
      |       CAST(len(list_filter(toks,
      |         t -> NOT list_contains(['the','a','an','and','or','of','to','in','is'], t)))
      |         AS INT) AS n_content_tokens,
      |       array_to_string(list_filter(toks,
      |         t -> NOT list_contains(['the','a','an','and','or','of','to','in','is'], t))[1:12],
      |         ' ') AS head_normalized
      |FROM n
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val stop = array(Seq("the", "a", "an", "and", "or", "of", "to", "in", "is")
      .map(lit): _*)
    val toks = split(
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")), " ")
    val content = filter(toks, tk => !array_contains(stop, tk))
    t(spark, dir, "documents")
      .filter(coalesce(trim(col("text")), lit("")) =!= "")
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(content).as("n_content_tokens"),
        array_join(slice(content, 1, 12), " ").as("head_normalized"))
      .orderBy(col("doc_id"))
  }

  /** Zipf rank-frequency analysis: the corpus's top-30 terms with their
    * ranks plus the log-log regression slope over the top-100 (a healthy
    * natural-language corpus slopes ≈ −1; synthetic or boilerplate text
    * does not). Term counting is one explode + uniform-key aggregate;
    * the regression runs over 100 rows. Slope rounds to 3 decimals —
    * the two engines' covariance accumulation orders differ at ~1e-13.
    */
  val text_zipf = OpQuery.sql("text_zipf", "documents")(
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
      |freqs AS (
      |  SELECT term, COUNT(*) AS freq FROM toks WHERE term <> '' GROUP BY term),
      |ranked AS (
      |  SELECT term, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
      |  FROM freqs),
      |top100 AS (SELECT * FROM ranked WHERE rank <= 100),
      |slope AS (
      |  SELECT regr_slope(ln(freq), ln(rank)) AS k FROM top100)
      |SELECT rank, term, CAST(freq AS BIGINT) AS freq,
      |       CAST(ROUND((SELECT k FROM slope), 3) AS DOUBLE) AS zipf_slope
      |FROM top100 WHERE rank <= 30
      |ORDER BY rank""".stripMargin,
    "unnest(regexp_split_to_array(" -> "explode(split(",
    """'\s+'""" -> """'\\s+'""")

  /** Flesch-style readability from integer counts: words (whitespace
    * tokens), sentences (terminal punctuation runs), syllables (vowel
    * groups). Scores are one float expression over exact counts —
    * map-only, no shuffle; the curation signal that separates running
    * prose from lists and boilerplate.
    */
  val text_readability = OpQuery(
    "text_readability",
    """WITH counts AS (
      |  SELECT doc_id,
      |         len(regexp_extract_all(trim(text), '\S+')) AS words,
      |         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
      |         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syllables
      |  FROM documents)
      |SELECT doc_id, CAST(words AS BIGINT) AS words,
      |       CAST(sentences AS BIGINT) AS sentences,
      |       CAST(syllables AS BIGINT) AS syllables,
      |       CAST(ROUND(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
      |                  - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) AS DOUBLE) AS flesch
      |FROM counts WHERE words > 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_read_docs")
    spark.sql(
      """WITH counts AS (
        |  SELECT doc_id,
        |         size(regexp_extract_all(trim(text), '\\S+', 0)) AS words,
        |         greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) AS sentences,
        |         greatest(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)), 1) AS syllables
        |  FROM graft_read_docs)
        |SELECT doc_id, CAST(words AS BIGINT) AS words,
        |       CAST(sentences AS BIGINT) AS sentences,
        |       CAST(syllables AS BIGINT) AS syllables,
        |       CAST(ROUND(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
        |                  - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) AS DOUBLE) AS flesch
        |FROM counts WHERE words > 0
        |ORDER BY doc_id""".stripMargin)
  }

  /** Code-vs-prose detection: density of code punctuation and digits
    * via the length-difference trick (exact integers, no float
    * tokenization drift). The curation filter that keeps source files
    * out of a prose corpus — map-only codegen.
    */
  val text_code_detect = OpQuery.sql("text_code_detect", "documents")(
    """WITH feat AS (
      |  SELECT doc_id,
      |         length(text) AS n,
      |         length(text) - length(regexp_replace(text, '[{};=()<>#\[\]]', '', 'g')) AS code_chars,
      |         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id, CAST(n AS BIGINT) AS n,
      |       CAST(code_chars AS BIGINT) AS code_chars,
      |       CAST(digits AS BIGINT) AS digits,
      |       CAST(code_chars * 20 >= n OR digits * 5 >= n AS BOOLEAN) AS looks_like_code
      |FROM feat
      |ORDER BY doc_id""".stripMargin,
    """'[{};=()<>#\[\]]'""" -> """'[{};=()<>#\\[\\]]'""",
    ", 'g')" -> ")")

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

  /** Vocabulary coverage curve: what share of all token occurrences the
    * top-k vocabulary covers (k = 10/100/1000) — the curve that sizes a
    * tokenizer's vocab. Rank + prefix sum over the term-frequency
    * table (dimension-sized after the one corpus aggregate).
    */
  val text_vocab_coverage = OpQuery(
    "text_vocab_coverage",
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
      |freqs AS (SELECT term, COUNT(*) AS f FROM toks WHERE term <> '' GROUP BY term),
      |ranked AS (
      |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rk,
      |         SUM(f) OVER (ORDER BY f DESC, term
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM freqs),
      |tot AS (SELECT SUM(f) AS t FROM freqs)
      |SELECT CAST(k.k AS INT) AS vocab_size,
      |       CAST(ROUND(CAST(max(r.cum) AS DOUBLE) / max(tot.t), 6) AS DOUBLE) AS coverage
      |FROM (SELECT unnest([10, 100, 1000]) AS k) k
      |JOIN ranked r ON r.rk <= k.k
      |CROSS JOIN tot
      |GROUP BY k.k
      |ORDER BY vocab_size""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_vc_docs")
    spark.sql(
      """WITH toks AS (
        |  SELECT explode(split(lower(trim(text)), '\\s+')) AS term FROM graft_vc_docs),
        |freqs AS (SELECT term, COUNT(*) AS f FROM toks WHERE term <> '' GROUP BY term),
        |ranked AS (
        |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rk,
        |         SUM(f) OVER (ORDER BY f DESC, term
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM freqs),
        |tot AS (SELECT SUM(f) AS t FROM freqs)
        |SELECT CAST(k.k AS INT) AS vocab_size,
        |       CAST(ROUND(CAST(max(r.cum) AS DOUBLE) / max(tot.t), 6) AS DOUBLE) AS coverage
        |FROM (SELECT explode(array(10, 100, 1000)) AS k) k
        |JOIN ranked r ON r.rk <= k.k
        |CROSS JOIN tot
        |GROUP BY k.k
        |ORDER BY vocab_size""".stripMargin)
  }

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

  /** Term burstiness: variance-to-mean ratio of per-document counts for
    * the corpus's frequent terms — bursty terms (VMR ≫ 1) are topical,
    * uniform terms are function words; the signal TF-IDF approximates.
    * Exact integer moments per term over the (doc × term) counts.
    */
  val text_burstiness = OpQuery.sql("text_burstiness", "documents")(
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |per_doc AS (
      |  SELECT doc_id, w, COUNT(*) AS c FROM toks WHERE w <> '' GROUP BY doc_id, w),
      |n_docs AS (SELECT COUNT(*) AS nd FROM documents),
      |m AS (
      |  SELECT w, SUM(c) AS s1, SUM(c * c) AS s2, COUNT(*) AS present
      |  FROM per_doc GROUP BY w HAVING SUM(c) >= 500)
      |SELECT w AS term, CAST(s1 AS BIGINT) AS occurrences,
      |       CAST(present AS BIGINT) AS docs_present,
      |       CAST(ROUND((CAST(s2 AS DOUBLE) / nd - (CAST(s1 AS DOUBLE) / nd) * (CAST(s1 AS DOUBLE) / nd))
      |                  / (CAST(s1 AS DOUBLE) / nd), 4) AS DOUBLE) AS burstiness_vmr
      |FROM m, n_docs
      |ORDER BY term""".stripMargin,
    "unnest(regexp_split_to_array(" -> "explode(split(",
    """'\s+'""" -> """'\\s+'""")

  /** Sentence segmentation stats per language: documents split on
    * [.!?]+ runs, empty fragments trimmed away, then per-lang counts
    * and mean sentence length from integer sums. All array work stays
    * inside higher-order functions on the row (no explode shuffle
    * amplification — one row in, one row out, then a 6-group reduce).
    */
  val text_sentences = OpQuery(
    "text_sentences",
    """WITH per_doc AS (
      |  SELECT lang,
      |         len(list_filter(list_transform(string_split_regex(text, '[.!?]+'),
      |             s -> trim(s)), s -> length(s) > 0)) AS n_sent,
      |         list_sum(list_transform(list_filter(list_transform(
      |             string_split_regex(text, '[.!?]+'), s -> trim(s)),
      |             s -> length(s) > 0), s -> length(s))) AS chars
      |  FROM documents)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_sent) AS BIGINT) AS n_sentences,
      |       CAST(ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(n_sent), 6) AS DOUBLE)
      |         AS mean_sentence_chars
      |FROM per_doc
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    val sentences = filter(
      transform(split(col("text"), "[.!?]+"), s => trim(s)),
      s => length(s) > 0)
    Tables.load(spark, dir, "documents")
      .select(col("lang"), size(sentences).as("n_sent"),
        aggregate(sentences, lit(0L), (acc, s) => acc + length(s)).as("chars"))
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_sent")).cast("long").as("n_sentences"),
        round(sum(col("chars")).cast("double") / sum(col("n_sent")), 6)
          .cast("double").as("mean_sentence_chars"))
      .orderBy("lang")
  }

  /** Anagram grouping: the corpus vocabulary (plus every word reversed — deterministic anagram mates) keyed by sorted-character signature
    * — the permutation-invariant blocking key (scrambled dupes, columnar
    * token canon). Pure per-row array work (split → sort → join), then
    * one shuffle on the signature.
    */
  val text_anagram_groups = OpQuery(
    "text_anagram_groups",
    """WITH vocab AS (
      |  SELECT DISTINCT u.w AS w
      |  FROM (SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                           s -> length(s) >= 3) AS ws FROM documents) d,
      |       (SELECT unnest(ws) AS w) u),
      |words AS (
      |  SELECT w FROM vocab
      |  UNION
      |  SELECT reverse(w) FROM vocab),
      |keyed AS (
      |  SELECT w, array_to_string(list_sort(string_split_regex(w, '')), '') AS sig
      |  FROM words)
      |SELECT sig, CAST(COUNT(*) AS BIGINT) AS n_words,
      |       array_to_string(list_sort(list(w)), ',') AS members
      |FROM keyed
      |GROUP BY sig
      |HAVING COUNT(*) > 1
      |ORDER BY sig""".stripMargin) { (spark, dir) =>
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(filter(split(lower(col("text")), "[^a-z]+"),
        s => length(s) >= 3)).as("w"))
      .distinct()
    vocab.unionByName(vocab.select(reverse(col("w")).as("w"))).distinct()
      .select(col("w"),
        array_join(array_sort(split(col("w"), "")), "").as("sig"))
      .groupBy("sig")
      .agg(count(lit(1)).cast("long").as("n_words"),
        array_join(array_sort(collect_list(col("w"))), ",").as("members"))
      .filter(col("n_words") > 1)
      .orderBy("sig")
  }

  /** Greedy bigram decoding: from the corpus's most frequent token,
    * repeatedly follow the argmax next-token edge for 10 steps — the
    * deterministic skeleton of LM sampling. The argmax-follower table
    * is built once (localCheckpoint on the Spark side, so the recursive
    * term re-executes against materialized rows, not a fresh corpus
    * scan per step — the UnionLoop lesson from recursive_cte).
    */
  val lm_greedy_decode = OpQuery(
    "lm_greedy_decode",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                      s -> length(s) >= 3) AS ws
      |        FROM documents) d),
      |bigrams AS (
      |  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  GROUP BY a.w, b.w),
      |nxt AS (
      |  SELECT w1, w2 FROM (
      |    SELECT w1, w2, ROW_NUMBER() OVER (PARTITION BY w1
      |      ORDER BY c DESC, w2) AS rk FROM bigrams) t
      |  WHERE rk = 1),
      |start AS (
      |  SELECT w FROM (
      |    SELECT w, COUNT(*) AS c FROM toks GROUP BY w
      |    ORDER BY c DESC, w LIMIT 1) s),
      |walk(step, w) AS (
      |  SELECT 1, w FROM start
      |  UNION ALL
      |  SELECT walk.step + 1, nxt.w2
      |  FROM walk JOIN nxt ON walk.w = nxt.w1
      |  WHERE walk.step < 10)
      |SELECT CAST(step AS INT) AS step, w
      |FROM walk
      |ORDER BY step""".stripMargin) { (spark, dir) =>
    // tokenized ONCE and lazily frozen (r14-opt): the old shape re-ran the
    // posexplode tokenization three times (both sides of the bigram
    // self-join + the unigram start count)
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), "[^a-z]+"),
          s => length(s) >= 3)).as(Seq("i0", "w")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("w"))
      .transform(Freeze.lazily)
    // bigram pairs via lead() over the per-doc position order instead of
    // the (doc_id, i+1) self-join (r14-opt, guide §2.4): positions are
    // dense consecutive by construction (posexplode), so the next-row
    // token IS the unique i+1 partner — one window shuffle replaces the
    // two-sided join shuffle, identical pair multiset (oracle-pinned)
    val bigrams = toks
      .withColumn("w2",
        lead(col("w"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("i"))))
      .filter(col("w2").isNotNull)
      .groupBy(col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val rk = Window.partitionBy(col("w1")).orderBy(col("c").desc, col("w2"))
    // materialize the tiny argmax-edge and start tables once — the
    // recursion below re-executes its subplan per step, and must not
    // re-scan the corpus 10 times
    val nxt = bigrams.withColumn("rk", row_number().over(rk))
      .filter(col("rk") === 1).select("w1", "w2").transform(Freeze.eager)
    val start = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(1).select("w").transform(Freeze.eager)
    nxt.createOrReplaceTempView("graft_lm_nxt")
    start.createOrReplaceTempView("graft_lm_start")
    spark.sql(
      """WITH RECURSIVE walk(step, w) AS (
        |  SELECT 1, w FROM graft_lm_start
        |  UNION ALL
        |  SELECT walk.step + 1, nxt.w2
        |  FROM walk JOIN graft_lm_nxt nxt ON walk.w = nxt.w1
        |  WHERE walk.step < 10)
        |SELECT CAST(step AS INT) AS step, w
        |FROM walk
        |ORDER BY step""".stripMargin)
  }

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

  /** Bigram language model trained and evaluated IN SQL: bigrams from
    * zipping each document's token array with its own tail (no
    * positional explode needed), add-one smoothing over the training
    * vocabulary, held-out (doc_id%5=4) negative log-likelihood and
    * perplexity. Per-bigram NLL terms are quantized before the DECIMAL
    * fold. The full n-gram LM evaluation loop as two joins.
    */
  val text_bigram_perplexity = OpQuery(
    "text_bigram_perplexity",
    """WITH docs AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a,
      |         doc_id % 5 = 4 AS is_test
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, is_test,
      |         unnest(list_transform(
      |           list_zip(a[1:len(a) - 1], a[2:len(a)]),
      |           p -> p[1] || ' ' || p[2])) AS b
      |  FROM docs WHERE len(a) >= 2),
      |uni AS (
      |  SELECT doc_id, is_test, unnest(a) AS w FROM docs),
      |vocab AS (
      |  SELECT COUNT(DISTINCT w) AS v FROM uni WHERE NOT is_test),
      |cw AS (
      |  SELECT w, COUNT(*) AS c FROM uni WHERE NOT is_test GROUP BY w),
      |cb AS (
      |  SELECT b, COUNT(*) AS c FROM bg WHERE NOT is_test GROUP BY b),
      |test AS (
      |  SELECT b, COUNT(*) AS c FROM bg WHERE is_test GROUP BY b),
      |nll AS (
      |  SELECT SUM(test.c) AS n,
      |         CAST(SUM(CAST(ROUND(test.c * -LN(
      |           (COALESCE(cb.c, 0) + 1.0)
      |           / (COALESCE(cw.c, 0) + vocab.v)), 8) AS DECIMAL(38,8)))
      |           AS DOUBLE) AS total_nll
      |  FROM test
      |  LEFT JOIN cb ON cb.b = test.b
      |  LEFT JOIN cw ON cw.w = split_part(test.b, ' ', 1)
      |  CROSS JOIN vocab)
      |SELECT CAST(vocab.v AS BIGINT) AS train_vocab,
      |       CAST(nll.n AS BIGINT) AS test_bigrams,
      |       CAST(ROUND(nll.total_nll / nll.n, 6) AS DOUBLE) AS avg_nll,
      |       CAST(ROUND(EXP(ROUND(nll.total_nll / nll.n, 6)), 4) AS DOUBLE)
      |         AS perplexity
      |FROM nll CROSS JOIN vocab""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_ppl_docs")
    spark.sql(
      """WITH docs AS (
        |  SELECT doc_id, split(lower(trim(text)), '\\s+') AS a,
        |         doc_id % 5 = 4 AS is_test
        |  FROM graft_ppl_docs),
        |bg AS (
        |  SELECT doc_id, is_test,
        |         explode(zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
        |           (x, y) -> concat(x, ' ', y))) AS b
        |  FROM docs WHERE size(a) >= 2),
        |uni AS (
        |  SELECT doc_id, is_test, explode(a) AS w FROM docs),
        |vocab AS (
        |  SELECT COUNT(DISTINCT w) AS v FROM uni WHERE NOT is_test),
        |cw AS (
        |  SELECT w, COUNT(*) AS c FROM uni WHERE NOT is_test GROUP BY w),
        |cb AS (
        |  SELECT b, COUNT(*) AS c FROM bg WHERE NOT is_test GROUP BY b),
        |test AS (
        |  SELECT b, COUNT(*) AS c FROM bg WHERE is_test GROUP BY b),
        |nll AS (
        |  SELECT SUM(test.c) AS n,
        |         CAST(SUM(CAST(ROUND(test.c * -LN(
        |           (COALESCE(cb.c, 0) + 1.0)
        |           / (COALESCE(cw.c, 0) + vocab.v)), 8) AS DECIMAL(38,8)))
        |           AS DOUBLE) AS total_nll
        |  FROM test
        |  LEFT JOIN cb ON cb.b = test.b
        |  LEFT JOIN cw ON cw.w = split_part(test.b, ' ', 1)
        |  CROSS JOIN vocab)
        |SELECT CAST(vocab.v AS BIGINT) AS train_vocab,
        |       CAST(nll.n AS BIGINT) AS test_bigrams,
        |       CAST(ROUND(nll.total_nll / nll.n, 6) AS DOUBLE) AS avg_nll,
        |       CAST(ROUND(EXP(ROUND(nll.total_nll / nll.n, 6)), 4) AS DOUBLE)
        |         AS perplexity
        |FROM nll CROSS JOIN vocab""".stripMargin)
  }

  /** TF-IDF document-pair cosine over a 200-doc slice: weights
    * tf·ln(N/df) rounded to 6dp, per-doc norms and pair dot products
    * folded through DECIMAL, pairs meeting ≥3 shared terms ranked by
    * cosine. The pair join is an inverted-index join on TERM — the
    * scalable sparse-vector shape (work ∝ posting-list sizes, never
    * |docs|²) that underlies every semantic-dedup pass.
    */
  val text_doc_cosine = OpQuery.sql("text_doc_cosine", "documents")(
    """WITH tf AS (
      |  SELECT doc_id, w, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                                      s -> length(s) >= 3)) AS w
      |    FROM documents WHERE doc_id < 200) t
      |  GROUP BY doc_id, w),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |wts AS (
      |  SELECT tf.doc_id, tf.w,
      |         ROUND(tf.tf * LN(CAST(nd.n AS DOUBLE) / df.df), 6) AS wt
      |  FROM tf JOIN df ON df.w = tf.w CROSS JOIN nd),
      |norms AS (
      |  SELECT doc_id,
      |         SQRT(CAST(SUM(CAST(ROUND(wt * wt, 6) AS DECIMAL(38,6))) AS DOUBLE))
      |           AS nrm
      |  FROM wts GROUP BY doc_id),
      |dots AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |         CAST(SUM(CAST(ROUND(a.wt * b.wt, 6) AS DECIMAL(38,6))) AS DOUBLE)
      |           AS dot,
      |         COUNT(*) AS shared
      |  FROM wts a JOIN wts b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |  HAVING COUNT(*) >= 3)
      |SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
      |       CAST(shared AS BIGINT) AS shared_terms,
      |       CAST(ROUND(dot / (n1.nrm * n2.nrm), 6) AS DOUBLE) AS cosine
      |FROM dots
      |JOIN norms n1 ON n1.doc_id = d1
      |JOIN norms n2 ON n2.doc_id = d2
      |ORDER BY cosine DESC, d1, d2
      |LIMIT 15""".stripMargin,
    "unnest(list_filter(string_split_regex(" -> "explode(filter(split(")

  /** Burrows' Delta — the stylometry workhorse: over the 30 most
    * frequent corpus words, each document's relative frequencies are
    * z-scored against the corpus, and Delta(d₁,d₂) is the mean |z₁−z₂|.
    * The 10 closest pairs among the first 100 docs are the
    * same-author/same-template candidates. The pair join is keyed on
    * WORD (a 30-row dimension), so cost is #docs² × 30 only after the
    * 30-word projection — the matrix never materializes wider.
    */
  val text_burrows_delta = OpQuery.sql("text_burrows_delta", "documents")(
    """WITH words AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                      s -> length(s) >= 2)) AS w
      |    FROM documents WHERE doc_id < 100) t),
      |doclen AS (SELECT doc_id, COUNT(*) AS len FROM words GROUP BY doc_id),
      |top30 AS (
      |  SELECT w FROM words GROUP BY w
      |  ORDER BY COUNT(*) DESC, w LIMIT 30),
      |freq AS (
      |  SELECT dl.doc_id, t.w,
      |         CAST(COALESCE(c.c, 0) AS DOUBLE) / dl.len AS f
      |  FROM doclen dl CROSS JOIN top30 t
      |  LEFT JOIN (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w) c
      |    ON c.doc_id = dl.doc_id AND c.w = t.w),
      |stats AS (
      |  SELECT w, COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(f, 10) AS DECIMAL(28,10))) AS DOUBLE) AS s1,
      |         CAST(SUM(CAST(ROUND(f * f, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s2
      |  FROM freq GROUP BY w),
      |z AS (
      |  SELECT freq.doc_id, freq.w,
      |         (freq.f - stats.s1 / stats.n)
      |           / SQRT((stats.s2 - stats.s1 * stats.s1 / stats.n) / (stats.n - 1))
      |           AS z
      |  FROM freq JOIN stats ON stats.w = freq.w),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |         CAST(SUM(CAST(ROUND(ABS(a.z - b.z), 8) AS DECIMAL(28,8))) AS DOUBLE)
      |           / 30 AS delta
      |  FROM z a JOIN z b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
      |       CAST(ROUND(delta, 6) AS DOUBLE) AS delta
      |FROM pairs
      |ORDER BY delta, d1, d2
      |LIMIT 10""".stripMargin,
    "unnest(list_filter(string_split_regex(" -> "explode(filter(split(")

  val text_hash_embed = OpQuery(
    "text_hash_embed",
    """WITH toks AS (
      |  SELECT doc_id, t.tok AS tok
      |  FROM (SELECT doc_id,
      |               regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      |        FROM documents),
      |       unnest(ts) AS t(tok)
      |  WHERE t.tok <> ''
      |), hb AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 32 AS b,
      |         CASE WHEN CAST(('0x' || substr(md5(tok), 9, 1)) AS BIGINT) % 2 = 0
      |              THEN 1 ELSE -1 END AS s
      |  FROM toks
      |), cells AS (
      |  SELECT doc_id, b, SUM(s) AS v
      |  FROM hb GROUP BY doc_id, b HAVING SUM(s) <> 0
      |), agg AS (
      |  SELECT doc_id, COUNT(*) AS nnz, SUM(ABS(v)) AS l1,
      |         SUM((b + 1) * v) AS checksum
      |  FROM cells GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |       CAST(COALESCE(a.nnz, 0) AS INT) AS nnz,
      |       CAST(COALESCE(a.l1, 0) AS BIGINT) AS l1,
      |       CAST(COALESCE(a.checksum, 0) AS BIGINT) AS checksum
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    Retrieval.hashedFeatures(
        Tables.load(spark, dir, "documents"), "doc_id", "text", dim = 32)
      .withColumn("checksum",
        expr("aggregate(transform(sequence(0, 31), " +
          "i -> (i + 1) * element_at(vector, i + 1)), 0L, (acc, x) -> acc + x)"))
      .select(col("doc_id"), col("nnz"), col("l1"), col("checksum"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end text clustering on the vocabulary-free path: documents →
    * signed hashed vectors → argmin-L2 assignment to 8 seed centroids
    * (the first 8 docs' vectors, the id-ordered init convention) →
    * per-cluster stats. Every stage is integer arithmetic — md5 buckets,
    * signed counts, L2² over BIGINT vectors — so DuckDB replays the
    * WHOLE pipeline including tie-breaks. This is the smoke test that
    * the text featurizer, the PQ argmin kernel, and the cluster
    * aggregation compose, not just work alone.
    */
  val text_hash_cluster = OpQuery(
    "text_hash_cluster",
    """WITH toks AS (
      |  SELECT doc_id, t.tok AS tok
      |  FROM (SELECT doc_id,
      |               regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      |        FROM documents),
      |       unnest(ts) AS t(tok)
      |  WHERE t.tok <> ''
      |), cells AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 32 AS b,
      |         SUM(CASE WHEN CAST(('0x' || substr(md5(tok), 9, 1)) AS BIGINT) % 2 = 0
      |                  THEN 1 ELSE -1 END) AS v
      |  FROM toks GROUP BY doc_id, b
      |  HAVING SUM(CASE WHEN CAST(('0x' || substr(md5(tok), 9, 1)) AS BIGINT) % 2 = 0
      |                  THEN 1 ELSE -1 END) <> 0
      |), dense AS (
      |  SELECT d.doc_id, list(COALESCE(c.v, 0) ORDER BY g.i) AS vec,
      |         SUM(ABS(COALESCE(c.v, 0))) AS l1
      |  FROM documents d
      |  CROSS JOIN unnest(generate_series(0, 31)) AS g(i)
      |  LEFT JOIN cells c ON c.doc_id = d.doc_id AND c.b = g.i
      |  GROUP BY d.doc_id
      |), cents AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS INT) AS cell, vec
      |  FROM (SELECT doc_id, vec FROM dense ORDER BY doc_id LIMIT 8)
      |), assigned AS (
      |  SELECT doc_id, l1, cell FROM (
      |    SELECT x.doc_id, x.l1, c.cell,
      |           ROW_NUMBER() OVER (PARTITION BY x.doc_id ORDER BY
      |             list_sum(list_transform(generate_series(1, 32), i ->
      |               (x.vec[i] - c.vec[i]) * (x.vec[i] - c.vec[i]))) ASC,
      |             c.cell ASC) AS rn
      |    FROM dense x, cents c)
      |  WHERE rn = 1
      |)
      |SELECT CAST(cell AS INT) AS cell_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(l1) AS BIGINT) AS sum_l1,
      |       CAST(MIN(doc_id) AS BIGINT) AS min_doc
      |FROM assigned GROUP BY cell
      |ORDER BY cell_id""".stripMargin) { (spark, dir) =>
    import graft.operators.Pq
    Pq.register(spark)
    val feats = Retrieval.hashedFeatures(
      Tables.load(spark, dir, "documents"), "doc_id", "text", dim = 32)
    val seeds = feats.orderBy(col("doc_id")).limit(8)
      .select(col("vector")).collect()
    val flat = seeds.flatMap(_.getSeq[Long](0).map(_.toDouble))
    feats
      .withColumn("cell_id",
        element_at(call_function("pq_encode",
          col("vector"), lit(flat), lit(1)), 1))
      .groupBy(col("cell_id"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("l1")).cast("long").as("sum_l1"),
        min(col("doc_id")).cast("long").as("min_doc"))
      .orderBy(col("cell_id"))
  }

  /** Unicode NFC normalization ([[graft.expressions.UnicodeNormalize]],
    * the JDK Normalizer behind a codegen expression) — each document is
    * suffixed with DECOMPOSED sequences (e+combining acute, A+combining
    * ring, u+combining diaeresis) and both engines must compose them to
    * the identical canonical bytes: lengths shrink by exactly the three
    * combining marks and the md5 of the normalized text hash-matches
    * DuckDB's utf8proc-based `nfc_normalize`. Two independent Unicode
    * implementations agreeing byte-for-byte IS the correctness claim.
    */
  val text_nfc_normalize = OpQuery(
    "text_nfc_normalize",
    """WITH r AS (
      |  SELECT doc_id,
      |         text || ' e' || chr(769) || ' A' || chr(778)
      |              || ' gru' || chr(776) || 'n' AS raw
      |  FROM documents
      |)
      |SELECT doc_id,
      |       CAST(length(raw) AS INT) AS len_raw,
      |       CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc,
      |       md5(nfc_normalize(raw)) AS nfc_md5
      |FROM r ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.GraftFunctions.registerAll(spark)
    import graft.functions.TextFunctions
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        // DECOMPOSED suffix: e+U+0301, A+U+030A, u+U+0308 — NFC must
        // compose all three (the oracle builds the same bytes via chr())
        concat(col("text"),
          lit(" e\u0301 A\u030a gru\u0308n")).as("raw"))
      .select(col("doc_id"),
        length(col("raw")).as("len_raw"),
        length(TextFunctions.normalizeUnicode(col("raw"))).as("len_nfc"),
        md5(TextFunctions.normalizeUnicode(col("raw"))).as("nfc_md5"))
      .orderBy(col("doc_id"))
  }

  /** Twin for `bpe_tokenize`: the BPE invariant DuckDB CAN check —
    * concatenating the learned-merge tokens reconstructs the input's
    * non-whitespace characters exactly (the tokenizer splits on
    * whitespace and merges only ever join adjacent units within a
    * word). The gate trains the same 20 merges, encodes every
    * document, and emits the roundtrip verdict + reconstructed length;
    * a tokenizer that drops, duplicates, or mangles a single character
    * hash-fails every row.
    */
  val bpe_roundtrip = OpQuery(
    "bpe_roundtrip",
    """SELECT doc_id,
      |       TRUE AS roundtrip_ok,
      |       CAST(LENGTH(REGEXP_REPLACE(LOWER(text), '\s+', '', 'g')) AS INT)
      |         AS n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val merges = Bpe.train(
      docs.filter(col("doc_id") % 7 === 0), "text", numMerges = 20)
    graft.expressions.BpeEncode.register(spark)
    docs.select(col("doc_id"), lower(col("text")).as("t"))
      .select(
        col("doc_id"),
        regexp_replace(col("t"), "\\s+", "").as("squashed"),
        array_join(Bpe.encode(col("t"), merges), "").as("joined"))
      .select(
        col("doc_id"),
        (col("joined") === col("squashed")).as("roundtrip_ok"),
        length(col("squashed")).cast("int").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val Epochs = 3

  private val LrLog2 = -17

  // 2^-17 written as the exact decimal both engines parse to the same
  // double (a power of two is exactly representable, so the literal IS
  // the value — no parse rounding on either side)
  private val LrSql = "0.00000762939453125"

  /** Feature CTE shared by the GD gates: four cheap, integer-valued,
    * engine-parity text statistics (bias, whitespace token count, char
    * count, 'e' count) and the label (long docs). Integer-valued
    * features make every gradient product one IEEE multiply on exact
    * operands — the quantized-walk replay regime.
    */
  private val featsSql =
    """feats AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(1 AS DOUBLE) AS f1,
      |    CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS f2,
      |    CAST(n_chars AS DOUBLE) AS f3,
      |    CAST(length(text) - length(replace(text, 'e', '')) AS DOUBLE) AS f4,
      |    CASE WHEN n_chars > 300 THEN CAST(1 AS DOUBLE)
      |         ELSE CAST(0 AS DOUBLE) END AS y
      |  FROM documents
      |  WHERE text IS NOT NULL AND n_chars IS NOT NULL)""".stripMargin

  /** The E-epoch GD walk as CTEs `w0..w$Epochs` (w0 = zeros): per epoch
    * one gradient CTE summing 9dp-rounded per-row contributions in
    * DECIMAL (order-independent — the same arithmetic
    * [[graft.operators.QualityModel.trainGD]] runs distributed), then
    * one weight-update CTE of four scalar IEEE ops. The prediction sums
    * its four terms left-to-right, matching the operator's
    * left-to-right fold exactly.
    */
  private def gdWalkSql: String = {
    val dims = 1 to 4
    val steps = (1 to Epochs).flatMap { e =>
      val pred = dims.map(j => s"f.f$j * w.w$j").mkString(" + ")
      val grads = dims.map(j =>
        s"SUM(CAST(ROUND((($pred) - f.y) * f.f$j, 9) AS DECIMAL(38,9))) AS s$j")
        .mkString(",\n    ")
      val updates = dims.map(j =>
        s"w.w$j - $LrSql * (CAST(g.s$j AS DOUBLE) / g.n) AS w$j")
        .mkString(",\n    ")
      Seq(
        s"""g$e AS MATERIALIZED (
           |  SELECT $grads,
           |    COUNT(*) AS n
           |  FROM feats f CROSS JOIN w${e - 1} w)""".stripMargin,
        s"""w$e AS MATERIALIZED (
           |  SELECT $updates
           |  FROM g$e g CROSS JOIN w${e - 1} w)""".stripMargin)
    }
    val w0 = "w0 AS (SELECT " +
      dims.map(j => s"CAST(0 AS DOUBLE) AS w$j").mkString(", ") + ")"
    (Seq("WITH " + featsSql, w0) ++ steps).mkString(",\n")
  }

  private def featuresCol = array(
    lit(1.0),
    size(split(trim(col("text")), "\\s+")).cast("double"),
    col("n_chars").cast("double"),
    (length(col("text")) - length(expr("replace(text, 'e', '')")))
      .cast("double"))

  /** NULL text / n_chars filtered BEFORE featurizing, mirroring the
    * feats CTE's WHERE: a NULL text would otherwise diverge the two
    * halves (Spark's trainGD coalesces NULL feature ELEMENTS to 0 and
    * keeps the row; the SQL prediction goes NULL and voids the row's
    * gradient while COUNT(*) still includes it in n).
    */
  private def cleanDocs(
      spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)

  private def trainedWeights(
      spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = cleanDocs(spark, dir)
      .select(col("doc_id"), featuresCol.as("features"),
        when(col("n_chars") > 300, 1.0).otherwise(0.0).as("y"))
    QualityModel.trainGD(docs, "features", "y", dim = 4,
      epochs = Epochs, lrLog2 = LrLog2, link = QualityModel.Identity,
      quantizeDp = 9)
  }

  /** Distributed linear-model training, hash-replayed END-TO-END: all 3
    * epochs of full-batch GD (one distributed gradient pass per epoch,
    * weights broadcast as literals) replayed by DuckDB from the same
    * parquet — per-row contributions rounded to 9dp and summed in
    * DECIMAL make the gradient order-independent, lr = 2^-17 makes the
    * update scaling exact, and the left-to-right prediction fold
    * matches SQL's `+` associativity. Output: every epoch's weight
    * vector.
    */
  val qf_linear_gd: OpQuery = {
    val finals = (1 to Epochs).flatMap(e => (1 to 4).map(j =>
      s"SELECT CAST($e AS INT) AS epoch, CAST($j AS INT) AS dim, " +
        s"CAST(ROUND(w$j, 9) AS DOUBLE) AS weight FROM w$e"))
      .mkString("\nUNION ALL\n")
    OpQuery("qf_linear_gd",
      gdWalkSql + "\n" + finals + "\nORDER BY epoch, dim") { (spark, dir) =>
      import spark.implicits._
      trainedWeights(spark, dir).zipWithIndex.flatMap { case (w, e) =>
        w.zipWithIndex.map { case (x, j) => (e + 1, j + 1, x) }
      }.toDF("epoch", "dim", "weight")
        .select(col("epoch").cast("int"), col("dim").cast("int"),
          round(col("weight"), 9).as("weight"))
        .orderBy("epoch", "dim")
    }
  }

  /** The scoring half: the trained weights travel as literals into a
    * map-side expression (one scan, no join, no shuffle — the 100 TB
    * quality-filter shape) and the top-20 quality docs come off a
    * TakeOrdered. The oracle re-derives the identical weights through
    * the same CTE walk, so the gate pins train→score end-to-end.
    */
  val qf_linear_score: OpQuery = {
    val pred = (1 to 4).map(j => s"f.f$j * w.w$j").mkString(" + ")
    OpQuery("qf_linear_score",
      gdWalkSql +
        s""",
           |scored AS (SELECT f.doc_id, ($pred) AS s
           |           FROM feats f CROSS JOIN w$Epochs w)
           |SELECT doc_id, CAST(ROUND(s, 9) AS DOUBLE) AS score
           |FROM scored ORDER BY s DESC, doc_id LIMIT 20""".stripMargin) {
      (spark, dir) =>
        val w = trainedWeights(spark, dir).last
        cleanDocs(spark, dir)
          .select(col("doc_id"),
            QualityModel.scoreExpr(featuresCol, w).as("s"))
          .orderBy(col("s").desc, col("doc_id"))
          .limit(20)
          .select(col("doc_id"), round(col("s"), 9).as("score"))
    }
  }

  /** The trained-curation pipeline END-TO-END: train the quality model
    * (3 GD epochs), filter the corpus map-side at score ≥ 0.5, exact-dedup
    * the survivors on normalized text, then split LEAKAGE-SAFE at the
    * source level — the full modern curation chain (heuristic
    * `curation_e2e`'s trained sibling), every stage hash-replayed in one
    * oracle: DuckDB re-derives the weights through the CTE walk, applies
    * the same threshold, elects the same min-id survivors, and hashes
    * the same representatives.
    */
  val curation_e2e_trained: OpQuery = {
    val pred = (1 to 4).map(j => s"f.f$j * w.w$j").mkString(" + ")
    OpQuery("curation_e2e_trained",
      gdWalkSql +
        s""",
           |scored AS (SELECT f.doc_id, ($pred) AS s
           |           FROM feats f CROSS JOIN w$Epochs w),
           |kept AS MATERIALIZED (
           |  SELECT d.doc_id, d.source, d.lang,
           |         md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp
           |  FROM documents d JOIN scored sc ON d.doc_id = sc.doc_id
           |  WHERE sc.s >= 0.5),
           |survivors AS (
           |  SELECT k.doc_id, k.source, k.lang FROM kept k
           |  JOIN (SELECT fp, MIN(doc_id) AS keeper FROM kept GROUP BY fp) g
           |    ON k.doc_id = g.keeper),
           |sgrp AS (SELECT doc_id, lang,
           |    COALESCE('g:' || source, 's:' || CAST(doc_id AS VARCHAR)) AS grp
           |  FROM survivors),
           |reps AS (SELECT grp,
           |    CAST(('0x' || substr(md5(CAST(MIN(doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS hb
           |  FROM sgrp GROUP BY grp),
           |assigned AS (SELECT s.doc_id, s.lang,
           |    CASE WHEN r.hb < 80 THEN 'train' WHEN r.hb < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM sgrp s JOIN reps r ON s.grp = r.grp)
           |SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
           |FROM assigned GROUP BY split, lang ORDER BY split, lang""".stripMargin) {
      (spark, dir) =>
        val w = trainedWeights(spark, dir).last
        val kept = cleanDocs(spark, dir)
          .filter(QualityModel.scoreExpr(featuresCol, w) >= 0.5)
        val survivors = graft.operators.Dedup.exact(kept, "doc_id", "text")
          .select(col("doc_id"), col("source"), col("lang"))
        Sampling.leakageSafeSplit(survivors, "doc_id", "source",
            Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("split"), col("lang"))
    }
  }

  /** Scaled features for the LOGISTIC trainer: the same four text
    * statistics as `qf_linear_gd` but divided to O(1) ranges (tokens/100,
    * chars/1000, 'e'-count/100) — sigmoid gradients vanish when w·x
    * saturates, so raw hundreds-scale features would need a vanishing
    * learning rate; the identity-link gates keep the raw integer
    * features because THEIR replay depends on exact-integer products.
    */
  private def scaledFeaturesCol = array(
    lit(1.0),
    (size(split(trim(col("text")), "\\s+")) / 100.0),
    (col("n_chars") / 1000.0),
    ((length(col("text")) - length(expr("replace(text, 'e', '')"))) / 100.0))

  private val LogisticEpochs = 8

  private val LogisticLrLog2 = 2

  private val LogisticAccuracyBar = 0.85

  /** Train the logistic filter and REQUIRE it actually learned: final
    * train accuracy ≥ 0.85 against the n_chars > 300 label (chance is
    * ~0.5; the 8-epoch/lr=4 walk measures 0.94 at sf0.01). The REQUIRE
    * is the gate's correctness content — σ uses libm exp, which is
    * correctly-rounded nowhere guaranteed, so the walk is honestly NOT
    * hash-replayable cross-engine (QualityModel class doc) and the gate
    * is rows-only with this in-gate assertion instead (the
    * `sim_pq_rerank_verified` pattern; twin note in COVERAGE.md).
    */
  private def trainLogistic(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[Array[Double]], Double,
         org.apache.spark.sql.DataFrame) = {
    val docs = cleanDocs(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        scaledFeaturesCol.as("features"),
        when(col("n_chars") > 300, 1.0).otherwise(0.0).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val walk = QualityModel.trainGD(docs, "features", "y", dim = 4,
      epochs = LogisticEpochs, lrLog2 = LogisticLrLog2,
      link = QualityModel.Logistic, quantizeDp = 9)
    val w = walk.last
    // σ(w·x) ≥ 0.5 ⇔ w·x ≥ 0: the threshold needs no exp at all
    val acc = docs.select(
        (when(QualityModel.scoreExpr(col("features"), w) > 0, 1.0)
          .otherwise(0.0) === col("y")).cast("int").as("hit"))
      .agg(avg("hit")).head().getDouble(0)
    require(acc >= LogisticAccuracyBar,
      f"qf_logistic_gd: trained classifier accuracy $acc%.4f below the " +
        f"$LogisticAccuracyBar gate bar — the logistic walk regressed")
    (walk, acc, docs)
  }

  /** Trained LOGISTIC quality filter on the driver's correctness
    * surface (VERDICT r10 item 3 — the spec-pinned classifier was
    * driver-invisible). Rows-only by necessity (libm exp; see
    * [[trainLogistic]]); the gate's teeth are the in-gate accuracy
    * REQUIRE plus determinism of the quantized walk (order-independent
    * DECIMAL gradient sums make reruns bit-identical within an engine —
    * pinned across partitionings in QualityModelSpec). Output: the full
    * per-epoch weight walk and the final train accuracy.
    */
  val qf_logistic_gd: OpQuery = OpQuery.noOracle("qf_logistic_gd") {
    (spark, dir) =>
      import spark.implicits._
      val (walk, acc, docs) = trainLogistic(spark, dir)
      docs.unpersist(false)
      walk.zipWithIndex.flatMap { case (w, e) =>
        w.zipWithIndex.map { case (x, j) => (e + 1, j + 1, x, acc) }
      }.toDF("epoch", "dim", "weight", "train_accuracy")
        .select(col("epoch").cast("int"), col("dim").cast("int"),
          round(col("weight"), 9).as("weight"),
          round(col("train_accuracy"), 4).as("train_accuracy"))
        .orderBy("epoch", "dim")
  }

  /** Trained-CLASSIFIER curation end-to-end: featurize → train logistic
    * → filter at σ ≥ 0.5 (= w·x ≥ 0, exp-free) → exact-dedup survivors
    * → leakage-safe source-level split — `curation_e2e_trained`'s
    * classifier sibling (that gate's identity-link model is
    * hash-replayed; this one is rows-only with the accuracy REQUIRE).
    * Every stage after training is the oracle-green machinery of the
    * r10 gates, so what this gate adds to the surface is exactly the
    * logistic filter feeding them.
    */
  val curation_e2e_logistic: OpQuery = OpQuery.noOracle("curation_e2e_logistic") {
    (spark, dir) =>
      val (walk, _, docs) = trainLogistic(spark, dir)
      val w = walk.last
      val kept = docs.filter(QualityModel.scoreExpr(col("features"), w) > 0)
        .join(cleanDocs(spark, dir).select("doc_id", "text"),
          "doc_id")
      val survivors = graft.operators.Dedup.exact(kept, "doc_id", "text")
        .select(col("doc_id"), col("source"), col("lang"))
      val out = Sampling.leakageSafeSplit(survivors, "doc_id", "source",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"), col("lang"))
      docs.unpersist(false)
      out
  }

  /** INCREMENTAL trained-curation re-score (VERDICT r10 item 6): the
    * corpus arrives in three ingest batches (langs {de,en,es}, then
    * {fr}, then {zh}); each batch is scored map-side with the FROZEN
    * trained weights and merged through the append-CDC path
    * ([[graft.operators.QualityModel.scoreIncremental]] →
    * `Merge.insertOnlyPartitionAligned` on the lang partition), so an
    * append touches ONLY its own langs' partitions — the existing
    * corpus is never re-scored and untouched partitions stay
    * byte-identical on disk (pinned in QualityModelSpec). The oracle
    * is a FULL recompute: DuckDB re-derives the weights through the
    * 3-epoch CTE walk and scores every document in one query —
    * incremental == full is the gate's hash claim.
    */
  val curation_incremental_score: OpQuery = {
    val pred = (1 to 4).map(j => s"f.f$j * w.w$j").mkString(" + ")
    OpQuery("curation_incremental_score",
      gdWalkSql +
        s""",
           |scored AS (SELECT f.doc_id, ($pred) AS s
           |           FROM feats f CROSS JOIN w${Epochs} w)
           |SELECT doc_id, CAST(ROUND(s, 9) AS DOUBLE) AS score
           |FROM scored ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val w = trainedWeights(spark, dir).last
      val docs = cleanDocs(spark, dir)
        .select(col("doc_id"), col("lang"),
          featuresCol.as("features"))
      val scratch = GateScratch.dir("graft-incscore-gate-")
      val store = new graft.operators.TableStore(spark, scratch.toString)
      // batches are DERIVED from the data (ADVICE r11: a hardcoded lang
      // list silently skips any lang a fixture refresh adds, and the
      // full-recompute oracle would then fail with an opaque hash
      // mismatch): the distinct langs, sorted, round-robin into 3
      // ingest groups — same 3-batch shape, no coverage assumption.
      // Bounded collect: langs are a dictionary column (5 values at the
      // committed fixture), never corpus-sized.
      val langs = docs.select(col("lang")).where(col("lang").isNotNull)
        .distinct().collect().map(_.getString(0)).sorted
      val batches = langs.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
        .map(_._2.map(_._1).toSeq)
      batches.foreach { group =>
        QualityModel.scoreIncremental(store, "scored_docs",
          docs.filter(col("lang").isInCollection(group)),
          featCol = "features", weights = w,
          keyCol = "doc_id", partCol = "lang")
      }
      // completeness REQUIRE: every doc the oracle scores was ingested —
      // a NULL-lang doc (which the lang-partitioned batches can't carry)
      // fails HERE with a clear message, not downstream as a hash diff
      val nIn = docs.count()
      val nStored = store.read("scored_docs").count()
      require(nStored == nIn,
        s"curation_incremental_score: ingested $nStored of $nIn docs — " +
          "some docs (NULL lang?) missed every lang-partitioned batch")
      store.read("scored_docs")
        .select(col("doc_id"), round(col("score"), 9).as("score"))
        .orderBy("doc_id")
    }
  }

  /** Reliability diagram of the trained quality model: scores from the
    * 3-epoch hash-replayed GD walk, binned into 10 equal-width bins
    * over the observed score range, each bin reporting its size, its
    * positive-label rate, and its mean score — the calibration
    * evidence a threshold-based quality FILTER rests on (a monotone
    * pos_rate across bins is what makes "keep score ≥ t" meaningful).
    * Every arithmetic step replays: the bin edge math is two IEEE ops
    * on identical operands, pos_rate is an exact integer sum over one
    * divide, mean_score sums 9dp DECIMALs (order-independent).
    */
  val qf_score_reliability: OpQuery = {
    val pred = (1 to 4).map(j => s"f.f$j * w.w$j").mkString(" + ")
    OpQuery("qf_score_reliability",
      gdWalkSql +
        s""",
           |scored AS (SELECT f.doc_id, f.y, ($pred) AS s
           |           FROM feats f CROSS JOIN w${Epochs} w),
           |ext AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM scored),
           |binned AS (
           |  SELECT CAST(LEAST(COALESCE(
           |           FLOOR((s - lo) / (NULLIF(hi - lo, 0) / 10)), 0), 9) AS INT) AS bin,
           |         y, s
           |  FROM scored, ext)
           |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(ROUND(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS pos_rate,
           |  CAST(ROUND(CAST(SUM(CAST(ROUND(s, 9) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS mean_score
           |FROM binned GROUP BY bin ORDER BY bin""".stripMargin) {
      (spark, dir) =>
        import graft.operators.QualityModel
        val w = trainedWeights(spark, dir).last
        val scored = cleanDocs(spark, dir)
          .select(col("doc_id"),
            when(col("n_chars") > 300, 1.0).otherwise(0.0).as("y"),
            QualityModel.scoreExpr(featuresCol, w).as("s"))
        val ext = scored.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
        scored.crossJoin(broadcast(ext))
          .select(
            // bin width guarded by NULLIF (ADVICE r11): a degenerate
            // corpus where every score is equal would otherwise divide
            // 0/0 → NaN, and Spark/DuckDB disagree on CAST(NaN AS INT);
            // the guard maps everything to bin 0 identically on both
            least(coalesce(
                floor((col("s") - col("lo")) /
                  (nullif(col("hi") - col("lo"), lit(0.0)) / 10)),
                lit(0L)),
              lit(9L)).cast("int").as("bin"),
            col("y"), col("s"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("y").cast("bigint")).cast("double") / count(lit(1)), 6)
              .as("pos_rate"),
            round(sum(round(col("s"), 9).cast("decimal(18,9)")).cast("double") /
              count(lit(1)), 6).as("mean_score"))
          .orderBy("bin")
    }
  }

  /** Threshold sweep for the trained quality filter: confusion counts
    * (tp/fp/fn/tn) and the derived precision/recall at each of the 10
    * reliability-bin edges — the evidence behind CHOOSING the filter
    * threshold (the last open knob in the train → score → calibrate →
    * filter chain; `curation_e2e_trained` hardcodes 0.5). All counts
    * are exact integers over replayed scores and the same replayed bin
    * edges, so the whole sweep hashes; precision/recall are one IEEE
    * divide each, rounded.
    */
  val qf_threshold_sweep: OpQuery = {
    val pred = (1 to 4).map(j => s"f.f$j * w.w$j").mkString(" + ")
    OpQuery("qf_threshold_sweep",
      gdWalkSql +
        s""",
           |scored AS (SELECT f.doc_id, f.y, ($pred) AS s
           |           FROM feats f CROSS JOIN w${Epochs} w),
           |ext AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM scored),
           |ths AS (SELECT t, lo + (hi - lo) / 10 * t AS thr
           |        FROM ext, (SELECT unnest(range(0, 10)) AS t)),
           |cells AS (
           |  SELECT th.t, th.thr,
           |    SUM(CASE WHEN sc.s >= th.thr AND sc.y = 1 THEN 1 ELSE 0 END) AS tp,
           |    SUM(CASE WHEN sc.s >= th.thr AND sc.y = 0 THEN 1 ELSE 0 END) AS fp,
           |    SUM(CASE WHEN sc.s <  th.thr AND sc.y = 1 THEN 1 ELSE 0 END) AS fn,
           |    SUM(CASE WHEN sc.s <  th.thr AND sc.y = 0 THEN 1 ELSE 0 END) AS tn
           |  FROM scored sc CROSS JOIN ths th GROUP BY th.t, th.thr)
           |SELECT CAST(t AS INT) AS t,
           |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           |  CAST(ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS DOUBLE) AS prec,
           |  CAST(ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS DOUBLE) AS recall
           |FROM cells ORDER BY t""".stripMargin) { (spark, dir) =>
      import graft.operators.QualityModel
      val w = trainedWeights(spark, dir).last
      val scored = cleanDocs(spark, dir)
        .select(
          when(col("n_chars") > 300, 1.0).otherwise(0.0).as("y"),
          QualityModel.scoreExpr(featuresCol, w).as("s"))
      val ext = scored.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
      val ths = spark.range(0, 10).select(col("id").as("t"))
        .crossJoin(broadcast(ext))
        .select(col("t"),
          (col("lo") + (col("hi") - col("lo")) / 10 * col("t")).as("thr"))
      // 10 thresholds broadcast against one corpus scan: the sweep is
      // a single pass with a 10-way conditional-sum fan-out, not 10
      // scans (and never a threshold-per-row shuffle)
      scored.crossJoin(broadcast(ths))
        .groupBy(col("t"), col("thr"))
        .agg(
          sum(when(col("s") >= col("thr") && col("y") === 1.0, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("s") >= col("thr") && col("y") === 0.0, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("s") < col("thr") && col("y") === 1.0, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("s") < col("thr") && col("y") === 0.0, 1L)
            .otherwise(0L)).as("tn"))
        .select(col("t").cast("int").as("t"),
          col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("tp").cast("double") /
            nullif(col("tp") + col("fp"), lit(0L)), 6).as("prec"),
          round(col("tp").cast("double") /
            nullif(col("tp") + col("fn"), lit(0L)), 6).as("recall"))
        .orderBy("t")
    }
  }

  /** Edited documents re-scored through the SCD1 upsert path: the full
    * corpus is ingested scored (frozen 3-epoch weights), then every
    * doc_id % 7 == 0 document arrives EDITED (n_chars + 10 → a
    * different f3, a different score) and
    * [[graft.operators.QualityModel.scoreUpsert]] replaces exactly
    * those rows in exactly their lang partitions. The oracle is a full
    * recompute over the EDITED corpus (same CTE weight walk, CASE'd
    * f3) — upsert == full, hash-pinned; untouched-partition
    * byte-identity is QualityModelSpec territory.
    */
  val curation_incremental_rescore: OpQuery = {
    val pred = "f.f1 * w.w1 + f.f2 * w.w2 + " +
      "(CASE WHEN f.doc_id % 7 = 0 THEN f.f3 + 10 ELSE f.f3 END) * w.w3 + " +
      "f.f4 * w.w4"
    OpQuery("curation_incremental_rescore",
      gdWalkSql +
        s""",
           |scored AS (SELECT f.doc_id, ($pred) AS s
           |           FROM feats f CROSS JOIN w${Epochs} w)
           |SELECT doc_id, CAST(ROUND(s, 9) AS DOUBLE) AS score
           |FROM scored ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val w = trainedWeights(spark, dir).last
      val base = cleanDocs(spark, dir)
      val docs = base.select(col("doc_id"), col("lang"),
        featuresCol.as("features"))
      val scratch = GateScratch.dir("graft-rescore-gate-")
      val store = new graft.operators.TableStore(spark, scratch.toString)
      QualityModel.scoreIncremental(store, "scored", docs,
        featCol = "features", weights = w, keyCol = "doc_id", partCol = "lang")
      // the edit: same docs, same keys, f3 shifted — new features, new score
      val editedFeatures = array(
        lit(1.0),
        size(split(trim(col("text")), "\\s+")).cast("double"),
        (col("n_chars") + 10).cast("double"),
        (length(col("text")) - length(expr("replace(text, 'e', '')")))
          .cast("double"))
      val changed = base.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"), editedFeatures.as("features"))
      QualityModel.scoreUpsert(store, "scored", changed,
        featCol = "features", weights = w, keyCol = "doc_id", partCol = "lang")
      store.read("scored")
        .select(col("doc_id"), round(col("score"), 9).as("score"))
        .orderBy("doc_id")
    }
  }

  /** Exact top-10% corpus selection by trained quality score — the
    * budget-first threshold (keep the best p%, whatever score that
    * means today) vs `qf_threshold_sweep`'s score-first one. Exact and
    * distributed: the global (score desc, doc_id) rank runs through
    * [[graft.operators.TotalOrder.rowNumberWithCount]] (range shuffle +
    * per-partition offsets — no single-reducer sort), cut at
    * ⌊n·10/100⌋; DuckDB replays the identical rank and cut.
    */
  val qf_top_percent: OpQuery = {
    val pred = (1 to 4).map(j => s"f.f$j * w.w$j").mkString(" + ")
    OpQuery("qf_top_percent",
      gdWalkSql +
        s""",
           |scored AS (SELECT f.doc_id, ($pred) AS s
           |           FROM feats f CROSS JOIN w${Epochs} w),
           |ranked AS (SELECT doc_id, s,
           |    ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC) AS rn,
           |    COUNT(*) OVER () AS n
           |  FROM scored)
           |SELECT doc_id, CAST(ROUND(s, 9) AS DOUBLE) AS score
           |FROM ranked WHERE rn <= FLOOR(n * 10 / 100)
           |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val w = trainedWeights(spark, dir).last
      val scored = cleanDocs(spark, dir)
        .select(col("doc_id"),
          QualityModel.scoreExpr(featuresCol, w).as("s"))
      TotalOrder.rowNumberWithCount(scored,
          Seq(col("s").desc, col("doc_id").asc), "rn", "n")
        .filter(col("rn") <= floor(col("n") * 10 / 100))
        .select(col("doc_id"), round(col("s"), 9).as("score"))
        .orderBy("doc_id")
    }
  }

  val all: Seq[OpQuery] = Seq(
    text_bm25, mixture_sample, pack_sequences, text_analysis, text_lang_id,
    text_tfidf, text_redact, curation_e2e, corpus_select, corpus_stats,
    decontam_overlap, text_chunk, text_repetition, text_lm_score,
    semantic_dedup, text_boilerplate, text_c4_filter, bpe_tokenize,
    text_ngram_freq, text_keywords, format_sft_pairs, text_normalize,
    text_zipf, text_readability, text_code_detect, corpus_mixture,
    text_stopword_discovery, format_dpo_pairs, text_fertility,
    text_instruction_filter, text_pmi, text_vocab_coverage,
    text_js_divergence, text_ttr, text_burstiness, text_sentences,
    text_anagram_groups, lm_greedy_decode, corpus_temperature_mix,
    text_bigram_perplexity, text_doc_cosine, text_burrows_delta,
    text_hash_embed, text_hash_cluster, text_nfc_normalize, bpe_roundtrip,
    qf_linear_gd, qf_linear_score, curation_e2e_trained, qf_logistic_gd,
    curation_e2e_logistic, curation_incremental_score, qf_score_reliability,
    qf_threshold_sweep, curation_incremental_rescore, qf_top_percent)
}
