package graft.queries

import graft.Tables

/** Round-4 batch 93: the sketch family replayed in the oracle —
  * SimHash, KMV, and HyperLogLog rebuilt on an md5 hash family so the
  * oracle can verify every stage (the Murmur3 production variants are
  * rows-only by necessity; these pin the ALGORITHMS hash-exactly).
  */
object Round4Ops93 {

  /** SimHash with md5 word hashes: 32-bit signatures from
    * count-weighted bit votes, then all-pairs Hamming ≤ 6 over the
    * 300-doc slice. Every stage — word hash, bit vote, sign, XOR
    * popcount — is integer arithmetic both engines replay exactly.
    */
  val dedup_simhash_md5 = OpQuery(
    "dedup_simhash_md5",
    """WITH words AS (
      |  SELECT doc_id, w, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                                      s -> length(s) > 0)) AS w
      |    FROM documents WHERE doc_id < 300) t
      |  GROUP BY doc_id, w),
      |hashed AS (
      |  SELECT doc_id, c,
      |         CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS h
      |  FROM words),
      |votes AS (
      |  SELECT doc_id, b.b,
      |         SUM(c * (2 * ((h >> b.b) & 1) - 1)) AS v
      |  FROM hashed, (SELECT unnest(range(0, 32)) AS b) b
      |  GROUP BY doc_id, b.b),
      |sigs AS (
      |  SELECT doc_id,
      |         SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
      |  FROM votes GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |         bit_count(xor(a.sig, b.sig)) AS hamming
      |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
      |SELECT d1, d2, CAST(hamming AS INT) AS hamming
      |FROM pairs
      |WHERE hamming <= 6
      |ORDER BY d1, d2""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_sh_docs")
    spark.sql(
      """WITH words AS (
        |  SELECT doc_id, w, COUNT(*) AS c FROM (
        |    SELECT doc_id, explode(filter(split(lower(text), '[^a-z0-9]+'),
        |                                  s -> length(s) > 0)) AS w
        |    FROM graft_sh_docs WHERE doc_id < 300) t
        |  GROUP BY doc_id, w),
        |hashed AS (
        |  SELECT doc_id, c,
        |         CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT) AS h
        |  FROM words),
        |votes AS (
        |  SELECT doc_id, b.b,
        |         SUM(c * (2 * (shiftright(h, b.b) & 1) - 1)) AS v
        |  FROM hashed CROSS JOIN (SELECT explode(sequence(0, 31)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sigs AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE 0 END)
        |           AS sig
        |  FROM votes GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         bit_count(a.sig ^ b.sig) AS hamming
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
        |SELECT d1, d2, CAST(hamming AS INT) AS hamming
        |FROM pairs
        |WHERE hamming <= 6
        |ORDER BY d1, d2""".stripMargin)
  }

  /** KMV (k-minimum-values) distinct-count sketch with md5 hashes:
    * keep the k=32 smallest normalized hash values of the user set;
    * estimate (k−1)/u₍ₖ₎. Reported against the true distinct count —
    * the mergeable sketch whose accuracy claim the oracle can now
    * CHECK, not just trust.
    */
  val a68_kmv_md5 = OpQuery.sql("a68_kmv_md5", "events")(
    """WITH ids AS (SELECT DISTINCT user_id FROM events),
      |hashed AS (
      |  SELECT user_id,
      |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      |  FROM ids),
      |ranked AS (
      |  SELECT h, ROW_NUMBER() OVER (ORDER BY h, user_id) AS r FROM hashed),
      |kth AS (SELECT h FROM ranked WHERE r = 32),
      |truth AS (SELECT COUNT(*) AS n FROM ids)
      |SELECT CAST(truth.n AS BIGINT) AS true_distinct,
      |       CAST(ROUND(31.0 / (CAST(kth.h AS DOUBLE) / 4294967296.0), 4) AS DOUBLE)
      |         AS kmv_estimate,
      |       CAST(ROUND(ABS(31.0 / (CAST(kth.h AS DOUBLE) / 4294967296.0) - truth.n)
      |                  / truth.n, 4) AS DOUBLE) AS rel_error
      |FROM kth CROSS JOIN truth""".stripMargin,
    "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))" ->
      "conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)")

  /** HyperLogLog with md5 hashes, m=16 buckets: bucket on the top 4
    * bits, register = leading-zero rank of the remaining 28 (via
    * binary-string length — identical semantics in both engines),
    * harmonic mean, and the small-range linear-counting correction.
    * Every register value is an exact integer; the one ln() in the
    * correction is the only transcendental.
    */
  val a69_hll_md5 = OpQuery(
    "a69_hll_md5",
    """WITH ids AS (SELECT DISTINCT user_id FROM events),
      |hashed AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      |  FROM ids),
      |parts AS (
      |  SELECT h >> 28 AS bucket, h & 268435455 AS rest FROM hashed),
      |regs AS (
      |  SELECT bucket,
      |         MAX(CASE WHEN rest = 0 THEN 29
      |                  ELSE 29 - length(format('{:b}', rest)) END) AS m_j
      |  FROM parts GROUP BY bucket),
      |padded AS (
      |  SELECT b.b AS bucket, COALESCE(r.m_j, 0) AS m_j
      |  FROM (SELECT unnest(range(0, 16)) AS b) b
      |  LEFT JOIN regs r ON r.bucket = b.b),
      |est AS (
      |  SELECT SUM(POW(2.0, -m_j)) AS harm,
      |         SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS zeros
      |  FROM padded),
      |truth AS (SELECT COUNT(*) AS n FROM ids)
      |SELECT CAST(truth.n AS BIGINT) AS true_distinct,
      |       CAST(ROUND(CASE
      |         WHEN 0.673 * 256 / est.harm <= 40 AND est.zeros > 0
      |           THEN 16 * ln(16.0 / est.zeros)
      |         ELSE 0.673 * 256 / est.harm END, 4) AS DOUBLE) AS hll_estimate
      |FROM est CROSS JOIN truth""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_hll_events")
    spark.sql(
      """WITH ids AS (SELECT DISTINCT user_id FROM graft_hll_events),
        |hashed AS (
        |  SELECT CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)
        |           AS h
        |  FROM ids),
        |parts AS (
        |  SELECT shiftright(h, 28) AS bucket, h & 268435455 AS rest FROM hashed),
        |regs AS (
        |  SELECT bucket,
        |         MAX(CASE WHEN rest = 0 THEN 29
        |                  ELSE 29 - length(conv(rest, 10, 2)) END) AS m_j
        |  FROM parts GROUP BY bucket),
        |padded AS (
        |  SELECT b.b AS bucket, COALESCE(r.m_j, 0) AS m_j
        |  FROM (SELECT explode(sequence(0, 15)) AS b) b
        |  LEFT JOIN regs r ON r.bucket = b.b),
        |est AS (
        |  SELECT SUM(POW(2.0, -m_j)) AS harm,
        |         SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS zeros
        |  FROM padded),
        |truth AS (SELECT COUNT(*) AS n FROM ids)
        |SELECT CAST(truth.n AS BIGINT) AS true_distinct,
        |       CAST(ROUND(CASE
        |         WHEN 0.673 * 256 / est.harm <= 40 AND est.zeros > 0
        |           THEN 16 * ln(16.0 / est.zeros)
        |         ELSE 0.673 * 256 / est.harm END, 4) AS DOUBLE) AS hll_estimate
        |FROM est CROSS JOIN truth""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(dedup_simhash_md5, a68_kmv_md5, a69_hll_md5)
}
