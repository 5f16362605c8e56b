package graft.queries

/** Round-4 batch 56: alert debouncing, bit manipulation, and the
  * Mann-Kendall trend test.
  */
object Round4Ops56 {

  /** Alert debouncing: an error event opens an alert only if no error
    * fired for the same user within the preceding hour — the
    * notification-suppression primitive. One lag window per user;
    * integer-second gaps.
    */
  val event_debounce = OpQuery.sql("event_debounce", "events")(
    """WITH errs AS (
      |  SELECT user_id, event_id, TRUNC(epoch(ts))::BIGINT AS t
      |  FROM events WHERE event_type = 'error'),
      |gaps AS (
      |  SELECT user_id, event_id, t,
      |         t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
      |  FROM errs)
      |SELECT user_id, event_id
      |FROM gaps
      |WHERE gap IS NULL OR gap > 3600
      |ORDER BY user_id, event_id""".stripMargin,
    "TRUNC(epoch(ts))::BIGINT" -> "unix_timestamp(ts)")

  /** bit_count and xor-distance: population counts and bitwise hamming
    * distance between derived integers — the primitives under every
    * binary-fingerprint comparison (SimHash verification uses exactly
    * this shape natively).
    */
  val f_bit_count = OpQuery.sql("f_bit_count", "orders")(
    """SELECT o_orderkey,
      |       CAST(bit_count(o_orderkey) AS INT) AS pop,
      |       CAST(bit_count(xor(o_orderkey, o_custkey)) AS INT) AS hamming_to_cust
      |FROM orders
      |WHERE o_orderkey % 29 = 0
      |ORDER BY o_orderkey""".stripMargin,
    "xor(o_orderkey, o_custkey)" -> "o_orderkey ^ o_custkey")

  /** Mann-Kendall trend test: S = Σ sign(c_j − c_i) over all day pairs
    * (j > i) — the nonparametric "is there a monotone trend" statistic,
    * entirely in integers (no distribution assumptions, no floats).
    * Quadratic in DAYS (365² pairs at any corpus size) — the day
    * aggregate runs first, so the pair join is dimension-scale.
    */
  val ts_mann_kendall = OpQuery.sql("ts_mann_kendall", "events")(
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)),
      |pairs AS (
      |  SELECT CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
      |  FROM daily a JOIN daily b ON b.d > a.d)
      |SELECT CAST(SUM(sgn) AS BIGINT) AS mk_s,
      |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |       CAST(SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties
      |FROM pairs""".stripMargin)

  val all: Seq[OpQuery] = Seq(event_debounce, f_bit_count, ts_mann_kendall)
}
