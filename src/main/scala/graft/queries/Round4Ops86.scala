package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 86: sorted-neighborhood dedup blocking, the odds
  * ratio, and per-user running totals (the batch contract of the
  * streaming state operator).
  */
object Round4Ops86 {

  /** Sorted-neighborhood dedup: sort the corpus by a prefix key and
    * compare each record only to its 3 successors — the classic O(n·w)
    * alternative to LSH blocking. One global sort, one bounded
    * self-join on position, Levenshtein only inside the window; the
    * pairs under distance 10 are the duplicate candidates.
    */
  val dedup_sorted_neighborhood = OpQuery(
    "dedup_sorted_neighborhood",
    """WITH sorted_docs AS (
      |  SELECT doc_id, substr(text, 1, 60) AS k,
      |         ROW_NUMBER() OVER (ORDER BY substr(text, 1, 60), doc_id) AS pos
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |         levenshtein(a.k, b.k) AS lev
      |  FROM sorted_docs a JOIN sorted_docs b
      |    ON b.pos BETWEEN a.pos + 1 AND a.pos + 3)
      |SELECT d1, d2, CAST(lev AS INT) AS lev
      |FROM pairs
      |WHERE lev <= 10
      |ORDER BY d1, d2""".stripMargin) { (spark, dir) =>
    // The window-of-3 neighborhood is expanded into explicit offsets and
    // equi-joined on position: a BETWEEN-style range self-join would fall
    // back to BroadcastNestedLoopJoin, and Catalyst pushes the lev<=10
    // filter into that join's condition — running the O(|k|²) edit
    // distance over every one of the n² candidate pairs instead of the
    // 3n neighbor pairs. The equi-join keeps the pair count linear and
    // shuffle-partitionable at any corpus size. Positions come from the
    // two-phase TotalOrder rank (range partition + per-partition offsets)
    // rather than an un-partitioned ROW_NUMBER window, which would funnel
    // the whole corpus through a single reducer.
    val keyed = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 60).as("k"))
    val sorted = graft.operators.TotalOrder
      .rowNumber(keyed, Seq(col("k"), col("doc_id")), "pos")
    val lhs = sorted.select(col("doc_id").as("d1"), col("k").as("k1"),
        col("pos").as("pos1"))
      .withColumn("j", explode(expr("sequence(1, 3)")))
      .withColumn("tpos", col("pos1") + col("j"))
    val rhs = sorted.select(col("doc_id").as("d2"), col("k").as("k2"),
      col("pos").as("pos2"))
    lhs.join(rhs, col("tpos") === col("pos2"))
      .select(col("d1"), col("d2"), levenshtein(col("k1"), col("k2")).as("lev"))
      .filter(col("lev") <= 10)
      .select(col("d1"), col("d2"), col("lev").cast("int").as("lev"))
      .orderBy("d1", "d2")
  }

  /** Odds ratio of high error RATE (>=10%) by user band (heavy vs light users):
    * the 2×2 effect-size summary with its log-SE — integer cell counts,
    * one pass. The epidemiology-style readout behind "are power users
    * likelier to hit errors?".
    */
  val a59_odds_ratio = OpQuery.sql("a59_odds_ratio", "events")(
    """WITH users AS (
      |  SELECT user_id, COUNT(*) AS n,
      |         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
      |  FROM events GROUP BY user_id),
      |cells AS (
      |  SELECT SUM(CASE WHEN n >= 70 AND errs * 100 >= 10 * n THEN 1 ELSE 0 END) AS a,
      |         SUM(CASE WHEN n >= 70 AND errs * 100 < 10 * n THEN 1 ELSE 0 END) AS b,
      |         SUM(CASE WHEN n < 70 AND errs * 100 >= 10 * n THEN 1 ELSE 0 END) AS c,
      |         SUM(CASE WHEN n < 70 AND errs * 100 < 10 * n THEN 1 ELSE 0 END) AS d
      |  FROM users)
      |SELECT CAST(a AS BIGINT) AS high_heavy, CAST(b AS BIGINT) AS low_heavy,
      |       CAST(c AS BIGINT) AS high_light, CAST(d AS BIGINT) AS low_light,
      |       CAST(ROUND(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6) AS DOUBLE)
      |         AS odds_ratio,
      |       CAST(ROUND(sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d), 6) AS DOUBLE)
      |         AS log_or_se
      |FROM cells""".stripMargin)

  /** Per-user running purchase totals — the BATCH contract of the
    * streaming transformWithState operator (graft.streaming
    * EventStreams.runningUserTotals): cumulative exact-cents spend at
    * every purchase event. One window over the user shuffle; the
    * streaming path maintains the same state incrementally.
    */
  val stream_running_totals = OpQuery(
    "stream_running_totals",
    """WITH p AS (
      |  SELECT user_id, event_id,
      |         TRUNC(epoch(ts))::BIGINT AS t,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, event_id,
      |       CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY t, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS running_cents,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, event_id) AS INT)
      |         AS purchase_seq
      |FROM p
      |ORDER BY user_id, purchase_seq""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .select(col("user_id"), col("event_id"),
        sum(col("cents")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long").as("running_cents"),
        row_number().over(w).cast("int").as("purchase_seq"))
      .orderBy("user_id", "purchase_seq")
  }

  val all: Seq[OpQuery] = Seq(dedup_sorted_neighborhood, a59_odds_ratio, stream_running_totals)
}
