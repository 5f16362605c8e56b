package graft.queries

import graft.Tables

/** Round-4 batch 118: Harrell's concordance index, an annuity
  * amortization schedule, and a cross-field rule audit.
  */
object Round4Ops118 {

  /** Harrell's C-index on a bounded cohort (orders < 2000): duration =
    * order→ship days, event = not returned, risk score = extended
    * price (pinned predictor). Comparable pairs need the earlier
    * duration to be an observed event; concordance counts are pure
    * integers, ties get half credit. The deliberately-bounded pair join
    * is the ground-truth variant — the scalable path would bucket by
    * duration first (same pattern as the dedup ground truths).
    */
  val a93_harrell_cindex = OpQuery(
    "a93_harrell_cindex",
    """WITH obs AS (
      |  SELECT l.l_orderkey * 10 + l.l_linenumber AS id,
      |         CAST(FLOOR(epoch(l.l_shipdate) / 86400)
      |           - FLOOR(epoch(o.o_orderdate) / 86400) AS INT) AS dur,
      |         CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END AS ev,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS score
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_orderkey < 2000),
      |pairs AS (
      |  SELECT a.score AS sa, b.score AS sb
      |  FROM obs a JOIN obs b
      |    ON a.dur < b.dur AND a.ev = 1 AND a.id <> b.id),
      |m AS (
      |  SELECT COUNT(*) AS comparable,
      |         SUM(CASE WHEN sa > sb THEN 1 ELSE 0 END) AS conc,
      |         SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS tied
      |  FROM pairs)
      |SELECT CAST(comparable AS BIGINT) AS comparable,
      |       CAST(conc AS BIGINT) AS concordant,
      |       CAST(tied AS BIGINT) AS tied,
      |       CAST(ROUND((conc + 0.5 * tied) / comparable, 6) AS DOUBLE)
      |         AS c_index
      |FROM m""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_ci_lineitem")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ci_orders")
    // The quadratic pair join stays (it is the gate's ground-truth
    // identity; the scale path is a93_cindex_scalable), but its
    // EXECUTION was pathological: obs fed the CartesianProduct from
    // two full lineitem⋈orders subtrees at 32 scan partitions each —
    // 32×32 = 1024 near-empty cartesian tasks plus a duplicated join.
    // The cohort is BOUNDED by construction (l_orderkey < 2000 is a
    // fixed slice at every sf), so freeze it once at a few balanced
    // partitions: the cartesian becomes 36 tasks over the frozen rows
    // and the lineitem⋈orders join runs once (r13-opt §3: 2 scans → 1,
    // right side no longer recomputed per left partition; results
    // bit-identical, same pair predicate).
    val obs = spark.sql(
      """SELECT l.l_orderkey * 10 + l.l_linenumber AS id,
        |       CAST(FLOOR(unix_timestamp(l.l_shipdate) / 86400)
        |         - FLOOR(unix_timestamp(o.o_orderdate) / 86400) AS INT) AS dur,
        |       CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END AS ev,
        |       CAST(l.l_extendedprice AS DECIMAL(18,2)) AS score
        |FROM graft_ci_lineitem l
        |JOIN graft_ci_orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_orderkey < 2000""".stripMargin)
      .repartition(6).localCheckpoint(true)
    obs.createOrReplaceTempView("graft_ci_obs")
    spark.sql(
      """WITH pairs AS (
        |  SELECT a.score AS sa, b.score AS sb
        |  FROM graft_ci_obs a JOIN graft_ci_obs b
        |    ON a.dur < b.dur AND a.ev = 1 AND a.id <> b.id),
        |m AS (
        |  SELECT COUNT(*) AS comparable,
        |         SUM(CASE WHEN sa > sb THEN 1 ELSE 0 END) AS conc,
        |         SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS tied
        |  FROM pairs)
        |SELECT CAST(comparable AS BIGINT) AS comparable,
        |       CAST(conc AS BIGINT) AS concordant,
        |       CAST(tied AS BIGINT) AS tied,
        |       CAST(ROUND((conc + 0.5 * tied) / comparable, 6) AS DOUBLE)
        |         AS c_index
        |FROM m""".stripMargin)
  }

  /** 36-month annuity amortization from the closed form (no recursion):
    * payment from the annuity formula, then balance, interest, and
    * principal per month via (1+r)^t — a generated schedule pinned to
    * the cent by rounding each closed-form value. The generator-table
    * pattern: rows exist only in the query.
    */
  val fin_amortization = OpQuery.sql("fin_amortization")(
    """WITH p AS (
      |  SELECT CAST(100000 AS DOUBLE) AS principal,
      |         CAST(0.005 AS DOUBLE) AS r, 36 AS nper),
      |pay AS (
      |  SELECT principal, r, nper,
      |         principal * r * POW(1 + r, nper) / (POW(1 + r, nper) - 1) AS pmt
      |  FROM p),
      |sched AS (
      |  SELECT t, principal, r, pmt,
      |         principal * POW(1 + r, t) - pmt * (POW(1 + r, t) - 1) / r
      |           AS balance
      |  FROM pay CROSS JOIN (SELECT unnest(generate_series(1, 36)) AS t) ts)
      |SELECT CAST(t AS INT) AS month,
      |       CAST(ROUND(pmt, 2) AS DOUBLE) AS payment,
      |       CAST(ROUND(balance, 2) AS DOUBLE) AS balance,
      |       CAST(ROUND((principal * POW(1 + r, t - 1)
      |           - pmt * (POW(1 + r, t - 1) - 1) / r) * r, 2) AS DOUBLE)
      |         AS interest_part,
      |       CAST(ROUND(pmt - (principal * POW(1 + r, t - 1)
      |           - pmt * (POW(1 + r, t - 1) - 1) / r) * r, 2) AS DOUBLE)
      |         AS principal_part
      |FROM sched ORDER BY month""".stripMargin,
    "unnest(generate_series(" -> "explode(sequence(")

  /** Cross-field rule audit over lineitem: each business rule is a
    * boolean expression; the audit reports violations and violation
    * rate per rule in ONE scan (conditional aggregation — no per-rule
    * rescans), plus the first offending key as a repro pointer.
    */
  val dq_crossfield_rules = OpQuery.sql("dq_crossfield_rules", "lineitem")(
    """WITH l AS (
      |  SELECT l_orderkey, l_linenumber,
      |         CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END
      |           AS v_discount_range,
      |         CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 ELSE 0 END
      |           AS v_tax_range,
      |         CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END
      |           AS v_quantity_range,
      |         CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END
      |           AS v_returnflag_domain
      |  FROM lineitem),
      |tall AS (
      |  SELECT 'discount_range' AS rule, v_discount_range AS v,
      |         l_orderkey, l_linenumber FROM l
      |  UNION ALL
      |  SELECT 'tax_range', v_tax_range, l_orderkey, l_linenumber FROM l
      |  UNION ALL
      |  SELECT 'quantity_range', v_quantity_range, l_orderkey, l_linenumber FROM l
      |  UNION ALL
      |  SELECT 'returnflag_domain', v_returnflag_domain, l_orderkey,
      |         l_linenumber FROM l)
      |SELECT rule, COUNT(*) AS n_rows,
      |       CAST(SUM(v) AS BIGINT) AS n_violations,
      |       CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
      |         AS violation_rate,
      |       CAST(MIN(CASE WHEN v = 1 THEN l_orderkey * 10 + l_linenumber END)
      |         AS BIGINT) AS first_offender
      |FROM tall
      |GROUP BY rule
      |ORDER BY rule""".stripMargin)

  val all: Seq[OpQuery] = Seq(a93_harrell_cindex, fin_amortization,
    dq_crossfield_rules)
}
