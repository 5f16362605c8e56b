package graft.queries

import graft.Tables

/** Round-4 batch 126: Engle–Granger cointegration, farthest-first
  * (Gonzalez) k-center seeding, and two rounds of AdaBoost over
  * decision stumps.
  */
object Round4Ops126 {

  /** Engle–Granger two-step cointegration between the BUILDING and
    * MACHINERY daily revenue series: step 1 fits the long-run hedge
    * ratio by OLS on quantized moments; step 2 runs a no-constant
    * Dickey–Fuller regression on the residual spread. A strongly
    * negative t-stat means the spread mean-reverts — the two series
    * move together. Pure moment algebra over one lag-joined pass.
    */
  val stat_engle_granger = OpQuery.sql("stat_engle_granger", "orders", "customer")(
    """WITH rev AS (
      |  SELECT o.o_orderdate AS d, c.c_mktsegment AS seg,
      |         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      |  GROUP BY 1, 2),
      |wide AS (
      |  SELECT d,
      |         CAST(MAX(CASE WHEN seg = 'BUILDING' THEN r END) AS DOUBLE) AS y,
      |         CAST(MAX(CASE WHEN seg = 'MACHINERY' THEN r END) AS DOUBLE) AS x
      |  FROM rev GROUP BY d
      |  HAVING MAX(CASE WHEN seg = 'BUILDING' THEN r END) IS NOT NULL
      |     AND MAX(CASE WHEN seg = 'MACHINERY' THEN r END) IS NOT NULL),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(y, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sy,
      |         CAST(SUM(CAST(ROUND(x * y, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxx
      |  FROM wide),
      |fit AS (
      |  SELECT ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 8) AS b,
      |         ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n, 4)
      |           AS a
      |  FROM m),
      |resid AS (
      |  SELECT wide.d, wide.y - fit.a - fit.b * wide.x AS e
      |  FROM wide CROSS JOIN fit),
      |lagd AS (
      |  SELECT e, LAG(e) OVER (ORDER BY d) AS e1 FROM resid),
      |pairs AS (SELECT e1, e - e1 AS de FROM lagd WHERE e1 IS NOT NULL),
      |df AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(e1 * de, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sed,
      |         CAST(SUM(CAST(ROUND(e1 * e1, 2) AS DECIMAL(38,2))) AS DOUBLE) AS see,
      |         CAST(SUM(CAST(ROUND(de * de, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sdd
      |  FROM pairs),
      |stat AS (
      |  SELECT n, sed / see AS beta,
      |         (sdd - sed * sed / see) / (n - 1) / see AS var_b
      |  FROM df)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       (SELECT CAST(b AS DOUBLE) FROM fit) AS hedge_ratio,
      |       CAST(ROUND(beta, 8) AS DOUBLE) AS df_beta,
      |       CAST(ROUND(beta / SQRT(var_b), 4) AS DOUBLE) AS eg_tstat
      |FROM stat""".stripMargin)

  /** Farthest-first traversal (Gonzalez k-center seeding) on the
    * first four embedding dimensions: start from the lowest vec_id,
    * then three times pick the point farthest from the chosen set.
    * Each step is one aggregation + one argmax with a vec_id
    * tie-break, unrolled as CTEs; the reported radius is the k-center
    * covering radius after each pick — the 2-approximation guarantee
    * in one column. This is the deterministic seeding k-means++
    * randomizes.
    */
  val cluster_farthest_first = OpQuery(
    "cluster_farthest_first",
    """WITH p AS (
      |  SELECT vec_id,
      |         CAST(embedding[1] AS DOUBLE) AS x1, CAST(embedding[2] AS DOUBLE) AS x2,
      |         CAST(embedding[3] AS DOUBLE) AS x3, CAST(embedding[4] AS DOUBLE) AS x4
      |  FROM embeddings),
      |c1 AS (SELECT * FROM p WHERE vec_id = (SELECT MIN(vec_id) FROM p)),
      |d1 AS (
      |  SELECT p.vec_id,
      |         SQRT(POW(p.x1 - c1.x1, 2) + POW(p.x2 - c1.x2, 2)
      |            + POW(p.x3 - c1.x3, 2) + POW(p.x4 - c1.x4, 2)) AS md
      |  FROM p CROSS JOIN c1),
      |c2 AS (SELECT vec_id, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1),
      |d2 AS (
      |  SELECT d1.vec_id,
      |         LEAST(d1.md,
      |           (SELECT SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
      |                      + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))
      |            FROM p q WHERE q.vec_id = (SELECT vec_id FROM c2))) AS md
      |  FROM d1 JOIN p ON p.vec_id = d1.vec_id),
      |c3 AS (SELECT vec_id, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
      |d3 AS (
      |  SELECT d2.vec_id,
      |         LEAST(d2.md,
      |           (SELECT SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
      |                      + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))
      |            FROM p q WHERE q.vec_id = (SELECT vec_id FROM c3))) AS md
      |  FROM d2 JOIN p ON p.vec_id = d2.vec_id),
      |c4 AS (SELECT vec_id, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1),
      |d4 AS (
      |  SELECT d3.vec_id,
      |         LEAST(d3.md,
      |           (SELECT SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
      |                      + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))
      |            FROM p q WHERE q.vec_id = (SELECT vec_id FROM c4))) AS md
      |  FROM d3 JOIN p ON p.vec_id = d3.vec_id)
      |SELECT 1 AS k, CAST((SELECT vec_id FROM c1) AS BIGINT) AS center,
      |       CAST(ROUND((SELECT MAX(md) FROM d1), 6) AS DOUBLE) AS radius
      |UNION ALL
      |SELECT 2, CAST((SELECT vec_id FROM c2) AS BIGINT),
      |       CAST(ROUND((SELECT MAX(md) FROM d2), 6) AS DOUBLE)
      |UNION ALL
      |SELECT 3, CAST((SELECT vec_id FROM c3) AS BIGINT),
      |       CAST(ROUND((SELECT MAX(md) FROM d3), 6) AS DOUBLE)
      |UNION ALL
      |SELECT 4, CAST((SELECT vec_id FROM c4) AS BIGINT),
      |       CAST(ROUND((SELECT MAX(md) FROM d4), 6) AS DOUBLE)
      |ORDER BY k""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_ff_emb")
    spark.sql(
      """WITH p AS (
        |  SELECT vec_id,
        |         CAST(embedding[0] AS DOUBLE) AS x1, CAST(embedding[1] AS DOUBLE) AS x2,
        |         CAST(embedding[2] AS DOUBLE) AS x3, CAST(embedding[3] AS DOUBLE) AS x4
        |  FROM graft_ff_emb),
        |c1 AS (SELECT * FROM p WHERE vec_id = (SELECT MIN(vec_id) FROM p)),
        |d1 AS (
        |  SELECT p.vec_id,
        |         SQRT(POW(p.x1 - c1.x1, 2) + POW(p.x2 - c1.x2, 2)
        |            + POW(p.x3 - c1.x3, 2) + POW(p.x4 - c1.x4, 2)) AS md
        |  FROM p CROSS JOIN c1),
        |c2 AS (SELECT vec_id, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1),
        |d2 AS (
        |  SELECT d1.vec_id,
        |         LEAST(d1.md, SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
        |                         + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))) AS md
        |  FROM d1 JOIN p ON p.vec_id = d1.vec_id
        |  CROSS JOIN (SELECT p.* FROM p JOIN c2 ON c2.vec_id = p.vec_id) q),
        |c3 AS (SELECT vec_id, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
        |d3 AS (
        |  SELECT d2.vec_id,
        |         LEAST(d2.md, SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
        |                         + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))) AS md
        |  FROM d2 JOIN p ON p.vec_id = d2.vec_id
        |  CROSS JOIN (SELECT p.* FROM p JOIN c3 ON c3.vec_id = p.vec_id) q),
        |c4 AS (SELECT vec_id, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1),
        |d4 AS (
        |  SELECT d3.vec_id,
        |         LEAST(d3.md, SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
        |                         + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))) AS md
        |  FROM d3 JOIN p ON p.vec_id = d3.vec_id
        |  CROSS JOIN (SELECT p.* FROM p JOIN c4 ON c4.vec_id = p.vec_id) q)
        |SELECT 1 AS k, CAST((SELECT vec_id FROM c1) AS BIGINT) AS center,
        |       CAST(ROUND((SELECT MAX(md) FROM d1), 6) AS DOUBLE) AS radius
        |UNION ALL
        |SELECT 2, CAST((SELECT vec_id FROM c2) AS BIGINT),
        |       CAST(ROUND((SELECT MAX(md) FROM d2), 6) AS DOUBLE)
        |UNION ALL
        |SELECT 3, CAST((SELECT vec_id FROM c3) AS BIGINT),
        |       CAST(ROUND((SELECT MAX(md) FROM d3), 6) AS DOUBLE)
        |UNION ALL
        |SELECT 4, CAST((SELECT vec_id FROM c4) AS BIGINT),
        |       CAST(ROUND((SELECT MAX(md) FROM d4), 6) AS DOUBLE)
        |ORDER BY k""".stripMargin)
  }

  /** Two rounds of AdaBoost over decision stumps on ln(order price)
    * predicting urgency. Candidate thresholds are the nine internal
    * decile cut points (NTILE maxima — deterministic); round 1 picks
    * the stump minimizing 0/1 error; because AdaBoost's reweighting
    * after one stump takes only TWO distinct values (e^{±α}), round
    * 2's weighted error reduces to four joint misclassification
    * counts per candidate — integer counts scaled by two scalars. The
    * final row reports the 2-stump ensemble's training accuracy. A
    * boosting loop expressed as two grouped aggregates.
    */
  val ml_adaboost_stumps = OpQuery(
    "ml_adaboost_stumps",
    """WITH base AS (
      |  SELECT LN(CAST(o_totalprice AS DOUBLE)) AS x,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE -1 END AS y
      |  FROM orders),
      |n_all AS (SELECT COUNT(*) AS n FROM base),
      |tiles AS (
      |  SELECT NTILE(10) OVER (ORDER BY x) AS tile, x FROM base),
      |cuts AS (
      |  SELECT ROUND(MAX(x), 8) AS th FROM tiles WHERE tile < 10 GROUP BY tile),
      |cand AS (
      |  SELECT th, pol FROM cuts CROSS JOIN (SELECT 1 AS pol UNION ALL SELECT -1) p),
      |r1 AS (
      |  SELECT cand.th, cand.pol,
      |         SUM(CASE WHEN cand.pol * (CASE WHEN base.x <= cand.th
      |                    THEN 1 ELSE -1 END) <> base.y THEN 1 ELSE 0 END) AS mis
      |  FROM base CROSS JOIN cand GROUP BY cand.th, cand.pol),
      |best1 AS (
      |  SELECT th, pol, mis,
      |         CAST(mis AS DOUBLE) / (SELECT n FROM n_all) AS e1
      |  FROM r1 ORDER BY mis, th, pol LIMIT 1),
      |alpha1 AS (
      |  SELECT th, pol, e1, ROUND(0.5 * LN((1 - e1) / e1), 8) AS a FROM best1),
      |marked AS (
      |  SELECT base.x, base.y,
      |         CASE WHEN alpha1.pol * (CASE WHEN base.x <= alpha1.th
      |                THEN 1 ELSE -1 END) <> base.y THEN 1 ELSE 0 END AS m1
      |  FROM base CROSS JOIN alpha1),
      |r2 AS (
      |  SELECT cand.th, cand.pol,
      |         SUM(CASE WHEN marked.m1 = 1 AND cand.pol * (CASE WHEN marked.x <= cand.th
      |                    THEN 1 ELSE -1 END) <> marked.y THEN 1 ELSE 0 END) AS n_mm,
      |         SUM(CASE WHEN marked.m1 = 0 AND cand.pol * (CASE WHEN marked.x <= cand.th
      |                    THEN 1 ELSE -1 END) <> marked.y THEN 1 ELSE 0 END) AS n_cm,
      |         SUM(marked.m1) AS n_m
      |  FROM marked CROSS JOIN cand GROUP BY cand.th, cand.pol),
      |w2 AS (
      |  SELECT r2.th, r2.pol, r2.n_mm, r2.n_cm,
      |         ROUND((EXP(alpha1.a) * r2.n_mm + EXP(-alpha1.a) * r2.n_cm)
      |           / (EXP(alpha1.a) * r2.n_m
      |              + EXP(-alpha1.a) * ((SELECT n FROM n_all) - r2.n_m)), 10) AS e2
      |  FROM r2 CROSS JOIN alpha1),
      |best2 AS (
      |  SELECT th, pol, e2 FROM w2 ORDER BY e2, th, pol LIMIT 1),
      |alpha2 AS (
      |  SELECT th, pol, e2, ROUND(0.5 * LN((1 - e2) / e2), 8) AS a FROM best2),
      |ens AS (
      |  SELECT SUM(CASE WHEN
      |           SIGN(alpha1.a * (alpha1.pol * (CASE WHEN base.x <= alpha1.th
      |                  THEN 1 ELSE -1 END))
      |              + alpha2.a * (alpha2.pol * (CASE WHEN base.x <= alpha2.th
      |                  THEN 1 ELSE -1 END))) = base.y
      |           THEN 1 ELSE 0 END) AS correct
      |  FROM base CROSS JOIN alpha1 CROSS JOIN alpha2)
      |SELECT (SELECT CAST(ROUND(th, 6) AS DOUBLE) FROM alpha1) AS stump1_threshold,
      |       (SELECT CAST(pol AS INT) FROM alpha1) AS stump1_polarity,
      |       (SELECT CAST(ROUND(e1, 6) AS DOUBLE) FROM alpha1) AS stump1_error,
      |       (SELECT CAST(ROUND(a, 6) AS DOUBLE) FROM alpha1) AS alpha1,
      |       (SELECT CAST(ROUND(th, 6) AS DOUBLE) FROM alpha2) AS stump2_threshold,
      |       (SELECT CAST(pol AS INT) FROM alpha2) AS stump2_polarity,
      |       (SELECT CAST(ROUND(e2, 6) AS DOUBLE) FROM alpha2) AS stump2_error,
      |       (SELECT CAST(ROUND(a, 6) AS DOUBLE) FROM alpha2) AS alpha2,
      |       CAST(ROUND(CAST(ens.correct AS DOUBLE)
      |         / (SELECT n FROM n_all), 6) AS DOUBLE) AS train_accuracy
      |FROM ens""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ab_orders")
    // the decile cut points come from TotalOrder.ntile (two-phase range
    // partition + broadcast offsets), NOT a partition-less NTILE window
    // — a global single-reducer sort over every raw order row was the
    // one remaining violation of the "global sorts go through
    // TotalOrder" invariant. Cut VALUES are identical: the max of tile
    // t is the x at a fixed global rank, the same value under any tie
    // permutation, so the NTILE-based oracle still hash-matches.
    val base = spark.sql(
      """SELECT LN(CAST(o_totalprice AS DOUBLE)) AS x,
        |       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE -1 END AS y
        |FROM graft_ab_orders""".stripMargin)
    base.createOrReplaceTempView("graft_ab_base")
    // ...and the 9-row cut table is MATERIALIZED once (eager
    // localCheckpoint): the boosting SQL references the candidate set
    // in two fanout aggregates and eight scalar subqueries, and a lazy
    // view would re-inline (re-plan, re-execute) the whole ranking
    // machinery into every one of them
    import org.apache.spark.sql.functions.{col => c, round => rnd, max => mx}
    graft.operators.TotalOrder
      .ntile(base.select(c("x")), Seq(c("x")), 10, "tile")
      .filter(c("tile") < 10)
      .groupBy(c("tile")).agg(rnd(mx(c("x")), 8).as("th"))
      .select(c("th"))
      .localCheckpoint(true)
      .createOrReplaceTempView("graft_ab_cuts")
    spark.sql(
      """WITH base AS (SELECT * FROM graft_ab_base),
        |n_all AS (SELECT COUNT(*) AS n FROM base),
        |cuts AS (SELECT th FROM graft_ab_cuts),
        |cand AS (
        |  SELECT th, pol FROM cuts CROSS JOIN (SELECT 1 AS pol UNION ALL SELECT -1) p),
        |r1 AS (
        |  SELECT cand.th, cand.pol,
        |         SUM(CASE WHEN cand.pol * (CASE WHEN base.x <= cand.th
        |                    THEN 1 ELSE -1 END) <> base.y THEN 1 ELSE 0 END) AS mis
        |  FROM base CROSS JOIN cand GROUP BY cand.th, cand.pol),
        |best1 AS (
        |  SELECT th, pol, mis,
        |         CAST(mis AS DOUBLE) / (SELECT n FROM n_all) AS e1
        |  FROM r1 ORDER BY mis, th, pol LIMIT 1),
        |alpha1 AS (
        |  SELECT th, pol, e1, ROUND(0.5 * LN((1 - e1) / e1), 8) AS a FROM best1),
        |marked AS (
        |  SELECT base.x, base.y,
        |         CASE WHEN alpha1.pol * (CASE WHEN base.x <= alpha1.th
        |                THEN 1 ELSE -1 END) <> base.y THEN 1 ELSE 0 END AS m1
        |  FROM base CROSS JOIN alpha1),
        |r2 AS (
        |  SELECT cand.th, cand.pol,
        |         SUM(CASE WHEN marked.m1 = 1 AND cand.pol * (CASE WHEN marked.x <= cand.th
        |                    THEN 1 ELSE -1 END) <> marked.y THEN 1 ELSE 0 END) AS n_mm,
        |         SUM(CASE WHEN marked.m1 = 0 AND cand.pol * (CASE WHEN marked.x <= cand.th
        |                    THEN 1 ELSE -1 END) <> marked.y THEN 1 ELSE 0 END) AS n_cm,
        |         SUM(marked.m1) AS n_m
        |  FROM marked CROSS JOIN cand GROUP BY cand.th, cand.pol),
        |w2 AS (
        |  SELECT r2.th, r2.pol, r2.n_mm, r2.n_cm,
        |         ROUND((EXP(alpha1.a) * r2.n_mm + EXP(-alpha1.a) * r2.n_cm)
        |           / (EXP(alpha1.a) * r2.n_m
        |              + EXP(-alpha1.a) * ((SELECT n FROM n_all) - r2.n_m)), 10) AS e2
        |  FROM r2 CROSS JOIN alpha1),
        |best2 AS (
        |  SELECT th, pol, e2 FROM w2 ORDER BY e2, th, pol LIMIT 1),
        |alpha2 AS (
        |  SELECT th, pol, e2, ROUND(0.5 * LN((1 - e2) / e2), 8) AS a FROM best2),
        |ens AS (
        |  SELECT SUM(CASE WHEN
        |           SIGN(alpha1.a * (alpha1.pol * (CASE WHEN base.x <= alpha1.th
        |                  THEN 1 ELSE -1 END))
        |              + alpha2.a * (alpha2.pol * (CASE WHEN base.x <= alpha2.th
        |                  THEN 1 ELSE -1 END))) = base.y
        |           THEN 1 ELSE 0 END) AS correct
        |  FROM base CROSS JOIN alpha1 CROSS JOIN alpha2)
        |SELECT (SELECT CAST(ROUND(th, 6) AS DOUBLE) FROM alpha1) AS stump1_threshold,
        |       (SELECT CAST(pol AS INT) FROM alpha1) AS stump1_polarity,
        |       (SELECT CAST(ROUND(e1, 6) AS DOUBLE) FROM alpha1) AS stump1_error,
        |       (SELECT CAST(ROUND(a, 6) AS DOUBLE) FROM alpha1) AS alpha1,
        |       (SELECT CAST(ROUND(th, 6) AS DOUBLE) FROM alpha2) AS stump2_threshold,
        |       (SELECT CAST(pol AS INT) FROM alpha2) AS stump2_polarity,
        |       (SELECT CAST(ROUND(e2, 6) AS DOUBLE) FROM alpha2) AS stump2_error,
        |       (SELECT CAST(ROUND(a, 6) AS DOUBLE) FROM alpha2) AS alpha2,
        |       CAST(ROUND(CAST(ens.correct AS DOUBLE)
        |         / (SELECT n FROM n_all), 6) AS DOUBLE) AS train_accuracy
        |FROM ens""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(stat_engle_granger, cluster_farthest_first,
    ml_adaboost_stumps)
}
