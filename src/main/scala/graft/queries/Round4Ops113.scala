package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 113: Fellegi–Sunter probabilistic record linkage,
  * Brier-score decomposition, and Hellinger/Bhattacharyya distribution
  * distance.
  */
object Round4Ops113 {

  /** Fellegi–Sunter linkage scoring: candidate customer pairs from a
    * (nation, balance-band) blocking join are scored with log-odds
    * agreement weights. u-probabilities (chance agreement) are
    * ESTIMATED FROM THE DATA as value-collision probabilities Σp²;
    * m-probabilities are the pinned 0.95/0.05 convention (documented —
    * no labeled pairs exist). Weights are quantized to 6 decimals; the
    * top-25 scoring pairs are the linkage review queue. Blocking keeps
    * the pair space linear in block sizes — never all-pairs.
    */
  val dedup_fellegi_sunter = OpQuery.sql("dedup_fellegi_sunter", "customer")(
    """WITH c AS (
      |  SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000) AS INT) AS band,
      |         substr(c_name, -2) AS tail
      |  FROM customer),
      |useg AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |           POW(CAST(n AS DOUBLE) / (SELECT COUNT(*) FROM c), 2), 10)
      |           AS DECIMAL(28,10))) AS DOUBLE) AS u
      |  FROM (SELECT seg, COUNT(*) AS n FROM c GROUP BY seg)),
      |utail AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |           POW(CAST(n AS DOUBLE) / (SELECT COUNT(*) FROM c), 2), 10)
      |           AS DECIMAL(28,10))) AS DOUBLE) AS u
      |  FROM (SELECT tail, COUNT(*) AS n FROM c GROUP BY tail)),
      |pairs AS (
      |  SELECT a.id AS id1, b.id AS id2,
      |         CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS agree_seg,
      |         CASE WHEN a.tail = b.tail THEN 1 ELSE 0 END AS agree_tail
      |  FROM c a JOIN c b
      |    ON a.nat = b.nat AND a.band = b.band AND a.id < b.id),
      |scored AS (
      |  SELECT id1, id2, agree_seg, agree_tail,
      |         ROUND(
      |           CASE WHEN agree_seg = 1
      |             THEN LN(0.95 / useg.u) ELSE LN(0.05 / (1 - useg.u)) END +
      |           CASE WHEN agree_tail = 1
      |             THEN LN(0.95 / utail.u) ELSE LN(0.05 / (1 - utail.u)) END,
      |           6) AS w
      |  FROM pairs CROSS JOIN useg CROSS JOIN utail)
      |SELECT id1, id2, agree_seg, agree_tail, CAST(w AS DOUBLE) AS weight
      |FROM scored
      |ORDER BY w DESC, id1, id2
      |LIMIT 25""".stripMargin)

  /** Murphy decomposition of the Brier score — reliability −
    * resolution + uncertainty — for the pinned scorer with forecast
    * probability = exact percent-rank of the score (rational, so decile
    * binning never straddles a float boundary). Each component is a
    * quantized DECIMAL fold; the identity brier = rel − res + unc is
    * reported as a residual column the gate pins near zero.
    */
  val eval_brier_decomp = OpQuery(
    "eval_brier_decomp",
    """WITH scored AS (
      |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
      |         CAST(label % 2 AS INT) AS y
      |  FROM embeddings),
      |pr AS (
      |  SELECT y,
      |         CAST(ROW_NUMBER() OVER (ORDER BY score, vec_id) - 1 AS BIGINT)
      |           AS rk,
      |         COUNT(*) OVER () AS n
      |  FROM scored),
      |p AS (
      |  SELECT y, rk, n, CAST((rk * 10) // (n - 1) AS INT) AS bin,
      |         CAST(rk AS DOUBLE) / (n - 1) AS prob
      |  FROM pr),
      |bins AS (
      |  SELECT LEAST(bin, 9) AS bin, COUNT(*) AS nk,
      |         CAST(SUM(CAST(ROUND(prob, 10) AS DECIMAL(28,10))) AS DOUBLE)
      |           / COUNT(*) AS pbar,
      |         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybar
      |  FROM p GROUP BY 1),
      |tot AS (
      |  SELECT SUM(nk) AS n,
      |         CAST(SUM(CAST(nk AS DECIMAL(18,0)) *
      |           CAST(ROUND(ybar, 10) AS DECIMAL(28,10))) AS DOUBLE) / SUM(nk)
      |           AS ybar_all
      |  FROM bins),
      |comps AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND(nk * (pbar - ybar) * (pbar - ybar), 8)
      |      AS DECIMAL(38,8))) AS DOUBLE) / MAX(tot.n) AS reliability,
      |    CAST(SUM(CAST(ROUND(nk * (ybar - tot.ybar_all) * (ybar - tot.ybar_all),
      |      8) AS DECIMAL(38,8))) AS DOUBLE) / MAX(tot.n) AS resolution,
      |    MAX(tot.ybar_all) * (1 - MAX(tot.ybar_all)) AS uncertainty
      |  FROM bins CROSS JOIN tot),
      |brier AS (
      |  SELECT CAST(SUM(CAST(ROUND((prob - y) * (prob - y), 10)
      |           AS DECIMAL(28,10))) AS DOUBLE) / MAX(n) AS bs
      |  FROM p)
      |SELECT CAST(ROUND(brier.bs, 6) AS DOUBLE) AS brier,
      |       CAST(ROUND(comps.reliability, 6) AS DOUBLE) AS reliability,
      |       CAST(ROUND(comps.resolution, 6) AS DOUBLE) AS resolution,
      |       CAST(ROUND(comps.uncertainty, 6) AS DOUBLE) AS uncertainty,
      |       CAST(ROUND(brier.bs - (comps.reliability - comps.resolution
      |         + comps.uncertainty), 4) AS DOUBLE) AS residual
      |FROM brier CROSS JOIN comps""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_bd_emb")
    val scored = spark.sql(
      """SELECT vec_id, CAST(element_at(embedding, 1) AS DOUBLE) AS score,
        |       CAST(label % 2 AS INT) AS y
        |FROM graft_bd_emb""".stripMargin)
    // ECDF position + total count via TotalOrder's range-shuffle pair
    // (winscan r9: RAW table-sized global window) — bit-equal, the
    // order (score, vec_id) is total
    graft.operators.TotalOrder
      .rowNumberWithCount(scored, Seq(col("score"), col("vec_id")),
        rnCol = "rn1", nCol = "n")
      .createOrReplaceTempView("graft_bd_ranked")
    spark.sql(
      """WITH pr AS (
        |  SELECT y, CAST(rn1 - 1 AS BIGINT) AS rk, n FROM graft_bd_ranked),
        |p AS (
        |  SELECT y, rk, n, CAST((rk * 10) DIV (n - 1) AS INT) AS bin,
        |         CAST(rk AS DOUBLE) / (n - 1) AS prob
        |  FROM pr),
        |bins AS (
        |  SELECT LEAST(bin, 9) AS bin, COUNT(*) AS nk,
        |         CAST(SUM(CAST(ROUND(prob, 10) AS DECIMAL(28,10))) AS DOUBLE)
        |           / COUNT(*) AS pbar,
        |         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybar
        |  FROM p GROUP BY 1),
        |tot AS (
        |  SELECT SUM(nk) AS n,
        |         CAST(SUM(CAST(nk AS DECIMAL(18,0)) *
        |           CAST(ROUND(ybar, 10) AS DECIMAL(28,10))) AS DOUBLE) / SUM(nk)
        |           AS ybar_all
        |  FROM bins),
        |comps AS (
        |  SELECT
        |    CAST(SUM(CAST(ROUND(nk * (pbar - ybar) * (pbar - ybar), 8)
        |      AS DECIMAL(38,8))) AS DOUBLE) / MAX(tot.n) AS reliability,
        |    CAST(SUM(CAST(ROUND(nk * (ybar - tot.ybar_all) * (ybar - tot.ybar_all),
        |      8) AS DECIMAL(38,8))) AS DOUBLE) / MAX(tot.n) AS resolution,
        |    MAX(tot.ybar_all) * (1 - MAX(tot.ybar_all)) AS uncertainty
        |  FROM bins CROSS JOIN tot),
        |brier AS (
        |  SELECT CAST(SUM(CAST(ROUND((prob - y) * (prob - y), 10)
        |           AS DECIMAL(28,10))) AS DOUBLE) / MAX(n) AS bs
        |  FROM p)
        |SELECT CAST(ROUND(brier.bs, 6) AS DOUBLE) AS brier,
        |       CAST(ROUND(comps.reliability, 6) AS DOUBLE) AS reliability,
        |       CAST(ROUND(comps.resolution, 6) AS DOUBLE) AS resolution,
        |       CAST(ROUND(comps.uncertainty, 6) AS DOUBLE) AS uncertainty,
        |       CAST(ROUND(brier.bs - (comps.reliability - comps.resolution
        |         + comps.uncertainty), 4) AS DOUBLE) AS residual
        |FROM brier CROSS JOIN comps""".stripMargin)
  }

  /** Hellinger and Bhattacharyya distance (plus total variation)
    * between the order-priority mixes of two customer segments. The
    * two 5-bucket distributions are exact rationals; √(p·q) terms are
    * quantized before their DECIMAL sum. Distribution distance as a
    * drift gate between two slices of the same fact table.
    */
  val stat_hellinger = OpQuery.sql("stat_hellinger", "orders", "customer")(
    """WITH j AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |cnt AS (
      |  SELECT seg, pri, COUNT(*) AS n FROM j GROUP BY seg, pri),
      |st AS (SELECT seg, SUM(n) AS t FROM cnt GROUP BY seg),
      |dist AS (
      |  SELECT cnt.pri,
      |         MAX(CASE WHEN cnt.seg = 'BUILDING'
      |           THEN CAST(cnt.n AS DOUBLE) / st.t END) AS p,
      |         MAX(CASE WHEN cnt.seg = 'MACHINERY'
      |           THEN CAST(cnt.n AS DOUBLE) / st.t END) AS q
      |  FROM cnt JOIN st ON cnt.seg = st.seg
      |  GROUP BY cnt.pri),
      |m AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND(SQRT(p * q), 10) AS DECIMAL(28,10)))
      |      AS DOUBLE) AS bc,
      |    CAST(SUM(CAST(ROUND(ABS(p - q), 10) AS DECIMAL(28,10)))
      |      AS DOUBLE) AS l1
      |  FROM dist)
      |SELECT CAST(ROUND(bc, 8) AS DOUBLE) AS bhattacharyya_coef,
      |       CAST(ROUND(SQRT(1 - bc), 8) AS DOUBLE) AS hellinger,
      |       CAST(ROUND(l1 / 2, 8) AS DOUBLE) AS total_variation
      |FROM m""".stripMargin)

  val all: Seq[OpQuery] = Seq(dedup_fellegi_sunter, eval_brier_decomp,
    stat_hellinger)
}
