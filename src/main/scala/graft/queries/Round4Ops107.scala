package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 107: privacy audits (k-anonymity, l-diversity) and
  * Benjamini–Hochberg FDR control — the release-gate checks a
  * training-data pipeline runs before publishing a derived table.
  */
object Round4Ops107 {

  /** k-anonymity audit over the quasi-identifier (nation, market
    * segment, account-balance band): the size of each QI equivalence
    * class is its k; rows in small classes are re-identifiable. Reports
    * the class-size histogram (k capped at 10) with row shares — the
    * "can we release this projection" check. Two aggregations, integer
    * output.
    */
  val priv_k_anonymity = OpQuery(
    "priv_k_anonymity",
    """WITH qi AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000) AS INT) AS band,
      |         c_custkey
      |  FROM customer),
      |cls AS (
      |  SELECT nat, seg, band, COUNT(*) AS k FROM qi GROUP BY 1, 2, 3),
      |tot AS (SELECT SUM(k) AS n FROM cls),
      |hist AS (
      |  SELECT CAST(LEAST(k, 10) AS INT) AS k_bucket,
      |         COUNT(*) AS n_classes, SUM(k) AS n_rows
      |  FROM cls GROUP BY 1)
      |SELECT k_bucket, CAST(n_classes AS BIGINT) AS n_classes,
      |       CAST(n_rows AS BIGINT) AS n_rows,
      |       CAST(ROUND(CAST(n_rows AS DOUBLE) / tot.n, 6) AS DOUBLE) AS row_share,
      |       k_bucket < 5 AS below_k5
      |FROM hist CROSS JOIN tot
      |ORDER BY k_bucket""".stripMargin) { (spark, dir) =>
    val qi = Tables.load(spark, dir, "customer").select(
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      floor(col("c_acctbal").cast("double") / 2000).cast("int").as("band"))
    val cls = qi.groupBy("nat", "seg", "band").agg(count(lit(1)).as("k"))
    val tot = cls.agg(sum(col("k")).as("n"))
    cls.groupBy(least(col("k"), lit(10)).cast("int").as("k_bucket"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
      .crossJoin(tot)
      .select(col("k_bucket"), col("n_classes").cast("long").as("n_classes"),
        col("n_rows").cast("long").as("n_rows"),
        round(col("n_rows").cast("double") / col("n"), 6)
          .cast("double").as("row_share"),
        (col("k_bucket") < 5).as("below_k5"))
      .orderBy("k_bucket")
  }

  /** l-diversity audit: within each (nation, segment) QI class, how
    * many DISTINCT sensitive values (balance band) appear — a class
    * where everyone shares one sensitive value leaks it even at high k.
    * Reports the distribution of l with the l<3 violation flag.
    */
  val priv_l_diversity = OpQuery(
    "priv_l_diversity",
    """WITH qi AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000) AS INT) AS sens
      |  FROM customer),
      |cls AS (
      |  SELECT nat, seg, COUNT(*) AS k, COUNT(DISTINCT sens) AS l
      |  FROM qi GROUP BY 1, 2),
      |tot AS (SELECT SUM(k) AS n FROM cls)
      |SELECT CAST(l AS INT) AS l, COUNT(*) AS n_classes,
      |       CAST(SUM(k) AS BIGINT) AS n_rows,
      |       CAST(ROUND(CAST(SUM(k) AS DOUBLE) / MAX(tot.n), 6) AS DOUBLE)
      |         AS row_share,
      |       l < 3 AS violates_l3
      |FROM cls CROSS JOIN tot
      |GROUP BY l ORDER BY l""".stripMargin) { (spark, dir) =>
    val qi = Tables.load(spark, dir, "customer").select(
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      floor(col("c_acctbal").cast("double") / 2000).cast("int").as("sens"))
    val cls = qi.groupBy("nat", "seg")
      .agg(count(lit(1)).as("k"), countDistinct(col("sens")).as("l"))
    val tot = cls.agg(sum(col("k")).as("n"))
    cls.crossJoin(tot).groupBy(col("l").cast("int").as("l"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).cast("long").as("n_rows"),
        round(sum(col("k")).cast("double") / max(col("n")), 6)
          .cast("double").as("row_share"))
      .select(col("l"), col("n_classes"), col("n_rows"), col("row_share"),
        (col("l") < 3).as("violates_l3"))
      .orderBy("l")
  }

  /** Benjamini–Hochberg FDR control over 25 simultaneous hypotheses:
    * per nation, a chi-square test (df = 2 — order-status mix vs the
    * global mix) whose survival function is EXACTLY exp(-x/2), so the
    * p-values need no erf approximation. BH: rank p ascending, reject
    * every hypothesis up to the largest rank with p ≤ α·rank/m. The
    * whole multiple-testing correction is two windows over a 25-row
    * aggregate of one scan.
    */
  val stat_bh_fdr = OpQuery.sql("stat_bh_fdr", "orders", "customer")(
    """WITH o AS (
      |  SELECT c.c_nationkey AS nat, o.o_orderstatus AS st
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |gdist AS (
      |  SELECT st, COUNT(*) AS g FROM o GROUP BY st),
      |gt AS (SELECT SUM(g) AS n FROM gdist),
      |pern AS (
      |  SELECT nat, st, COUNT(*) AS c FROM o GROUP BY nat, st),
      |nt AS (SELECT nat, SUM(c) AS nn FROM pern GROUP BY nat),
      |chi AS (
      |  SELECT nt.nat,
      |         CAST(SUM(CAST(ROUND(
      |           POW(pern.c - nt.nn * (CAST(gdist.g AS DOUBLE) / gt.n), 2)
      |             / (nt.nn * (CAST(gdist.g AS DOUBLE) / gt.n)), 10)
      |           AS DECIMAL(28,10))) AS DOUBLE) AS x
      |  FROM nt JOIN pern ON pern.nat = nt.nat
      |  JOIN gdist ON gdist.st = pern.st CROSS JOIN gt
      |  GROUP BY nt.nat),
      |p AS (
      |  SELECT nat, x, ROUND(EXP(-x / 2), 8) AS pval FROM chi),
      |rk AS (
      |  SELECT nat, x, pval,
      |         ROW_NUMBER() OVER (ORDER BY pval, nat) AS r,
      |         COUNT(*) OVER () AS m
      |  FROM p),
      |kmax AS (
      |  SELECT COALESCE(MAX(CASE WHEN pval <= 0.05 * r / m THEN r END), 0) AS k
      |  FROM rk)
      |SELECT rk.nat AS nationkey, CAST(ROUND(x, 4) AS DOUBLE) AS chi2,
      |       CAST(pval AS DOUBLE) AS pval, CAST(r AS INT) AS rank,
      |       CAST(ROUND(0.05 * r / m, 6) AS DOUBLE) AS bh_cutoff,
      |       rk.r <= kmax.k AS rejected
      |FROM rk CROSS JOIN kmax
      |ORDER BY rank""".stripMargin)

  val all: Seq[OpQuery] = Seq(priv_k_anonymity, priv_l_diversity, stat_bh_fdr)
}
