package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 128: parquet bloom-filter write options, Deming
  * (errors-in-variables) regression, and Tukey median polish.
  */
object Round4Ops128 {

  /** Parquet bloom-filter + dictionary write path: the supplier table
    * is written with a column bloom filter on s_suppkey
    * (`parquet.bloom.filter.enabled#...`) — the row-group skipping
    * index that makes point-lookup scans on a 100 TB lake cheap — and
    * read back through a selective key-set filter. The gate proves the
    * option round-trips data byte-exactly and the filter still pushes
    * down (row-group pruning composes with the predicate, it does not
    * replace it).
    */
  val s46_parquet_bloom_write = OpQuery(
    "s46_parquet_bloom_write",
    """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
      |       CAST(s_acctbal AS DECIMAL(15,2)) AS s_acctbal
      |FROM supplier
      |WHERE s_suppkey % 100 = 7
      |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    val outPath = s"/tmp/graft_pq_bloom_${math.abs(dir.hashCode)}"
    Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey").cast("bigint"), col("s_name"),
        col("s_acctbal").cast("decimal(15,2)"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#s_suppkey", "true")
      .option("parquet.bloom.filter.expected.ndv#s_suppkey", "100000")
      .option("parquet.enable.dictionary", "true")
      .parquet(outPath)
    spark.read.parquet(outPath)
      .where(col("s_suppkey") % 100 === 7)
      .orderBy(col("s_suppkey"))
  }

  /** Deming regression (errors-in-variables, δ = 1): when BOTH axes
    * carry measurement noise, the OLS slope is biased toward zero;
    * the Deming slope (SVD of the 2×2 moment matrix in closed form)
    * is the consistent estimate. Reported side by side with OLS so
    * the attenuation is visible. One quantized moment pass.
    */
  val stat_deming = OpQuery.sql("stat_deming", "lineitem")(
    """WITH base AS (
      |  SELECT CAST(l_quantity AS DOUBLE) AS x,
      |         CAST(l_extendedprice AS DOUBLE) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |         CAST(SUM(CAST(ROUND(x * y, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
      |         CAST(SUM(CAST(ROUND(y * y, 4) AS DECIMAL(38,4))) AS DOUBLE) AS syy
      |  FROM base),
      |c AS (
      |  SELECT n, sx / n AS mx, sy / n AS my,
      |         (sxx - sx * sx / n) / n AS vxx,
      |         (syy - sy * sy / n) / n AS vyy,
      |         (sxy - sx * sy / n) / n AS vxy
      |  FROM m),
      |fit AS (
      |  SELECT n, mx, my, vxy,
      |         (vyy - vxx + SQRT((vyy - vxx) * (vyy - vxx) + 4 * vxy * vxy))
      |           / (2 * vxy) AS b_deming,
      |         vxy / vxx AS b_ols
      |  FROM c)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       CAST(ROUND(b_ols, 6) AS DOUBLE) AS slope_ols,
      |       CAST(ROUND(b_deming, 6) AS DOUBLE) AS slope_deming,
      |       CAST(ROUND(my - b_deming * mx, 6) AS DOUBLE) AS intercept_deming
      |FROM fit""".stripMargin)

  /** Tukey median polish, two full sweeps, on the nation × segment
    * matrix of mean account balance: alternately remove row and
    * column medians; what's left is the residual table a robust
    * two-way analysis reads for interactions the means-based ANOVA
    * smears. Medians are interpolated identically by both engines, so
    * no quantization is needed until output. Reports the 10 largest
    * |residual| cells with their accumulated row/column effects.
    */
  val stat_median_polish = OpQuery.sql("stat_median_polish", "customer")(
    """WITH cells AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         MEDIAN(CAST(c_acctbal AS DOUBLE)) AS v
      |  FROM customer GROUP BY 1, 2),
      |r1 AS (SELECT nat, MEDIAN(v) AS m FROM cells GROUP BY nat),
      |res1 AS (
      |  SELECT cells.nat, cells.seg, cells.v - r1.m AS v, r1.m AS re
      |  FROM cells JOIN r1 ON r1.nat = cells.nat),
      |c1 AS (SELECT seg, MEDIAN(v) AS m FROM res1 GROUP BY seg),
      |res2 AS (
      |  SELECT res1.nat, res1.seg, res1.v - c1.m AS v, res1.re, c1.m AS ce
      |  FROM res1 JOIN c1 ON c1.seg = res1.seg),
      |r2 AS (SELECT nat, MEDIAN(v) AS m FROM res2 GROUP BY nat),
      |res3 AS (
      |  SELECT res2.nat, res2.seg, res2.v - r2.m AS v, res2.re + r2.m AS re, res2.ce
      |  FROM res2 JOIN r2 ON r2.nat = res2.nat),
      |c2 AS (SELECT seg, MEDIAN(v) AS m FROM res3 GROUP BY seg),
      |res4 AS (
      |  SELECT res3.nat, res3.seg, res3.v - c2.m AS v, res3.re, res3.ce + c2.m AS ce
      |  FROM res3 JOIN c2 ON c2.seg = res3.seg)
      |SELECT CAST(nat AS INT) AS nationkey, seg AS segment,
      |       CAST(re AS DOUBLE) AS row_effect,
      |       CAST(ce AS DOUBLE) AS col_effect,
      |       CAST(v AS DOUBLE) AS residual
      |FROM res4
      |ORDER BY ABS(v) DESC, nationkey, segment
      |LIMIT 10""".stripMargin)

  val all: Seq[OpQuery] = Seq(s46_parquet_bloom_write, stat_deming,
    stat_median_polish)
}
