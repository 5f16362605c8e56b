package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.StatTestsGates

/** Error bounds for the approximate Hodges–Lehmann gate
  * (`a54_hl_approx`): the approximation is exact for small groups
  * (step 1 keeps every value), and for large groups its error is
  * bounded by the quantile grid it samples on — both checked against
  * the O(n²) exact walk over the SAME query text the gate ships.
  */
class HlApproxSpec extends SparkSpec {
  import spark.implicits._

  private def run(view: String, sql: String): Map[Int, Double] =
    spark.sql(sql).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap

  test("groups of <= 40 values: approximation IS the exact estimator") {
    // 3 groups x 25 skewed values
    val rows = for (g <- 0 until 3; i <- 0 until 25) yield
      (g, math.pow(1.3, i % 13) * (if (i % 2 == 0) 1 else -1) * 100.0, g * 100 + i)
    rows.toDF("c_nationkey", "c_acctbal", "c_custkey")
      .createOrReplaceTempView("graft_hl_small")
    val approx = run("graft_hl_small", StatTestsGates.hlApproxSparkSql("graft_hl_small"))
    val exact = run("graft_hl_small", StatTestsGates.hlExactSparkSql("graft_hl_small"))
    assert(approx === exact)
  }

  test("large skewed groups: error within the sampling grid, rank within the central band") {
    // 3 groups x 700 values, lognormal-ish heavy right tail
    val rows = for (g <- 0 until 3; i <- 0 until 700) yield {
      val u = ((i * 2654435761L + g * 40503L) % 10000) / 10000.0
      (g, math.exp(3 * u) * 50.0 - 60.0, g * 1000 + i)
    }
    val df = rows.toDF("c_nationkey", "c_acctbal", "c_custkey")
      .localCheckpoint(true)
    df.createOrReplaceTempView("graft_hl_big")
    val approx = run("graft_hl_big", StatTestsGates.hlApproxSparkSql("graft_hl_big"))
    val exact = run("graft_hl_big", StatTestsGates.hlExactSparkSql("graft_hl_big"))

    // grid bound: the largest gap between consecutive SAMPLED order
    // statistics per group — the approx walk cannot place the estimate
    // further than one grid cell from a value-coupled Walsh average
    val gaps = spark.sql(
      """WITH vals AS (
        |  SELECT c_nationkey AS g,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |           ORDER BY c_acctbal, c_custkey) AS i,
        |         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM graft_hl_big),
        |samp AS (
        |  SELECT g, c FROM vals
        |  WHERE (i - 1) % GREATEST(1L, CAST(FLOOR(n / 40.0) AS BIGINT)) = 0)
        |SELECT g, CAST(MAX(c - prev) AS DOUBLE) / 100.0 AS max_gap FROM (
        |  SELECT g, c, LAG(c) OVER (PARTITION BY g ORDER BY c) AS prev
        |  FROM samp)
        |WHERE prev IS NOT NULL GROUP BY g""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

    for (g <- 0 until 3) {
      val err = math.abs(approx(g) - exact(g))
      assert(err <= gaps(g) + 1e-9,
        s"group $g: |approx - exact| = $err exceeds grid gap ${gaps(g)}")
    }

    // rank check: the approx estimate must land inside the central
    // 40th-60th percentile band of the TRUE Walsh-average distribution
    // (grid rank error is O(1/m) = 2.5%, well inside the 10% margin)
    val band = spark.sql(
      """WITH vals AS (
        |  SELECT c_nationkey AS g,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |           ORDER BY c_acctbal, c_custkey) AS i
        |  FROM graft_hl_big),
        |walsh AS (
        |  SELECT a.g, (a.c + b.c) / 200.0 AS w
        |  FROM vals a JOIN vals b ON a.g = b.g AND a.i <= b.i)
        |SELECT g, percentile(w, 0.4) AS lo, percentile(w, 0.6) AS hi
        |FROM walsh GROUP BY g""".stripMargin)
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for (g <- 0 until 3) {
      val (lo, hi) = band(g)
      assert(approx(g) >= lo && approx(g) <= hi,
        s"group $g: approx ${approx(g)} outside central band [$lo, $hi]")
    }
  }
}
