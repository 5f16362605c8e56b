package graft.queries

import graft.Tables

/** Round-4 batch 90: Spearman and Kendall rank correlations and
  * human-readable byte formatting.
  */
object Round4Ops90 {

  /** Spearman rank correlation between a customer's account balance and
    * their realized spend: Pearson over ranks, with ranks pinned by a
    * custkey tie-break so every intermediate is an exact integer until
    * the final division. Two window ranks + one moment pass — the
    * monotonic-association check that survives outliers Pearson
    * doesn't.
    */
  val a64_spearman = OpQuery(
    "a64_spearman",
    """WITH spend AS (
      |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |           AS cents
      |  FROM orders GROUP BY o_custkey),
      |joined AS (
      |  SELECT c.c_custkey, CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           AS bal, s.cents
      |  FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey),
      |ranked AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY bal, c_custkey) AS rx,
      |         ROW_NUMBER() OVER (ORDER BY cents, c_custkey) AS ry
      |  FROM joined),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
      |         SUM(rx * ry) AS sxy,
      |         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
      |  FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |            (sqrt(CAST(n AS DOUBLE) * sxx - POW(CAST(sx AS DOUBLE), 2)) *
      |             sqrt(CAST(n AS DOUBLE) * syy - POW(CAST(sy AS DOUBLE), 2))), 6)
      |            AS DOUBLE) AS spearman_rho
      |FROM m""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_sp_orders")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("graft_sp_customer")
    // both rank columns via chained TotalOrder passes (rowNumber keeps
    // every input column, so the second ranking runs over the first's
    // output) — each window form single-reduced the whole per-customer
    // frame, twice
    import org.apache.spark.sql.functions.col
    val spJoined = spark.sql(
      """SELECT c.c_custkey,
        |       CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
        |       s.cents
        |FROM graft_sp_customer c
        |JOIN (SELECT o_custkey,
        |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |               AS cents
        |      FROM graft_sp_orders GROUP BY o_custkey) s
        |  ON c.c_custkey = s.o_custkey""".stripMargin)
    val rankedX = graft.operators.TotalOrder
      .rowNumber(spJoined, Seq(col("bal"), col("c_custkey")), "rx")
    graft.operators.TotalOrder
      .rowNumber(rankedX, Seq(col("cents"), col("c_custkey")), "ry")
      .select(col("rx"), col("ry"))
      .createOrReplaceTempView("graft_sp_ranked")
    spark.sql(
      """WITH ranked AS (SELECT rx, ry FROM graft_sp_ranked),
        |m AS (
        |  SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
        |         SUM(rx * ry) AS sxy,
        |         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
        |  FROM ranked)
        |SELECT CAST(n AS BIGINT) AS n,
        |       CAST(ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |            (sqrt(CAST(n AS DOUBLE) * sxx - POW(CAST(sx AS DOUBLE), 2)) *
        |             sqrt(CAST(n AS DOUBLE) * syy - POW(CAST(sy AS DOUBLE), 2))), 6)
        |            AS DOUBLE) AS spearman_rho
        |FROM m""".stripMargin)
  }

  /** Kendall's tau-a on a 200-customer slice: concordant minus
    * discordant pairs over n(n−1)/2, all integer counting. The pair
    * join is the documented quadratic ground-truth quarantine (the
    * scale path is Spearman above — one sort instead of n² pairs).
    */
  val a65_kendall_tau = OpQuery.sql("a65_kendall_tau", "orders", "customer")(
    """WITH spend AS (
      |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |           AS cents
      |  FROM orders GROUP BY o_custkey),
      |joined AS (
      |  SELECT c.c_custkey, CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           AS bal, s.cents
      |  FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey
      |  WHERE c.c_custkey < 200),
      |pairs AS (
      |  SELECT CASE WHEN (a.bal - b.bal) * (a.cents - b.cents) > 0 THEN 1 ELSE 0 END AS conc,
      |         CASE WHEN (a.bal - b.bal) * (a.cents - b.cents) < 0 THEN 1 ELSE 0 END AS disc
      |  FROM joined a JOIN joined b ON a.c_custkey < b.c_custkey),
      |m AS (SELECT SUM(conc) AS c, SUM(disc) AS d, COUNT(*) AS np FROM pairs)
      |SELECT CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
      |       CAST(np AS BIGINT) AS n_pairs,
      |       CAST(ROUND(CAST(c - d AS DOUBLE) / np, 6) AS DOUBLE) AS kendall_tau
      |FROM m""".stripMargin)

  /** Human-readable byte formatting: a pinned CASE ladder (B / KiB /
    * MiB / GiB with one decimal, half-up on an exact integer-scaled
    * value) over synthetic object sizes — the display helper every
    * storage report needs, kept engine-exact by doing the rounding in
    * integer tenths.
    */
  val f_format_bytes = OpQuery(
    "f_format_bytes",
    """WITH sizes AS (
      |  SELECT o_orderkey, o_orderkey * 7919 + 123 AS bytes
      |  FROM orders WHERE o_orderkey < 300),
      |scaled AS (
      |  SELECT o_orderkey, bytes,
      |         CASE WHEN bytes >= 1073741824 THEN (bytes * 10) // 1073741824
      |              WHEN bytes >= 1048576 THEN (bytes * 10) // 1048576
      |              WHEN bytes >= 1024 THEN (bytes * 10) // 1024
      |              ELSE bytes * 10 END AS tenths,
      |         CASE WHEN bytes >= 1073741824 THEN 'GiB'
      |              WHEN bytes >= 1048576 THEN 'MiB'
      |              WHEN bytes >= 1024 THEN 'KiB'
      |              ELSE 'B' END AS unit
      |  FROM sizes)
      |SELECT o_orderkey, CAST(bytes AS BIGINT) AS bytes,
      |       CAST(tenths // 10 AS VARCHAR) || '.' || CAST(tenths % 10 AS VARCHAR)
      |         || ' ' || unit AS pretty
      |FROM scaled
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_fb_orders")
    spark.sql(
      """WITH sizes AS (
        |  SELECT o_orderkey, o_orderkey * 7919 + 123 AS bytes
        |  FROM graft_fb_orders WHERE o_orderkey < 300),
        |scaled AS (
        |  SELECT o_orderkey, bytes,
        |         CASE WHEN bytes >= 1073741824 THEN (bytes * 10) DIV 1073741824
        |              WHEN bytes >= 1048576 THEN (bytes * 10) DIV 1048576
        |              WHEN bytes >= 1024 THEN (bytes * 10) DIV 1024
        |              ELSE bytes * 10 END AS tenths,
        |         CASE WHEN bytes >= 1073741824 THEN 'GiB'
        |              WHEN bytes >= 1048576 THEN 'MiB'
        |              WHEN bytes >= 1024 THEN 'KiB'
        |              ELSE 'B' END AS unit
        |  FROM sizes)
        |SELECT o_orderkey, CAST(bytes AS BIGINT) AS bytes,
        |       concat(CAST(tenths DIV 10 AS STRING), '.', CAST(tenths % 10 AS STRING),
        |              ' ', unit) AS pretty
        |FROM scaled
        |ORDER BY o_orderkey""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(a64_spearman, a65_kendall_tau, f_format_bytes)
}
