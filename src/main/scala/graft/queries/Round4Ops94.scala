package graft.queries

import graft.Tables

/** Round-4 batch 94: slippy-map tile addressing, deterministic
  * negative sampling, and exponential retention-decay fitting.
  */
object Round4Ops94 {

  /** Web-Mercator tile addressing at zoom 6: the (z/x/y) key that
    * shards geo workloads. The mercator y uses ln/tan, so the value is
    * quantized to 9 decimals BEFORE the floor — the engine-exactness
    * guard for the one boundary-sensitive step — and x stays pure
    * arithmetic. Same synthetic supplier coordinates as the haversine
    * gate.
    */
  val f_geo_tile = OpQuery.sql("f_geo_tile", "supplier")(
    """WITH pts AS (
      |  SELECT s_suppkey,
      |         CAST(s_suppkey % 160 AS DOUBLE) - 80 + 0.25 AS lat,
      |         CAST((s_suppkey * 7) % 360 AS DOUBLE) - 180 + 0.5 AS lon
      |  FROM supplier)
      |SELECT s_suppkey, lat, lon,
      |       CAST(FLOOR(ROUND((lon + 180) / 360 * 64, 9)) AS INT) AS tile_x,
      |       CAST(FLOOR(ROUND((1 - ln(tan(radians(lat)) + 1 / cos(radians(lat)))
      |                         / pi()) / 2 * 64, 9)) AS INT) AS tile_y
      |FROM pts
      |ORDER BY s_suppkey""".stripMargin)

  /** Deterministic negative sampling for recommendation training: for
    * each observed (customer, part) purchase, three LCG-drawn candidate
    * parts, anti-joined against the customer's true purchases so no
    * negative is secretly positive. The draw is pure integer
    * arithmetic — reproducible across engines, runs, and cluster
    * sizes — and the anti-join is the same shuffle the positives
    * already need.
    */
  val ml_negative_sampling = OpQuery(
    "ml_negative_sampling",
    """WITH pos AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderkey < 1000),
      |maxp AS (SELECT MAX(p_partkey) AS mp FROM part),
      |draws AS (
      |  SELECT p.cust, p.part, k.k,
      |         ((p.cust * 48271 + p.part * 16807 + k.k * 69621) % 2147483647)
      |           % m.mp + 1 AS neg
      |  FROM pos p, (SELECT unnest(range(1, 4)) AS k) k, maxp m),
      |clean AS (
      |  SELECT d.cust, d.part, d.k, d.neg
      |  FROM draws d LEFT JOIN pos p2 ON d.cust = p2.cust AND d.neg = p2.part
      |  WHERE p2.cust IS NULL)
      |SELECT cust, part, CAST(k AS INT) AS k, neg
      |FROM clean
      |ORDER BY cust, part, k""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ns_orders")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_ns_lineitem")
    Tables.load(spark, dir, "part").createOrReplaceTempView("graft_ns_part")
    spark.sql(
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        |  FROM graft_ns_orders o JOIN graft_ns_lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey < 1000),
        |maxp AS (SELECT MAX(p_partkey) AS mp FROM graft_ns_part),
        |draws AS (
        |  SELECT p.cust, p.part, k.k,
        |         ((p.cust * 48271 + p.part * 16807 + k.k * 69621) % 2147483647)
        |           % m.mp + 1 AS neg
        |  FROM pos p CROSS JOIN (SELECT explode(sequence(1, 3)) AS k) k
        |  CROSS JOIN maxp m),
        |clean AS (
        |  SELECT d.cust, d.part, d.k, d.neg
        |  FROM draws d LEFT JOIN pos p2 ON d.cust = p2.cust AND d.neg = p2.part
        |  WHERE p2.cust IS NULL)
        |SELECT cust, part, CAST(k AS INT) AS k, neg
        |FROM clean
        |ORDER BY cust, part, k""".stripMargin)
  }

  /** Exponential retention decay: the share of users still active k
    * days after their first event, fitted as ln(share) = a + b·k by
    * least squares — the half-life number a growth team quotes. All
    * shares come from integer counts; the fit runs over quantized ln
    * terms.
    */
  val event_retention_curve = OpQuery.sql("event_retention_curve", "events")(
    """WITH firsts AS (
      |  SELECT user_id, MIN(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) AS d0
      |  FROM events GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT e.user_id,
      |         CAST(FLOOR(epoch(e.ts) / 86400) AS BIGINT) - f.d0 AS age
      |  FROM events e JOIN firsts f ON e.user_id = f.user_id),
      |pop AS (SELECT COUNT(*) AS n FROM firsts),
      |curve AS (
      |  SELECT age, COUNT(*) AS active FROM activity
      |  WHERE age BETWEEN 1 AND 14 GROUP BY age),
      |terms AS (
      |  SELECT CAST(c.age AS DOUBLE) AS x,
      |         ln(CAST(c.active AS DOUBLE) / p.n) AS y
      |  FROM curve c CROSS JOIN pop p),
      |fit AS (
      |  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM terms)
      |SELECT CAST(k AS BIGINT) AS n_ages,
      |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
      |         AS decay_slope,
      |       CAST(ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
      |            AS DOUBLE) AS intercept
      |FROM fit""".stripMargin,
    "epoch(" -> "unix_timestamp(")

  val all: Seq[OpQuery] = Seq(f_geo_tile, ml_negative_sampling, event_retention_curve)
}
