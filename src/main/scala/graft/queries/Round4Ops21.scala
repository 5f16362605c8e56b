package graft.queries

import graft.Tables

/** Round-4 batch 21: the TPC-H Q8 market-share join shape, referential-
  * integrity auditing, calendar-interval arithmetic, Zipf rank-frequency
  * analysis, and deterministic random projection (JL dimension
  * reduction) over the embedding corpus.
  */
object Round4Ops21 {

  /** TPC-H Q8 shape: 8-table market-share query — the deepest join tree
    * in the suite (part→lineitem→orders→customer→nation→region plus the
    * second nation leg through supplier). Every dimension leg is
    * broadcast-sized; only the lineitem⋈orders spine shuffles. Share
    * arithmetic stays DECIMAL until the final division.
    */
  val tpch_q8_shape = OpQuery(
    "tpch_q8_shape",
    """WITH vol AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |         CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
      |         n2.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01')
      |SELECT o_year,
      |       CAST(ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
      |                  / CAST(SUM(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share,
      |       CAST(SUM(volume) AS DOUBLE) AS total_volume
      |FROM vol
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin) { (spark, dir) =>
    Seq("lineitem", "part", "orders", "customer", "nation", "region", "supplier")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(s"graft_q8_$t"))
    spark.sql(
      """WITH vol AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
        |         n2.n_name AS supp_nation
        |  FROM graft_q8_lineitem
        |  JOIN graft_q8_part ON l_partkey = p_partkey
        |  JOIN graft_q8_orders ON l_orderkey = o_orderkey
        |  JOIN graft_q8_customer ON o_custkey = c_custkey
        |  JOIN graft_q8_nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN graft_q8_region ON n1.n_regionkey = r_regionkey
        |  JOIN graft_q8_supplier ON l_suppkey = s_suppkey
        |  JOIN graft_q8_nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |       CAST(ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
        |                  / CAST(SUM(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share,
        |       CAST(SUM(volume) AS DOUBLE) AS total_volume
        |FROM vol
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin)
  }

  /** Referential-integrity audit: orphan children and childless parents
    * for the three fact↔dim relationships — the migration smoke test
    * every warehouse runs. Each relationship is one anti-join pair on
    * the join key (shuffle or broadcast as sizes dictate); counts are
    * exact.
    */
  val dq_fk_integrity = OpQuery(
    "dq_fk_integrity",
    """SELECT 'lineitem->orders' AS rel,
      |       CAST((SELECT COUNT(*) FROM lineitem l
      |             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS orphan_children,
      |       CAST((SELECT COUNT(*) FROM orders o
      |             WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT) AS childless_parents
      |UNION ALL
      |SELECT 'orders->customer' AS rel,
      |       CAST((SELECT COUNT(*) FROM orders o
      |             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
      |       CAST((SELECT COUNT(*) FROM customer c
      |             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
      |UNION ALL
      |SELECT 'lineitem->part' AS rel,
      |       CAST((SELECT COUNT(*) FROM lineitem l
      |             WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
      |       CAST((SELECT COUNT(*) FROM part p
      |             WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)) AS BIGINT)
      |ORDER BY rel""".stripMargin) { (spark, dir) =>
    Seq("lineitem", "orders", "customer", "part")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(s"graft_fk_$t"))
    spark.sql(
      """SELECT 'lineitem->orders' AS rel,
        |       CAST((SELECT COUNT(*) FROM graft_fk_lineitem l
        |             WHERE NOT EXISTS (SELECT 1 FROM graft_fk_orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS orphan_children,
        |       CAST((SELECT COUNT(*) FROM graft_fk_orders o
        |             WHERE NOT EXISTS (SELECT 1 FROM graft_fk_lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT) AS childless_parents
        |UNION ALL
        |SELECT 'orders->customer' AS rel,
        |       CAST((SELECT COUNT(*) FROM graft_fk_orders o
        |             WHERE NOT EXISTS (SELECT 1 FROM graft_fk_customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |       CAST((SELECT COUNT(*) FROM graft_fk_customer c
        |             WHERE NOT EXISTS (SELECT 1 FROM graft_fk_orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem->part' AS rel,
        |       CAST((SELECT COUNT(*) FROM graft_fk_lineitem l
        |             WHERE NOT EXISTS (SELECT 1 FROM graft_fk_part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
        |       CAST((SELECT COUNT(*) FROM graft_fk_part p
        |             WHERE NOT EXISTS (SELECT 1 FROM graft_fk_lineitem l WHERE l.l_partkey = p.p_partkey)) AS BIGINT)
        |ORDER BY rel""".stripMargin)
  }

  /** Calendar-interval arithmetic long tail: add_months with end-of-
    * month clamping, last_day, quarter truncation, integer month diff.
    * All dates render as strings (engines disagree on temporal parquet
    * physical types, never on the formatted values).
    */
  val f_interval_arith = OpQuery(
    "f_interval_arith",
    """SELECT o_orderkey,
      |       strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m,
      |       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      |       strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
      |       CAST((2030 - year(o_orderdate)) * 12 - month(o_orderdate) + 6 AS BIGINT) AS months_to_horizon
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ia_orders")
    spark.sql(
      """SELECT o_orderkey,
        |       date_format(add_months(o_orderdate, 3), 'yyyy-MM-dd') AS plus_3m,
        |       date_format(last_day(CAST(o_orderdate AS DATE)), 'yyyy-MM-dd') AS month_end,
        |       date_format(date_trunc('quarter', o_orderdate), 'yyyy-MM-dd') AS quarter_start,
        |       CAST((2030 - year(o_orderdate)) * 12 - month(o_orderdate) + 6 AS BIGINT) AS months_to_horizon
        |FROM graft_ia_orders
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Zipf rank-frequency analysis: the corpus's top-30 terms with their
    * ranks plus the log-log regression slope over the top-100 (a healthy
    * natural-language corpus slopes ≈ −1; synthetic or boilerplate text
    * does not). Term counting is one explode + uniform-key aggregate;
    * the regression runs over 100 rows. Slope rounds to 3 decimals —
    * the two engines' covariance accumulation orders differ at ~1e-13.
    */
  val text_zipf = OpQuery.sql("text_zipf", "documents")(
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
      |freqs AS (
      |  SELECT term, COUNT(*) AS freq FROM toks WHERE term <> '' GROUP BY term),
      |ranked AS (
      |  SELECT term, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
      |  FROM freqs),
      |top100 AS (SELECT * FROM ranked WHERE rank <= 100),
      |slope AS (
      |  SELECT regr_slope(ln(freq), ln(rank)) AS k FROM top100)
      |SELECT rank, term, CAST(freq AS BIGINT) AS freq,
      |       CAST(ROUND((SELECT k FROM slope), 3) AS DOUBLE) AS zipf_slope
      |FROM top100 WHERE rank <= 30
      |ORDER BY rank""".stripMargin,
    "unnest(regexp_split_to_array(" -> "explode(split(",
    """'\s+'""" -> """'\\s+'""")

  /** Johnson-Lindenstrauss random projection 64→8 dims with a
    * deterministic ±1 sign matrix derived from md5(i_j) — reproducible
    * across engines, partitionings, and runs (no RNG state to ship).
    * Coordinates are fixed-point-quantized (micro units, truncated) so
    * the per-(vec_id, j) reduction is exact BIGINT arithmetic — order-
    * independent under any shuffle. One explode + one aggregate, both
    * on uniform keys.
    */
  val emb_random_projection = OpQuery(
    "emb_random_projection",
    """WITH e AS (
      |  SELECT vec_id, unnest(embedding) AS v,
      |         unnest(generate_series(0, len(embedding) - 1)) AS i
      |  FROM embeddings),
      |proj AS (
      |  SELECT vec_id, j,
      |         SUM(CAST(TRUNC(CAST(v AS DOUBLE) * 1000000) AS BIGINT) *
      |             CASE WHEN substring(md5(concat(CAST(i AS VARCHAR), '_', CAST(j AS VARCHAR))), 1, 1)
      |                       IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END) AS p
      |  FROM e, unnest(generate_series(0, 7)) AS t(j)
      |  GROUP BY vec_id, j)
      |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(j AS INT) AS j,
      |       CAST(p AS BIGINT) AS projected_micro
      |FROM proj
      |ORDER BY vec_id, j""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_rp_emb")
    spark.sql(
      """WITH e AS (
        |  SELECT vec_id, posexplode(embedding) AS (i, v) FROM graft_rp_emb),
        |proj AS (
        |  SELECT vec_id, j,
        |         SUM(CAST(CAST(v AS DOUBLE) * 1000000 AS BIGINT) *
        |             CASE WHEN substring(md5(concat(CAST(i AS STRING), '_', CAST(j AS STRING))), 1, 1)
        |                       IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END) AS p
        |  FROM e LATERAL VIEW explode(sequence(0, 7)) t AS j
        |  GROUP BY vec_id, j)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(j AS INT) AS j,
        |       CAST(p AS BIGINT) AS projected_micro
        |FROM proj
        |ORDER BY vec_id, j""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(
    tpch_q8_shape, dq_fk_integrity, f_interval_arith, text_zipf,
    emb_random_projection)
}
