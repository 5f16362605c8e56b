package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 116: exponential-smoothing forecast, the
  * Cochran–Armitage trend test, and int8 embedding quantization.
  */
object Round4Ops116 {

  /** Simple exponential smoothing (α = 0.2) as a CLOSED FORM instead of
    * a recursion: ŷ = αΣ(1−α)^(n−1−i)·yᵢ + (1−α)^(n−1)·y₀, so the whole
    * forecast is one weighted aggregate over the indexed series — no
    * sequential dependency, fully parallel. Weights are POW doubles on
    * integer exponents (identical on both engines); terms are quantized
    * before the DECIMAL fold. The last 60 days only, keeping (1−α)^k
    * above double underflow.
    */
  val ts_ses = OpQuery.sql("ts_ses", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT 61 - rev AS t, y FROM (
      |    SELECT CAST(y AS DOUBLE) AS y,
      |           ROW_NUMBER() OVER (ORDER BY d DESC) AS rev
      |    FROM daily) q
      |  WHERE rev <= 60),
      |f AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(
      |           0.2 * POW(0.8, 60 - t) * y, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |           AS smooth_part,
      |         MAX(CASE WHEN t = 1 THEN POW(0.8, 59) * y END) AS base_part
      |  FROM idx)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(ROUND(smooth_part + base_part, 4) AS DOUBLE) AS ses_forecast
      |FROM f""".stripMargin)

  /** Cochran–Armitage trend test: does the share of high-value orders
    * rise monotonically across the five ordered priorities? Scores
    * 1..5, outcome = totalprice above the global (exact order-statistic)
    * median. Everything reduces to integer sums — the statistic's
    * numerator and variance are exact until the final division.
    */
  val a92_cochran_armitage = OpQuery(
    "a92_cochran_armitage",
    """WITH med AS (
      |  SELECT x AS m FROM (
      |    SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
      |           ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS r,
      |           COUNT(*) OVER () AS n
      |    FROM orders) q
      |  WHERE r * 2 = n OR r * 2 = n + 1),
      |g AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS s,
      |         CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) > med.m
      |           THEN 1 ELSE 0 END AS hi
      |  FROM orders CROSS JOIN med),
      |gs AS (
      |  SELECT s, COUNT(*) AS n, SUM(hi) AS k FROM g GROUP BY s),
      |t AS (
      |  SELECT SUM(n) AS nn, SUM(k) AS kk,
      |         SUM(s * k) AS sk, SUM(s * n) AS sn,
      |         SUM(s * s * n) AS ssn
      |  FROM gs),
      |st AS (
      |  SELECT nn, kk,
      |         CAST(sk AS DOUBLE) - CAST(kk AS DOUBLE) * sn / nn AS num,
      |         CAST(kk AS DOUBLE) / nn * (1 - CAST(kk AS DOUBLE) / nn)
      |           * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nn) AS varz
      |  FROM t)
      |SELECT CAST(nn AS BIGINT) AS n, CAST(kk AS BIGINT) AS n_high,
      |       CAST(ROUND(num, 4) AS DOUBLE) AS trend_num,
      |       CAST(ROUND(SQRT(varz), 4) AS DOUBLE) AS trend_sd,
      |       CAST(ROUND(num / SQRT(varz), 6) AS DOUBLE) AS z
      |FROM st""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ca_orders")
    // exact median via TotalOrder (two-phase range ranks) — the window
    // form funneled every raw order row through one reducer. The value
    // at the middle RANK is the same under any tie permutation, so the
    // window-based oracle still hash-matches.
    graft.operators.TotalOrder
      .rowNumberWithCount(
        spark.sql("""SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x, o_orderkey
                    |FROM graft_ca_orders""".stripMargin),
        Seq(col("x"), col("o_orderkey")), "r", "n")
      .filter(col("r") * 2 === col("n") || col("r") * 2 === col("n") + 1)
      .select(col("x").as("m"))
      .localCheckpoint(true)
      .createOrReplaceTempView("graft_ca_med")
    spark.sql(
      """WITH med AS (SELECT m FROM graft_ca_med),
        |g AS (
        |  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS s,
        |         CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) > med.m
        |           THEN 1 ELSE 0 END AS hi
        |  FROM graft_ca_orders CROSS JOIN med),
        |gs AS (
        |  SELECT s, COUNT(*) AS n, SUM(hi) AS k FROM g GROUP BY s),
        |t AS (
        |  SELECT SUM(n) AS nn, SUM(k) AS kk,
        |         SUM(s * k) AS sk, SUM(s * n) AS sn,
        |         SUM(s * s * n) AS ssn
        |  FROM gs),
        |st AS (
        |  SELECT nn, kk,
        |         CAST(sk AS DOUBLE) - CAST(kk AS DOUBLE) * sn / nn AS num,
        |         CAST(kk AS DOUBLE) / nn * (1 - CAST(kk AS DOUBLE) / nn)
        |           * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nn) AS varz
        |  FROM t)
        |SELECT CAST(nn AS BIGINT) AS n, CAST(kk AS BIGINT) AS n_high,
        |       CAST(ROUND(num, 4) AS DOUBLE) AS trend_num,
        |       CAST(ROUND(SQRT(varz), 4) AS DOUBLE) AS trend_sd,
        |       CAST(ROUND(num / SQRT(varz), 6) AS DOUBLE) AS z
        |FROM st""".stripMargin)
  }

  /** Symmetric int8 quantization of embeddings: per-vector max-abs
    * scale, q = round(x·127/scale) clamped to ±127, reconstruction
    * error measured per label group. The quantized values are exact
    * integers (float→double cast is value-preserving and ROUND on the
    * scaled double is pinned by the 6-decimal pre-round), so the
    * error aggregate is engine-stable. This is the compression step a
    * vector store applies before ANN serving — here as one lambda
    * pipeline over the embedding column.
    */
  val emb_quantize = OpQuery(
    "emb_quantize",
    """WITH base AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |sc AS (
      |  SELECT vec_id, label, e,
      |         list_max(list_transform(e, x -> ABS(x))) AS scale
      |  FROM base),
      |q AS (
      |  SELECT vec_id, label, e, scale,
      |         list_transform(e,
      |           x -> CAST(ROUND(ROUND(x / scale, 6) * 127, 0) AS INT)) AS qv
      |  FROM sc WHERE scale > 0),
      |err AS (
      |  SELECT label, vec_id, scale,
      |         list_sum(list_transform(
      |           list_zip(e, qv),
      |           p -> ABS(p[1] - p[2] * scale / 127))) AS abs_err,
      |         len(e) AS dim
      |  FROM q)
      |SELECT CAST(label AS INT) AS label, COUNT(*) AS n_vectors,
      |       CAST(ROUND(CAST(SUM(CAST(ROUND(abs_err / dim, 8)
      |         AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
      |         AS mean_abs_err,
      |       CAST(ROUND(MAX(abs_err / dim), 6) AS DOUBLE) AS max_mean_err
      |FROM err GROUP BY label
      |ORDER BY label""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_q_emb")
    spark.sql(
      """WITH base AS (
        |  SELECT vec_id, label,
        |         transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM graft_q_emb),
        |sc AS (
        |  SELECT vec_id, label, e,
        |         array_max(transform(e, x -> ABS(x))) AS scale
        |  FROM base),
        |q AS (
        |  SELECT vec_id, label, e, scale,
        |         transform(e,
        |           x -> CAST(ROUND(ROUND(x / scale, 6) * 127, 0) AS INT)) AS qv
        |  FROM sc WHERE scale > 0),
        |err AS (
        |  SELECT label, vec_id, scale,
        |         aggregate(zip_with(e, qv, (a, b) -> ABS(a - b * scale / 127)),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS abs_err,
        |         size(e) AS dim
        |  FROM q)
        |SELECT CAST(label AS INT) AS label, COUNT(*) AS n_vectors,
        |       CAST(ROUND(CAST(SUM(CAST(ROUND(abs_err / dim, 8)
        |         AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
        |         AS mean_abs_err,
        |       CAST(ROUND(MAX(abs_err / dim), 6) AS DOUBLE) AS max_mean_err
        |FROM err GROUP BY label
        |ORDER BY label""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(ts_ses, a92_cochran_armitage, emb_quantize)
}
