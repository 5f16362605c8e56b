package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 81: the generalized mean family, weighted
  * bridge-table revenue attribution, and a gzip JSONL round trip.
  */
object Round4Ops81 {

  /** The mean family per market segment: arithmetic, geometric (via
    * quantized Σln), harmonic (via quantized Σ1/x), and quadratic (RMS,
    * exact integer squares). Each non-exact term is rounded to 12
    * decimals and summed as DECIMAL, so all four means are
    * order-independent — one grouped pass produces the whole family.
    */
  val a56_mean_family = OpQuery.sql("a56_mean_family", "customer")(
    """WITH base AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM customer WHERE c_acctbal > 0),
      |m AS (
      |  SELECT seg, COUNT(*) AS n,
      |         SUM(c) AS s,
      |         SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS sq,
      |         SUM(CAST(ROUND(ln(CAST(c AS DOUBLE) / 100), 12) AS DECIMAL(28,12)))
      |           AS sln,
      |         SUM(CAST(ROUND(100.0 / c, 12) AS DECIMAL(28,12))) AS sinv
      |  FROM base GROUP BY seg)
      |SELECT seg, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(CAST(s AS DOUBLE) / n / 100, 4) AS DOUBLE) AS mean_arith,
      |       CAST(ROUND(exp(CAST(sln AS DOUBLE) / n), 4) AS DOUBLE) AS mean_geo,
      |       CAST(ROUND(n / CAST(sinv AS DOUBLE), 4) AS DOUBLE) AS mean_harm,
      |       CAST(ROUND(sqrt(CAST(sq AS DOUBLE) / n) / 100, 4) AS DOUBLE) AS mean_rms
      |FROM m
      |ORDER BY seg""".stripMargin)

  /** Bridge-table attribution: order revenue allocated to suppliers
    * pro-rata by line quantity — the many-to-many dimensional-modeling
    * pattern where a fact meets a group through a weighted bridge.
    * Weights are FLOOR(cents·qty/total_qty) in pure integers; the
    * final per-supplier rollup is an exact BIGINT sum, so the
    * attribution is reconciliation-stable (allocations never exceed
    * the order total).
    */
  val j26_bridge_allocation = OpQuery(
    "j26_bridge_allocation",
    """WITH lines AS (
      |  SELECT l_orderkey, l_suppkey,
      |         CAST(ROUND(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem),
      |totals AS (
      |  SELECT l_orderkey, SUM(qty) AS tq FROM lines GROUP BY l_orderkey),
      |ordv AS (
      |  SELECT o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |alloc AS (
      |  SELECT l.l_suppkey,
      |         CAST(FLOOR(o.cents * l.qty / t.tq) AS BIGINT) AS a
      |  FROM lines l
      |  JOIN totals t ON l.l_orderkey = t.l_orderkey
      |  JOIN ordv o ON l.l_orderkey = o.o_orderkey)
      |SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |       CAST(SUM(a) AS BIGINT) AS attributed_cents
      |FROM alloc
      |GROUP BY l_suppkey
      |ORDER BY l_suppkey""".stripMargin) { (spark, dir) =>
    val lines = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_quantity")).cast("long").as("qty"))
    val totals = lines.groupBy("l_orderkey").agg(sum(col("qty")).as("tq"))
    val ordv = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    lines.join(totals, "l_orderkey")
      .join(ordv, lines("l_orderkey") === ordv("o_orderkey"))
      .select(col("l_suppkey"),
        floor(col("cents") * col("qty") / col("tq")).cast("long").as("a"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).cast("long").as("n_lines"),
        sum(col("a")).cast("long").as("attributed_cents"))
      .orderBy("l_suppkey")
  }

  /** Gzip JSONL round trip: records written as gzip-compressed JSON
    * lines and read back with an explicit schema — compressed text
    * ingestion, the most common landing format after parquet. The
    * oracle recomputes expected rows from parquet; a hash match proves
    * compression + JSON encoding round-trips exactly (including unicode
    * in document text).
    */
  val s39_jsonl_gzip_roundtrip = OpQuery(
    "s39_jsonl_gzip_roundtrip",
    """WITH first250 AS (
      |  SELECT doc_id, lang, substr(text, 1, 60) AS snippet
      |  FROM documents ORDER BY doc_id LIMIT 250)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, snippet
      |FROM first250
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val outPath = s"/tmp/graft_jsonl_gz_${math.abs(dir.hashCode)}"
    Tables.load(spark, dir, "documents")
      .orderBy(col("doc_id"))
      .limit(250)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 60).as("snippet"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("compression", "gzip")
      .json(outPath)
    spark.read
      .schema("doc_id LONG, lang STRING, snippet STRING")
      .json(outPath)
      .orderBy("doc_id")
  }

  val all: Seq[OpQuery] = Seq(a56_mean_family, j26_bridge_allocation, s39_jsonl_gzip_roundtrip)
}
