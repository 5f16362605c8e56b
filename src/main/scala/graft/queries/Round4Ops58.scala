package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.VectorExprs

/** Round-4 batch 58: two-stage rerank retrieval, cross-source
  * syndication detection, and the Gini coefficient.
  */
object Round4Ops58 {

  /** Two-stage retrieval: stage 1 recalls top-50 by int8-QUANTIZED dot
    * (4× less memory traffic — the production recall stage), stage 2
    * rescores those 50 exactly and keeps top-10. The oracle is the
    * EXACT top-10 — a hash match proves the quantized recall stage
    * loses nothing at this margin, which is the whole two-stage bet.
    */
  val sim_rerank_two_stage = OpQuery(
    "sim_rerank_two_stage",
    """WITH q AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      |  FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.qid, e.vec_id,
      |         list_dot_product(q.qe, list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS dot
      |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, vec_id, dot,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS INT) AS rk,
      |       CAST(vec_id AS BIGINT) AS vec_id,
      |       CAST(ROUND(dot, 5) AS DOUBLE) AS dot
      |FROM ranked WHERE rk <= 10
      |ORDER BY qid, rk""".stripMargin) { (spark, dir) =>
    VectorExprs.register(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding"),
      VectorExprs.vecQ8(col("embedding")).as("q8"))
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("q8").as("qq8"))
    val stage1 = corpus.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("embedding"), col("qe"),
        VectorExprs.vecDotQ8(col("q8"), col("qq8")).as("adot"))
    val w1 = Window.partitionBy(col("qid")).orderBy(col("adot").desc, col("vec_id"))
    val recalled = stage1.withColumn("rk1", row_number().over(w1)).filter(col("rk1") <= 50)
    val w2 = Window.partitionBy(col("qid"))
      .orderBy(VectorExprs.vecDot(col("embedding"), col("qe")).desc, col("vec_id"))
    recalled
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= 10)
      .select(col("qid").cast("long").as("qid"), col("rk").cast("int").as("rk"),
        col("vec_id").cast("long").as("vec_id"),
        round(VectorExprs.vecDot(col("embedding"), col("qe")), 5)
          .cast("double").as("dot"))
      .orderBy("qid", "rk")
  }

  /** Syndication detection: fingerprint clusters spanning MULTIPLE
    * sources, rolled up to (source_a, source_b) pair counts — which
    * feeds republish each other. Fingerprint shuffle + a self-join
    * inside duplicate-sized groups only.
    */
  val dedup_syndication = OpQuery.sql("dedup_syndication", "documents")(
    """WITH fp AS (
      |  SELECT doc_id, source, md5(substr(text, 1, 64)) AS f FROM documents),
      |pairs AS (
      |  SELECT DISTINCT a.f, a.source AS src_a, b.source AS src_b
      |  FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source)
      |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
      |FROM pairs
      |GROUP BY src_a, src_b
      |ORDER BY src_a, src_b""".stripMargin,
    "substr(" -> "substring(")

  /** Gini coefficient of customer spend — the inequality measure behind
    * "N% of revenue from the top M%": Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) over the
    * rank-ordered spend, exact integers until the single division.
    */
  val a43_gini = OpQuery(
    "a43_gini",
    """WITH spend AS (
      |  SELECT o_custkey, CAST(ROUND(SUM(o_totalprice)) AS BIGINT) AS s
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT s, ROW_NUMBER() OVER (ORDER BY s, o_custkey) AS i FROM spend),
      |m AS (SELECT COUNT(*) AS n, SUM(s) AS t,
      |             SUM((2 * i - 1) * s) AS num FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |       CAST(ROUND((CAST(num AS DOUBLE) - (n + 1) * CAST(t AS DOUBLE))
      |                  / (n * CAST(t AS DOUBLE)), 6) AS DOUBLE) AS gini
      |FROM m""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_gini_orders")
    // the Gini rank index via TotalOrder two-phase ranks — the window
    // form single-reduced the whole per-customer spend frame
    import org.apache.spark.sql.functions.col
    graft.operators.TotalOrder
      .rowNumber(
        spark.sql(
          """SELECT o_custkey, CAST(ROUND(SUM(o_totalprice)) AS BIGINT) AS s
            |FROM graft_gini_orders GROUP BY o_custkey""".stripMargin),
        Seq(col("s"), col("o_custkey")), "i")
      .select(col("s"), col("i"))
      .createOrReplaceTempView("graft_gini_ranked")
    spark.sql(
      """WITH ranked AS (SELECT s, i FROM graft_gini_ranked),
        |m AS (SELECT COUNT(*) AS n, SUM(s) AS t,
        |             SUM((2 * i - 1) * s) AS num FROM ranked)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |       CAST(ROUND((CAST(num AS DOUBLE) - (n + 1) * CAST(t AS DOUBLE))
        |                  / (n * CAST(t AS DOUBLE)), 6) AS DOUBLE) AS gini
        |FROM m""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(sim_rerank_two_stage, dedup_syndication, a43_gini)
}
