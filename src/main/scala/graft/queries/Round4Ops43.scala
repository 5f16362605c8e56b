package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.VectorExprs

/** Round-4 batch 43: kNN-graph construction, OFFSET pagination, and
  * SQL scripting.
  */
object Round4Ops43 {

  /** kNN graph: every vector's top-3 cosine neighbors — the input
    * structure of graph-based semantic dedup and ANN index builds.
    * Exact all-pairs at gate scale (the documented ground-truth mode;
    * the IVF/LSH paths are the corpus-scale builders); scoring is the
    * codegen'd vec_dot, ranking per-vector partitions.
    */
  val sim_knn_graph = OpQuery(
    "sim_knn_graph",
    """WITH pairs AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |         list_dot_product(
      |           list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
      |           list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
      |         / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
      |                                  list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
      |            * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
      |                                    list_transform(b.embedding, x -> CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 100),
      |ranked AS (
      |  SELECT src, dst, cos,
      |         ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
      |  FROM pairs)
      |SELECT CAST(src AS BIGINT) AS src, CAST(rk AS INT) AS rk,
      |       CAST(dst AS BIGINT) AS dst,
      |       CAST(ROUND(cos, 5) AS DOUBLE) AS cos
      |FROM ranked WHERE rk <= 3
      |ORDER BY src, rk""".stripMargin) { (spark, dir) =>
    VectorExprs.register(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("src"), col("embedding").as("qe"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        VectorExprs.vecCosine(col("qe"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("src").cast("long").as("src"), col("rk").cast("int").as("rk"),
        col("dst").cast("long").as("dst"),
        round(col("cos"), 5).cast("double").as("cos"))
      .orderBy("src", "rk")
  }

  /** OFFSET pagination: LIMIT/OFFSET over a total order — the naive
    * pagination the keyset gate exists to replace; both must exist for
    * API parity, and OFFSET pushdown (GlobalLimit with skip) is its own
    * plan shape.
    */
  val o6_offset_fetch = OpQuery.sql("o6_offset_fetch", "orders")(
    """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |ORDER BY o_orderkey
      |LIMIT 15 OFFSET 30""".stripMargin)

  /** SQL scripting (Spark 4): BEGIN/DECLARE/SET/IF control flow whose
    * final statement yields the result — procedural orchestration
    * without leaving SQL. The oracle states the resolved query.
    */
  val p17_sql_scripting = OpQuery(
    "p17_sql_scripting",
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders
      |WHERE o_totalprice > 250000
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_script_orders")
    spark.sql(
      """BEGIN
        |  DECLARE threshold DOUBLE DEFAULT 100000;
        |  IF 1 = 1 THEN
        |    SET threshold = 250000;
        |  END IF;
        |  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM graft_script_orders
        |  WHERE o_totalprice > threshold
        |  GROUP BY o_orderstatus
        |  ORDER BY o_orderstatus;
        |END""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(sim_knn_graph, o6_offset_fetch, p17_sql_scripting)
}
