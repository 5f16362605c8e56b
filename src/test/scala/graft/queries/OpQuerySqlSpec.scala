package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.SparkSpec

/** [[OpQuery.sql]]: a gate that runs its own oracle text in Spark. */
class OpQuerySqlSpec extends SparkSpec {

  /** A tiny table directory in the layout `Tables.load` reads. */
  private lazy val sf: String = {
    val dir = Files.createTempDirectory("opquery-sql").toString
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.parquet(s"$dir/$name.parquet")
    write("region", spark.range(5).select(col("id").as("r_regionkey")))
    write("nation", spark.range(25).select(col("id").as("n_nationkey"),
      (col("id") % 5).as("n_regionkey")))
    write("customer", spark.range(10).select(col("id").as("c_custkey"),
      concat(lit("seg"), col("id") % 3).as("c_mktsegment")))
    write("orders", spark.range(100).select(col("id").as("o_orderkey"),
      (col("id") % 10).as("o_custkey")))
    dir
  }

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("only the listed tables are visible to the query") {
    val listed = OpQuery.sql("t_listed", "nation")(
      "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation")
    assert(listed.build(spark, sf).head().getLong(0) == 25L)
    val unlisted = OpQuery.sql("t_unlisted", "nation")(
      "SELECT COUNT(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey")
    val e = intercept[AnalysisException](unlisted.build(spark, sf))
    assert(e.getMessage.contains("region"), e.getMessage)
  }

  test("no temp view is left in the catalog after build, even on failure") {
    spark.range(1).createOrReplaceTempView("unrelated_view")
    try {
      val before = tempViews
      val df = OpQuery.sql("t_views", "orders", "customer")(
        """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
        .build(spark, sf)
      assert(tempViews == before)
      // analysed before the views were dropped: still runs without them
      assert(df.collect().map(_.getLong(1)).toSeq == Seq(40L, 30L, 30L))
      intercept[AnalysisException](
        OpQuery.sql("t_fail", "orders")("SELECT no_such_col FROM orders")
          .build(spark, sf))
      assert(tempViews == before)
      assert(before.contains("unrelated_view"))
    } finally spark.catalog.dropTempView("unrelated_view")
  }

  test("dialect edits are applied to every occurrence; the oracle is kept") {
    val oracle =
      """SELECT o_orderkey, o_orderkey // 7 AS a, (o_orderkey + 1) // 7 AS b
        |FROM orders ORDER BY o_orderkey LIMIT 20""".stripMargin
    val q = OpQuery.sql("t_edits", "orders")(oracle, "//" -> "DIV")
    assert(q.oracle.contains(oracle))
    q.build(spark, sf).collect().foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(1) == k / 7 && r.getLong(2) == (k + 1) / 7)
    }
    // edits run in order: the second sees the first's output
    val chained = OpQuery.sql("t_chain")(
      "SELECT CAST('x' AS VARCHAR) AS s", "VARCHAR" -> "CHAR(1)", "CHAR(1)" -> "STRING")
    assert(chained.build(spark, sf).head().getString(0) == "x")
  }

  test("an edit whose pattern is not in the oracle text fails at definition") {
    val e = intercept[IllegalArgumentException](
      OpQuery.sql("t_stale", "events")(
        "SELECT CAST(unix_timestamp(ts) AS BIGINT) AS t FROM events",
        "epoch(" -> "unix_timestamp("))
    assert(e.getMessage.contains("t_stale") && e.getMessage.contains("epoch("),
      e.getMessage)
  }
}
