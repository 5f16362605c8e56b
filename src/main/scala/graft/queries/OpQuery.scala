package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** One operator from SURVEY.md §2, expressed as a Spark DataFrame build
  * plus (when SQL-expressible) an equivalent ANSI SQL oracle that DuckDB
  * runs over the same parquet tables.
  *
  * Determinism contract (driver hashes values after sorting columns by
  * name): every query output is totally ordered by an explicit orderBy,
  * every computed column is aliased identically on both sides, and
  * floating aggregates pass through DECIMAL(18,2) so sums are exact and
  * order-independent in both engines.
  */
final case class OpQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object OpQuery {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): OpQuery =
    OpQuery(name, build, Some(oracle))

  def noOracle(name: String)(
      build: (SparkSession, String) => DataFrame): OpQuery =
    OpQuery(name, build, None)

  /** A gate whose Spark body IS its oracle text: the SQL lives once.
    * `tables` are registered as temp views under their canonical names
    * (so the oracle's `FROM orders` resolves), and each `edits` pair is a
    * literal DuckDB → Spark substitution (`"epoch(" -> "unix_timestamp("`),
    * applied in order to every occurrence. An edit whose pattern is not
    * in the text fails at definition, so a stale edit cannot silently do
    * nothing. The views exist only while `spark.sql` analyses the query
    * (analysis is eager, so the returned frame no longer needs them).
    */
  def sql(name: String, tables: String*)(
      oracle: String, edits: (String, String)*): OpQuery = {
    val sparkSql = edits.foldLeft(oracle) { case (q, (from, to)) =>
      require(q.contains(from),
        s"$name: dialect edit '$from' does not occur in the oracle text")
      q.replace(from, to)
    }
    OpQuery(name, (spark, dir) => viewLock.synchronized {
      tables.foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
      try spark.sql(sparkSql)
      finally tables.foreach(spark.catalog.dropTempView)
    }, Some(oracle))
  }

  /** Views are session-global; the lock keeps two gates built at once
    * from seeing (or dropping) each other's tables.
    */
  private object viewLock
}
