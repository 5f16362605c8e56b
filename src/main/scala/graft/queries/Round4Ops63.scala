package graft.queries

import graft.Tables

/** Round-4 batch 63: JSON array paths and the duplicate-cluster size
  * histogram.
  */
object Round4Ops63 {

  /** JSON array navigation: element paths ($[i]) and array length over
    * constructed JSON arrays — the list-shaped JSON the props-style
    * object gates don't touch. The oracle derives every value from the
    * construction inputs.
    */
  val f_json_array = OpQuery(
    "f_json_array",
    """SELECT doc_id,
      |       CAST(3 AS INT) AS arr_len,
      |       lang AS first_elem,
      |       CAST(doc_id % 100 AS BIGINT) AS second_elem
      |FROM documents
      |WHERE doc_id % 37 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_ja_docs")
    spark.sql(
      """WITH arrs AS (
        |  SELECT doc_id,
        |         concat('["', lang, '", ', CAST(doc_id % 100 AS STRING), ', true]') AS j
        |  FROM graft_ja_docs WHERE doc_id % 37 = 0)
        |SELECT doc_id,
        |       CAST(json_array_length(j) AS INT) AS arr_len,
        |       get_json_object(j, '$[0]') AS first_elem,
        |       CAST(get_json_object(j, '$[1]') AS BIGINT) AS second_elem
        |FROM arrs
        |ORDER BY doc_id""".stripMargin)
  }

  /** Duplicate-cluster size histogram: how many clusters have 2, 3, …
    * members — the shape that decides whether dedup is a long tail of
    * pairs or a few mega-clusters (and therefore which removal strategy
    * to run). Two aggregates, both map-combined.
    */
  val dedup_cluster_sizes = OpQuery.sql("dedup_cluster_sizes", "documents")(
    """WITH fp AS (
      |  SELECT md5(substr(text, 1, 64)) AS f FROM documents),
      |clusters AS (
      |  SELECT f, COUNT(*) AS sz FROM fp GROUP BY f HAVING COUNT(*) > 1)
      |SELECT CAST(sz AS BIGINT) AS cluster_size,
      |       CAST(COUNT(*) AS BIGINT) AS n_clusters
      |FROM clusters
      |GROUP BY sz
      |ORDER BY cluster_size""".stripMargin,
    "substr(" -> "substring(")

  val all: Seq[OpQuery] = Seq(f_json_array, dedup_cluster_sizes)
}
