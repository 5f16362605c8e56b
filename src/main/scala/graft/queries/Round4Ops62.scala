package graft.queries

/** Round-4 batch 62: log-scale histograms without logarithms, and
  * empty-relation aggregate semantics.
  */
object Round4Ops62 {

  /** Log2 histogram via binary-representation length — floor(log2(x))+1
    * computed EXACTLY (length of bin(x)), dodging the libm boundary
    * problem where log2(2^k) can come back as k−ε and floor to the
    * wrong bucket on one engine but not the other.
    */
  val a45_log2_histogram = OpQuery.sql("a45_log2_histogram", "orders")(
    """WITH v AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
      |  WHERE o_totalprice > 0)
      |SELECT CAST(length(bin(cents)) AS INT) AS log2_bucket,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(MIN(cents) AS BIGINT) AS min_cents,
      |       CAST(MAX(cents) AS BIGINT) AS max_cents
      |FROM v
      |GROUP BY length(bin(cents))
      |ORDER BY log2_bucket""".stripMargin)

  /** Empty-relation semantics: a GLOBAL aggregate over zero rows yields
    * ONE row (count 0, null sum); a GROUPED aggregate yields ZERO rows;
    * a join against empty yields zero — the trio of edge contracts
    * incremental pipelines trip over on their first empty batch.
    */
  val p24_empty_semantics = OpQuery.sql("p24_empty_semantics", "orders")(
    """WITH empty AS (SELECT * FROM orders WHERE 1 = 0),
      |g AS (SELECT COUNT(*) AS c, SUM(o_totalprice) AS s FROM empty),
      |grp AS (SELECT o_orderstatus, COUNT(*) AS c FROM empty GROUP BY o_orderstatus),
      |j AS (SELECT o.o_orderkey FROM orders o JOIN empty e ON o.o_orderkey = e.o_orderkey)
      |SELECT (SELECT c FROM g) AS global_count,
      |       CAST((SELECT s FROM g) IS NULL AS BOOLEAN) AS global_sum_null,
      |       CAST((SELECT COUNT(*) FROM grp) AS BIGINT) AS grouped_rows,
      |       CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS join_rows""".stripMargin)

  val all: Seq[OpQuery] = Seq(a45_log2_histogram, p24_empty_semantics)
}
