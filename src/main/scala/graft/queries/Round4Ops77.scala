package graft.queries

import graft.Tables

/** Round-4 batch 77: one label-propagation round, the Hodges–Lehmann
  * robust location estimator, and HTML tag stripping with entity
  * decode.
  */
object Round4Ops77 {

  /** One synchronous label-propagation round over the bounded co-supply graph (200 least-supplied parts × 8 suppliers): every node adopts the most frequent label among
    * its neighbors (ties to the smallest label — pinned), starting from
    * identity labels. This is the community-detection inner loop; one
    * round = one edge-join + one grouped argmax, both plain shuffles
    * that scale linearly in |E|.
    */
  val graph_label_propagation = OpQuery.sql("graph_label_propagation", "lineitem")(
    """WITH eligible AS (
      |  SELECT l_partkey FROM (
      |    SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS ns
      |    FROM lineitem GROUP BY l_partkey) t
      |  ORDER BY ns, l_partkey LIMIT 200),
      |supp AS (
      |  SELECT l_partkey, l_suppkey FROM (
      |    SELECT d.l_partkey, d.l_suppkey,
      |           ROW_NUMBER() OVER (PARTITION BY d.l_partkey
      |             ORDER BY d.l_suppkey) AS rk
      |    FROM (SELECT DISTINCT l.l_partkey, l.l_suppkey
      |          FROM lineitem l JOIN eligible e ON l.l_partkey = e.l_partkey) d) r
      |  WHERE rk <= 8),
      |edges AS (
      |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM supp a JOIN supp b
      |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
      |adj AS (
      |  SELECT u AS node, v AS nb FROM edges
      |  UNION ALL SELECT v, u FROM edges),
      |votes AS (
      |  SELECT node, nb AS label, COUNT(*) AS c FROM adj GROUP BY node, nb),
      |picked AS (
      |  SELECT node, label FROM (
      |    SELECT node, label,
      |           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
      |    FROM votes) t
      |  WHERE rk = 1)
      |SELECT node, label AS new_label
      |FROM picked
      |ORDER BY node""".stripMargin,
    "SELECT v, u FROM edges" -> "SELECT v AS node, u AS nb FROM edges")

  /** Hodges–Lehmann pseudo-median of customer balances per nation: the
    * median of all Walsh averages (xᵢ+xⱼ)/2, i ≤ j. Pairwise sums stay
    * in integer cents (the /2 happens once at output), and the median
    * is the pinned lower order statistic. The pair fan-out is
    * per-nation quadratic — the documented ground-truth quarantine, same
    * as the exact-jaccard family; the scale path is the MAD/trimmed
    * estimators already gated.
    */
  val a54_hodges_lehmann = OpQuery.sql("a54_hodges_lehmann", "customer")(
    """WITH vals AS (
      |  SELECT c_nationkey AS nation,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |           ORDER BY c_acctbal, c_custkey) AS i
      |  FROM customer),
      |walsh AS (
      |  SELECT a.nation, a.c + b.c AS s2
      |  FROM vals a JOIN vals b ON a.nation = b.nation AND a.i <= b.i),
      |ranked AS (
      |  SELECT nation, s2,
      |         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY s2) AS r,
      |         COUNT(*) OVER (PARTITION BY nation) AS n
      |  FROM walsh)
      |SELECT nation, CAST(MAX(n) AS BIGINT) AS n_pairs,
      |       CAST(MAX(CASE WHEN r = CAST(FLOOR((n + 1) / 2) AS BIGINT) THEN s2 END) AS DOUBLE)
      |         / 200 AS hl_estimate
      |FROM ranked
      |GROUP BY nation
      |ORDER BY nation""".stripMargin)

  /** HTML stripping for web-corpus cleaning: tags removed with one
    * regex pass, the five standard entities decoded with a replace
    * chain — all row-local, codegen-friendly string work. The input
    * wraps each document preview in markup with entities so the gate
    * exercises nesting, attributes, and decode order (&amp; last, so
    * double-encoded text stays correct).
    */
  val f_html_strip = OpQuery(
    "f_html_strip",
    """WITH pages AS (
      |  SELECT doc_id,
      |         '<div class="doc"><p>' || substr(text, 1, 50) ||
      |         '</p> &amp; <b>more</b> &lt;raw&gt; &quot;q&quot; &#39;s&#39;</div>' AS html
      |  FROM documents WHERE doc_id < 200)
      |SELECT doc_id,
      |       replace(replace(replace(replace(replace(
      |         regexp_replace(html, '<[^>]*>', '', 'g'),
      |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&')
      |         AS clean_text
      |FROM pages
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_html_docs")
    spark.sql(
      """WITH pages AS (
        |  SELECT doc_id,
        |         concat('<div class="doc"><p>', substring(text, 1, 50),
        |           '</p> &amp; <b>more</b> &lt;raw&gt; &quot;q&quot; &#39;s&#39;</div>') AS html
        |  FROM graft_html_docs WHERE doc_id < 200)
        |SELECT doc_id,
        |       replace(replace(replace(replace(replace(
        |         regexp_replace(html, '<[^>]*>', ''),
        |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', "'"), '&amp;', '&')
        |         AS clean_text
        |FROM pages
        |ORDER BY doc_id""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(graph_label_propagation, a54_hodges_lehmann, f_html_strip)
}
