package graft.queries

/** Round-4 batch 57: term burstiness and degree assortativity — the
  * statistical fingerprints of text and graph structure.
  */
object Round4Ops57 {

  /** Term burstiness: variance-to-mean ratio of per-document counts for
    * the corpus's frequent terms — bursty terms (VMR ≫ 1) are topical,
    * uniform terms are function words; the signal TF-IDF approximates.
    * Exact integer moments per term over the (doc × term) counts.
    */
  val text_burstiness = OpQuery.sql("text_burstiness", "documents")(
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |per_doc AS (
      |  SELECT doc_id, w, COUNT(*) AS c FROM toks WHERE w <> '' GROUP BY doc_id, w),
      |n_docs AS (SELECT COUNT(*) AS nd FROM documents),
      |m AS (
      |  SELECT w, SUM(c) AS s1, SUM(c * c) AS s2, COUNT(*) AS present
      |  FROM per_doc GROUP BY w HAVING SUM(c) >= 500)
      |SELECT w AS term, CAST(s1 AS BIGINT) AS occurrences,
      |       CAST(present AS BIGINT) AS docs_present,
      |       CAST(ROUND((CAST(s2 AS DOUBLE) / nd - (CAST(s1 AS DOUBLE) / nd) * (CAST(s1 AS DOUBLE) / nd))
      |                  / (CAST(s1 AS DOUBLE) / nd), 4) AS DOUBLE) AS burstiness_vmr
      |FROM m, n_docs
      |ORDER BY term""".stripMargin,
    "unnest(regexp_split_to_array(" -> "explode(split(",
    """'\s+'""" -> """'\\s+'""")

  /** Degree assortativity of the co-supply graph: Pearson correlation
    * of endpoint degrees across edges — do high-degree suppliers
    * connect to each other (assortative) or to the periphery
    * (disassortative)? Exact integer cross-moments over the edge list,
    * same recipe as a33_corr; edges reuse the bounded-construction construction
    * from graph_triangles.
    */
  val graph_degree_assortativity = OpQuery.sql("graph_degree_assortativity", "lineitem")(
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
      |deg AS (
      |  SELECT node, COUNT(*) AS d FROM (
      |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      |  GROUP BY node),
      |pairs AS (
      |  SELECT du.d AS x, dv.d AS y
      |  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM pairs)
      |SELECT CAST(n AS BIGINT) AS n_edges,
      |       CAST(ROUND((n * sxy - sx * sy) /
      |            (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |             sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS DOUBLE) AS assortativity
      |FROM m""".stripMargin,
    "SELECT v FROM edges" -> "SELECT v AS node FROM edges")

  val all: Seq[OpQuery] = Seq(text_burstiness, graph_degree_assortativity)
}
