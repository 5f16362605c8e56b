package graft.queries

/** Round-4 batch 52: duplicate-cluster keeper policy and chi-square
  * independence testing.
  */
object Round4Ops52 {

  /** Keeper policy over duplicate clusters: for each exact-duplicate
    * group, keep the SHORTEST text then lowest id (the typical "least
    * decorated copy" crawl policy) and list the evicted ids — the
    * decision step between detection and deletion. One fingerprint
    * shuffle; the policy is an ordered aggregate inside each
    * duplicate-sized group.
    */
  val dedup_representatives = OpQuery.sql("dedup_representatives", "documents")(
    """WITH fp AS (
      |  SELECT doc_id, n_chars, md5(substr(text, 1, 64)) AS f
      |  FROM documents),
      |clusters AS (
      |  SELECT f, COUNT(*) AS n FROM fp GROUP BY f HAVING COUNT(*) > 1),
      |ranked AS (
      |  SELECT fp.f, fp.doc_id, fp.n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY fp.f ORDER BY fp.n_chars, fp.doc_id) AS rn
      |  FROM fp JOIN clusters c ON fp.f = c.f)
      |SELECT f AS fingerprint,
      |       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keeper,
      |       string_agg(CASE WHEN rn > 1 THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY doc_id) AS evicted
      |FROM ranked
      |GROUP BY f
      |ORDER BY fingerprint""".stripMargin,
    "substr(" -> "substring(",
    "VARCHAR" -> "STRING",
    "string_agg(" -> "listagg(",
    "',' ORDER BY doc_id)" -> "',') WITHIN GROUP (ORDER BY doc_id)")

  /** Chi-square test of independence (event type × weekday): expected
    * counts from the margins, the statistic as one shared float
    * expression over exact integers — "is activity mix a function of
    * weekday" answered in one pass plus a margins broadcast.
    */
  val a41_chi2 = OpQuery.sql("a41_chi2", "events")(
    """WITH obs AS (
      |  SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow, COUNT(*) AS o
      |  FROM events GROUP BY event_type, dayofweek(CAST(ts AS DATE))),
      |rowm AS (SELECT event_type, SUM(o) AS rt FROM obs GROUP BY event_type),
      |colm AS (SELECT dow, SUM(o) AS ct FROM obs GROUP BY dow),
      |tot AS (SELECT SUM(o) AS t FROM obs),
      |cells AS (
      |  SELECT obs.event_type, obs.dow, obs.o,
      |         CAST(rowm.rt AS DOUBLE) * colm.ct / tot.t AS e
      |  FROM obs JOIN rowm ON obs.event_type = rowm.event_type
      |           JOIN colm ON obs.dow = colm.dow
      |  CROSS JOIN tot)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      |       CAST(ROUND(SUM((o - e) * (o - e) / e), 4) AS DOUBLE) AS chi2
      |FROM cells""".stripMargin,
    "dayofweek(CAST(ts AS DATE))" -> "dayofweek(CAST(ts AS DATE)) - 1")

  val all: Seq[OpQuery] = Seq(dedup_representatives, a41_chi2)
}
