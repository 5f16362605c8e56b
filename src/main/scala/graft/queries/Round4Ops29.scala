package graft.queries

/** Round-4 batch 29: point-in-time joins (feature-store leakage
  * prevention), incremental delta dedup, and weighted medians.
  */
object Round4Ops29 {

  /** Point-in-time join: facts pick the dimension version VALID AT the
    * fact's own timestamp — the feature-store join that keeps training
    * data leakage-free (a 1997 order must see the 1997 snapshot, never
    * a later one). Dimension versions are yearly customer snapshots
    * derived in-query; the join is equi on the customer key with the
    * validity-range residual, so it shuffles once on the uniform key.
    */
  val j19_point_in_time = OpQuery.sql("j19_point_in_time", "customer", "orders")(
    """WITH snapshots AS (
      |  SELECT c_custkey, y.yr AS valid_year,
      |         (CAST(ROUND(c_acctbal * 100) AS BIGINT) * (100 + y.yr - 1995)) // 100 AS bal_cents_at
      |  FROM customer, (SELECT unnest(generate_series(1995, 2001)) AS yr) y),
      |facts AS (
      |  SELECT o_orderkey, o_custkey, year(o_orderdate) AS o_year,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders)
      |SELECT f.o_orderkey,
      |       CAST(s.valid_year AS INT) AS feature_year,
      |       CAST(s.bal_cents_at AS BIGINT) AS bal_feature_cents,
      |       CAST(f.price AS DOUBLE) AS price
      |FROM facts f JOIN snapshots s
      |  ON f.o_custkey = s.c_custkey AND f.o_year = s.valid_year
      |ORDER BY f.o_orderkey""".stripMargin,
    "//" -> "DIV",
    "unnest(generate_series(" -> "explode(sequence(")

  /** Incremental (delta) dedup — the production mode of exact dedup:
    * a new crawl batch dedups AGAINST the already-ingested corpus
    * without rescanning it pairwise. New docs are flagged `vs_base`
    * (fingerprint already ingested) or `within_delta` (duplicate
    * arrived twice in the same batch; first occurrence by doc_id is
    * the keeper). One fingerprint-keyed join + one window over
    * duplicate-sized groups.
    */
  val dedup_delta = OpQuery.sql("dedup_delta", "documents")(
    """WITH base AS (
      |  SELECT doc_id, md5(substr(text, 1, 64)) AS fp FROM documents WHERE doc_id % 5 <> 0),
      |delta AS (
      |  SELECT doc_id, md5(substr(text, 1, 64)) AS fp FROM documents WHERE doc_id % 5 = 0),
      |flagged AS (
      |  SELECT d.doc_id, d.fp,
      |         EXISTS (SELECT 1 FROM base b WHERE b.fp = d.fp) AS dup_vs_base,
      |         ROW_NUMBER() OVER (PARTITION BY d.fp ORDER BY d.doc_id) AS rn
      |  FROM delta d)
      |SELECT doc_id,
      |       CAST(dup_vs_base AS BOOLEAN) AS dup_vs_base,
      |       CAST(rn > 1 AS BOOLEAN) AS dup_within_delta
      |FROM flagged
      |WHERE dup_vs_base OR rn > 1
      |ORDER BY doc_id""".stripMargin)

  /** Weighted median: order value weighted by line quantity, located by
    * the first row whose cumulative weight crosses half the total —
    * exact integer weights, one price-ordered window per group (no
    * sort beyond the window's own), the robust-statistics workhorse
    * plain percentile can't express.
    */
  val a30_weighted_median = OpQuery.sql("a30_weighted_median", "lineitem")(
    """WITH w AS (
      |  SELECT l_returnflag AS grp,
      |         CAST(ROUND(l_extendedprice) AS BIGINT) AS x,
      |         CAST(l_quantity AS BIGINT) AS wt
      |  FROM lineitem),
      |cum AS (
      |  SELECT grp, x, wt,
      |         SUM(wt) OVER (PARTITION BY grp ORDER BY x, wt
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |         SUM(wt) OVER (PARTITION BY grp) AS tw
      |  FROM w),
      |hit AS (
      |  SELECT grp, x, cw, tw,
      |         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cw, x) AS rn
      |  FROM cum WHERE cw * 2 >= tw)
      |SELECT grp, CAST(x AS BIGINT) AS weighted_median,
      |       CAST(tw AS BIGINT) AS total_weight
      |FROM hit WHERE rn = 1
      |ORDER BY grp""".stripMargin)

  val all: Seq[OpQuery] = Seq(j19_point_in_time, dedup_delta, a30_weighted_median)
}
