package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.StreamingGates.events

/** Data-quality audits: referential integrity, freshness, drift,
  * profiling, control charts and rule-based expectations.
  */
object DataQualityGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Declarative data-quality expectations (DLT expect analog): every
    * event annotated with its violated expectation names in one map-side
    * pass — no per-rule re-scan. Valid/quarantine split and observe()
    * metrics are pinned in ExpectationsSpec.
    */
  val dq_expectations = OpQuery(
    "dq_expectations",
    """SELECT event_id,
      |       concat_ws(',',
      |         CASE WHEN NOT coalesce(event_type IN ('click','purchase','signup','view'), FALSE)
      |              THEN 'known_event_type' END,
      |         CASE WHEN NOT coalesce(value <= 90, FALSE)
      |              THEN 'value_in_range' END) AS failed,
      |       coalesce(event_type IN ('click','purchase','signup','view'), FALSE)
      |         AND coalesce(value <= 90, FALSE) AS is_valid
      |FROM events
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import graft.operators.Expectations
    val exps = Seq(
      Expectations.expect("known_event_type",
        col("event_type").isin("click", "purchase", "signup", "view")),
      Expectations.expect("value_in_range", col("value") <= 90))
    Expectations.annotate(events(spark, dir), exps)
      .select(
        col("event_id"),
        array_join(col("failed_expectations"), ",").as("failed"),
        (size(col("failed_expectations")) === 0).as("is_valid"))
      .orderBy(col("event_id"))
  }

  /** Dataset profiler: per-column row count, null count, exact distinct
    * count, and min/max (rendered as strings through a shared DECIMAL
    * cast so numeric formatting matches across engines) — the
    * first-look data-quality report over any table, one scan.
    */
  val dq_profile = OpQuery(
    "dq_profile",
    """SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_null,
      |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
      |       CAST(MIN(o_custkey) AS VARCHAR) AS min_v,
      |       CAST(MAX(o_custkey) AS VARCHAR) AS max_v
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
      |       CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
      |       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
      |       MIN(o_orderstatus), MAX(o_orderstatus)
      |FROM orders
      |UNION ALL
      |SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
      |       CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
      |       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
      |       CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
      |       CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
      |       CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
      |       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
      |       MIN(o_orderpriority), MAX(o_orderpriority)
      |FROM orders
      |ORDER BY col_name""".stripMargin) { (spark, dir) =>
    val o = t(spark, dir, "orders")
    def profile(c: String, render: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      o.agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(c))).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        render(min(col(c))).as("min_v"),
        render(max(col(c))).as("max_v"))
        .select(lit(c).as("col_name"), col("n"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    profile("o_custkey", _.cast("string"))
      .unionByName(profile("o_orderstatus", identity))
      .unionByName(profile("o_totalprice", _.cast("decimal(18,2)").cast("string")))
      .unionByName(profile("o_orderpriority", identity))
      .orderBy(col("col_name"))
  }

  /** Referential-integrity audit: orphan children and childless parents
    * for the three fact↔dim relationships — the migration smoke test
    * every warehouse runs. Each relationship is one anti-join pair on
    * the join key (shuffle or broadcast as sizes dictate); counts are
    * exact.
    */
  val dq_fk_integrity = OpQuery.sql("dq_fk_integrity", "lineitem", "orders",
    "customer", "part")(
    """SELECT 'lineitem->orders' AS rel,
      |       CAST((SELECT COUNT(*) FROM lineitem l
      |             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS orphan_children,
      |       CAST((SELECT COUNT(*) FROM orders o
      |             WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT) AS childless_parents
      |UNION ALL
      |SELECT 'orders->customer' AS rel,
      |       CAST((SELECT COUNT(*) FROM orders o
      |             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
      |       CAST((SELECT COUNT(*) FROM customer c
      |             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
      |UNION ALL
      |SELECT 'lineitem->part' AS rel,
      |       CAST((SELECT COUNT(*) FROM lineitem l
      |             WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
      |       CAST((SELECT COUNT(*) FROM part p
      |             WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)) AS BIGINT)
      |ORDER BY rel""".stripMargin)

  /** Freshness SLA report: per-source staleness against the corpus
    * high-water mark in whole minutes (floor-divided epoch seconds, so
    * the lag is exact on both engines) — the observability query every
    * ingest pipeline alerts on.
    */
  val dq_freshness = OpQuery(
    "dq_freshness",
    """WITH hw AS (SELECT MAX(ts) AS corpus_max FROM events),
      |per AS (
      |  SELECT event_type, MAX(ts) AS last_seen, COUNT(*) AS n
      |  FROM events GROUP BY event_type)
      |SELECT event_type,
      |       strftime(last_seen, '%Y-%m-%d %H:%M:%S') AS last_seen,
      |       CAST((epoch(corpus_max)::BIGINT - epoch(last_seen)::BIGINT) // 60 AS BIGINT) AS minutes_stale,
      |       CAST(n AS BIGINT) AS n
      |FROM per, hw
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_fresh_events")
    spark.sql(
      """WITH hw AS (SELECT MAX(ts) AS corpus_max FROM graft_fresh_events),
        |per AS (
        |  SELECT event_type, MAX(ts) AS last_seen, COUNT(*) AS n
        |  FROM graft_fresh_events GROUP BY event_type)
        |SELECT event_type,
        |       date_format(last_seen, 'yyyy-MM-dd HH:mm:ss') AS last_seen,
        |       CAST((unix_timestamp(corpus_max) - unix_timestamp(last_seen)) DIV 60 AS BIGINT) AS minutes_stale,
        |       CAST(n AS BIGINT) AS n
        |FROM per, hw
        |ORDER BY event_type""".stripMargin)
  }

  /** Population stability index between the first and second half of the
    * event stream, per value band — the drift metric every deployed
    * model monitors. Band shares are exact integer ratios; the single
    * float PSI expression is written identically on both sides.
    */
  val dq_psi_drift = OpQuery(
    "dq_psi_drift",
    """WITH split AS (
      |  SELECT CASE WHEN epoch(ts)::BIGINT < (SELECT (epoch(MIN(ts))::BIGINT + epoch(MAX(ts))::BIGINT) // 2 FROM events)
      |              THEN 'ref' ELSE 'cur' END AS half,
      |         least(CAST(TRUNC(value) AS INT) // 20, 4) AS band
      |  FROM events WHERE event_type = 'purchase'),
      |counts AS (
      |  SELECT band,
      |         SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_ref,
      |         SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_cur
      |  FROM split GROUP BY band),
      |tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts)
      |SELECT CAST(band AS INT) AS band,
      |       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
      |       CAST(ROUND((CAST(n_cur AS DOUBLE) / tc - CAST(n_ref AS DOUBLE) / tr)
      |                  * ln((CAST(n_cur AS DOUBLE) / tc) / (CAST(n_ref AS DOUBLE) / tr)), 6) AS DOUBLE) AS psi_term
      |FROM counts, tot
      |WHERE n_ref > 0 AND n_cur > 0
      |ORDER BY band""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_psi_events")
    spark.sql(
      """WITH split AS (
        |  SELECT CASE WHEN unix_timestamp(ts) < (SELECT (unix_timestamp(MIN(ts)) + unix_timestamp(MAX(ts))) DIV 2 FROM graft_psi_events)
        |              THEN 'ref' ELSE 'cur' END AS half,
        |         least(CAST(value AS INT) DIV 20, 4) AS band
        |  FROM graft_psi_events WHERE event_type = 'purchase'),
        |counts AS (
        |  SELECT band,
        |         SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_ref,
        |         SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_cur
        |  FROM split GROUP BY band),
        |tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts)
        |SELECT CAST(band AS INT) AS band,
        |       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |       CAST(ROUND((CAST(n_cur AS DOUBLE) / tc - CAST(n_ref AS DOUBLE) / tr)
        |                  * ln((CAST(n_cur AS DOUBLE) / tc) / (CAST(n_ref AS DOUBLE) / tr)), 6) AS DOUBLE) AS psi_term
        |FROM counts, tot
        |WHERE n_ref > 0 AND n_cur > 0
        |ORDER BY band""".stripMargin)
  }

  /** Benford's-law first-digit audit on order totals — the fraud/
    * anomaly screen on financial columns: observed first-digit counts
    * vs the log10(1+1/d) expectation, exact integer counts plus one
    * shared float expression per digit.
    */
  val dq_benford = OpQuery.sql("dq_benford", "orders")(
    """WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
      |  FROM orders WHERE o_totalprice >= 1),
      |counts AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
      |tot AS (SELECT SUM(n) AS t FROM counts)
      |SELECT CAST(d AS INT) AS first_digit, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(CAST(n AS DOUBLE) / t, 6) AS DOUBLE) AS observed,
      |       CAST(ROUND(log10(1 + 1.0 / d), 6) AS DOUBLE) AS benford_expected
      |FROM counts, tot
      |ORDER BY first_digit""".stripMargin,
    "substr(" -> "substring(",
    "VARCHAR" -> "STRING")

  /** Row- and column-level policy enforcement as relational rewrites:
    * rows restricted to an allowlisted tenant set (semi join against
    * the policy table) and a sensitive column masked except for exempt
    * rows — governance as part of the plan, where it cannot be
    * bypassed by a different reader.
    */
  val dq_row_column_policy = OpQuery(
    "dq_row_column_policy",
    """WITH policy AS (
      |  SELECT unnest(['src1', 'src3', 'src5', 'src7']) AS tenant),
      |visible AS (
      |  SELECT d.doc_id, d.source, d.lang, d.text
      |  FROM documents d WHERE EXISTS (SELECT 1 FROM policy p WHERE p.tenant = d.source))
      |SELECT doc_id, source, lang,
      |       CASE WHEN lang = 'en' THEN text ELSE concat('masked:', md5(text)) END AS text_out
      |FROM visible
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_pol_docs")
    spark.sql(
      """WITH policy AS (
        |  SELECT explode(array('src1', 'src3', 'src5', 'src7')) AS tenant),
        |visible AS (
        |  SELECT d.doc_id, d.source, d.lang, d.text
        |  FROM graft_pol_docs d LEFT SEMI JOIN policy p ON p.tenant = d.source)
        |SELECT doc_id, source, lang,
        |       CASE WHEN lang = 'en' THEN text ELSE concat('masked:', md5(text)) END AS text_out
        |FROM visible
        |ORDER BY doc_id""".stripMargin)
  }

  /** Id-gap integrity: missing stretches in what should be a dense id
    * sequence — one lag window, gap rows only (the sequence-audit query
    * every CDC consumer runs on resume).
    */
  val dq_id_gaps = OpQuery.sql("dq_id_gaps", "documents")(
    """WITH ids AS (SELECT DISTINCT doc_id * 2 AS id FROM documents),
      |gaps AS (
      |  SELECT LAG(id) OVER (ORDER BY id) AS prev_id, id
      |  FROM ids)
      |SELECT CAST(prev_id AS BIGINT) AS gap_after,
      |       CAST(id AS BIGINT) AS resumes_at,
      |       CAST(id - prev_id - 1 AS BIGINT) AS missing
      |FROM gaps
      |WHERE prev_id IS NOT NULL AND id - prev_id > 1
      |ORDER BY gap_after
      |LIMIT 50""".stripMargin)

  /** p-chart: daily error PROPORTION against 3σ binomial control limits
    * around the corpus-wide rate — statistical process control for the
    * pipeline's own health stream. Exact counts; the limit expression
    * is shared; out-of-control days are the output.
    */
  val dq_p_chart = OpQuery.sql("dq_p_chart", "events")(
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
      |         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
      |  FROM events GROUP BY CAST(ts AS DATE)),
      |pbar AS (SELECT CAST(SUM(errs) AS DOUBLE) / SUM(n) AS p FROM daily)
      |SELECT strftime(d, '%Y-%m-%d') AS day,
      |       CAST(errs AS BIGINT) AS errs, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(p - 3 * sqrt(p * (1 - p) / n), 6) AS DOUBLE) AS lcl,
      |       CAST(ROUND(p + 3 * sqrt(p * (1 - p) / n), 6) AS DOUBLE) AS ucl,
      |       (abs(CAST(errs AS DOUBLE) / n - p) > 3 * sqrt(p * (1 - p) / n))
      |         AS out_of_control
      |FROM daily, pbar
      |ORDER BY day""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  /** Deterministic inspection sample: the md5-first 3 documents per
    * language with truncated previews — the stable "eyeball set" a
    * data-quality review looks at every week (same docs every run, on
    * any cluster, until the data itself changes).
    */
  val dq_sample_inspection = OpQuery.sql("dq_sample_inspection", "documents")(
    """WITH ranked AS (
      |  SELECT lang, doc_id, substr(text, 1, 40) AS preview,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT lang, CAST(rn AS INT) AS rn, doc_id, preview
      |FROM ranked WHERE rn <= 3
      |ORDER BY lang, rn""".stripMargin,
    "substr(" -> "substring(",
    "VARCHAR" -> "STRING")

  /** Duplicate-payment audit: order pairs from the SAME customer on the
    * SAME day with their amount delta — the double-charge review queue.
    * The self-join is blocked on (customer, day), so candidates only
    * form inside tiny per-key buckets; at scale that is one shuffle and
    * near-zero fan-out instead of a quadratic probe.
    */
  val dq_double_charge = OpQuery(
    "dq_double_charge",
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey,
      |         CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS d,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT a.o_custkey, a.d,
      |       a.o_orderkey AS order_a, b.o_orderkey AS order_b,
      |       a.cents AS cents_a, b.cents AS cents_b,
      |       ABS(a.cents - b.cents) AS delta_cents
      |FROM o a JOIN o b
      |  ON a.o_custkey = b.o_custkey AND a.d = b.d
      | AND a.o_orderkey < b.o_orderkey
      |ORDER BY a.o_custkey, a.d, order_a, order_b""".stripMargin) { (spark, dir) =>
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(unix_timestamp(col("o_orderdate")) / 86400).cast("long").as("d"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    o.as("a").join(o.as("b"),
        col("a.o_custkey") === col("b.o_custkey") &&
          col("a.d") === col("b.d") &&
          col("a.o_orderkey") < col("b.o_orderkey"))
      .select(col("a.o_custkey"), col("a.d"),
        col("a.o_orderkey").as("order_a"), col("b.o_orderkey").as("order_b"),
        col("a.cents").as("cents_a"), col("b.cents").as("cents_b"),
        abs(col("a.cents") - col("b.cents")).as("delta_cents"))
      .orderBy("o_custkey", "d", "order_a", "order_b")
  }

  /** Monotonicity audit: do event ids increase with time within each
    * user (the ordering contract ingestion promises)? One lag pass
    * scores every user (count + monotonic flag), so a healthy feed
    * yields an all-true column, not an empty report — the audit that catches backfills stamped
    * with stale clocks.
    */
  val dq_monotonic_audit = OpQuery.sql("dq_monotonic_audit", "events")(
    """WITH seq AS (
      |  SELECT user_id, event_id,
      |         LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id
      |  FROM events),
      |flags AS (
      |  SELECT user_id,
      |         CASE WHEN prev_id IS NOT NULL AND event_id < prev_id THEN 1 ELSE 0 END AS inv
      |  FROM seq)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(inv) AS BIGINT) AS inversions,
      |       (SUM(inv) = 0) AS is_monotonic
      |FROM flags
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin)

  /** Cross-field rule audit over lineitem: each business rule is a
    * boolean expression; the audit reports violations and violation
    * rate per rule in ONE scan (conditional aggregation — no per-rule
    * rescans), plus the first offending key as a repro pointer.
    */
  val dq_crossfield_rules = OpQuery.sql("dq_crossfield_rules", "lineitem")(
    """WITH l AS (
      |  SELECT l_orderkey, l_linenumber,
      |         CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END
      |           AS v_discount_range,
      |         CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 ELSE 0 END
      |           AS v_tax_range,
      |         CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END
      |           AS v_quantity_range,
      |         CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END
      |           AS v_returnflag_domain
      |  FROM lineitem),
      |tall AS (
      |  SELECT 'discount_range' AS rule, v_discount_range AS v,
      |         l_orderkey, l_linenumber FROM l
      |  UNION ALL
      |  SELECT 'tax_range', v_tax_range, l_orderkey, l_linenumber FROM l
      |  UNION ALL
      |  SELECT 'quantity_range', v_quantity_range, l_orderkey, l_linenumber FROM l
      |  UNION ALL
      |  SELECT 'returnflag_domain', v_returnflag_domain, l_orderkey,
      |         l_linenumber FROM l)
      |SELECT rule, COUNT(*) AS n_rows,
      |       CAST(SUM(v) AS BIGINT) AS n_violations,
      |       CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
      |         AS violation_rate,
      |       CAST(MIN(CASE WHEN v = 1 THEN l_orderkey * 10 + l_linenumber END)
      |         AS BIGINT) AS first_offender
      |FROM tall
      |GROUP BY rule
      |ORDER BY rule""".stripMargin)

  /** Hash-uniformity audit: md5-derived 32-bit values of the customer
    * keys, tested against Uniform(0,1) with the one-sample
    * Kolmogorov–Smirnov D (both one-sided gaps from exact ranks) and a
    * 10-bucket chi-square. If a partitioner used this hash, D tells you
    * how even the split would be — the pre-shuffle key-skew check.
    */
  val dq_hash_uniformity = OpQuery(
    "dq_hash_uniformity",
    """WITH h AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
      |           AS BIGINT) AS v, c_custkey
      |  FROM customer),
      |u AS (
      |  SELECT CAST(v AS DOUBLE) / 4294967296.0 AS x,
      |         ROW_NUMBER() OVER (ORDER BY v, c_custkey) AS r,
      |         COUNT(*) OVER () AS n
      |  FROM h),
      |ks AS (
      |  SELECT MAX(ROUND(GREATEST(CAST(r AS DOUBLE) / n - x,
      |                            x - CAST(r - 1 AS DOUBLE) / n), 8)) AS d,
      |         MAX(n) AS n
      |  FROM u),
      |buckets AS (
      |  SELECT CAST(FLOOR(x * 10) AS INT) AS b, COUNT(*) AS c FROM u GROUP BY 1),
      |chi AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |    POW(c - CAST(ks.n AS DOUBLE) / 10, 2) / (CAST(ks.n AS DOUBLE) / 10),
      |    8) AS DECIMAL(28,8))) AS DOUBLE) AS x2
      |  FROM buckets CROSS JOIN ks)
      |SELECT CAST(ks.n AS BIGINT) AS n,
      |       CAST(ks.d AS DOUBLE) AS ks_d,
      |       CAST(ROUND(ks.d * SQRT(ks.n), 6) AS DOUBLE) AS ks_stat,
      |       CAST(ROUND(chi.x2, 6) AS DOUBLE) AS chi2_10bucket
      |FROM ks CROSS JOIN chi""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "customer").createOrReplaceTempView("graft_hu_customer")
    // the ECDF rank of every hashed key via TotalOrder two-phase ranks
    // (the window form single-reduced the whole customer table)
    graft.operators.TotalOrder
      .rowNumberWithCount(
        spark.sql(
          """SELECT CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10)
            |         AS BIGINT) AS v, c_custkey
            |FROM graft_hu_customer""".stripMargin),
        Seq(org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("c_custkey")), "r", "n")
      .selectExpr("CAST(v AS DOUBLE) / 4294967296.0 AS x", "r", "n")
      .createOrReplaceTempView("graft_hu_u")
    spark.sql(
      """WITH u AS (SELECT x, r, n FROM graft_hu_u),
        |ks AS (
        |  SELECT MAX(ROUND(GREATEST(CAST(r AS DOUBLE) / n - x,
        |                            x - CAST(r - 1 AS DOUBLE) / n), 8)) AS d,
        |         MAX(n) AS n
        |  FROM u),
        |buckets AS (
        |  SELECT CAST(FLOOR(x * 10) AS INT) AS b, COUNT(*) AS c FROM u GROUP BY 1),
        |chi AS (
        |  SELECT CAST(SUM(CAST(ROUND(
        |    POW(c - CAST(ks.n AS DOUBLE) / 10, 2) / (CAST(ks.n AS DOUBLE) / 10),
        |    8) AS DECIMAL(28,8))) AS DOUBLE) AS x2
        |  FROM buckets CROSS JOIN ks)
        |SELECT CAST(ks.n AS BIGINT) AS n,
        |       CAST(ks.d AS DOUBLE) AS ks_d,
        |       CAST(ROUND(ks.d * SQRT(ks.n), 6) AS DOUBLE) AS ks_stat,
        |       CAST(ROUND(chi.x2, 6) AS DOUBLE) AS chi2_10bucket
        |FROM ks CROSS JOIN chi""".stripMargin)
  }

  val all: Seq[OpQuery] = Seq(
    dq_expectations, dq_profile, dq_fk_integrity, dq_freshness, dq_psi_drift,
    dq_benford, dq_row_column_policy, dq_id_gaps, dq_p_chart,
    dq_sample_inspection, dq_double_charge, dq_monotonic_audit,
    dq_crossfield_rules, dq_hash_uniformity)
}
