package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Freeze

/** Statistical inference: hypothesis tests, confidence intervals, rank
  * correlations, distribution fits, survival estimators and A/B
  * analysis.
  */
object StatTestsGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Wilson score interval for per-source view→purchase conversion —
    * the ratio-metric CI that stays sane at small n (unlike the normal
    * approximation). Exact integer numerators; the closed-form bound is
    * one shared float expression (z = 1.96).
    */
  val a32_wilson_ci = OpQuery.sql("a32_wilson_ci", "events")(
    """WITH per AS (
      |  SELECT user_id % 10 AS cohort,
      |         SUM(hv) AS views,
      |         SUM(hv * hb) AS buys
      |  FROM (SELECT user_id,
      |               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
      |               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hb
      |        FROM events GROUP BY user_id)
      |  GROUP BY user_id % 10),
      |ci AS (
      |  SELECT cohort, views, buys,
      |         CAST(buys AS DOUBLE) / views AS p,
      |         1.96 * 1.96 AS z2
      |  FROM per WHERE views > 0)
      |SELECT CAST(cohort AS BIGINT) AS cohort,
      |       CAST(views AS BIGINT) AS views, CAST(buys AS BIGINT) AS buys,
      |       CAST(ROUND((p + z2 / (2 * views)
      |                   - 1.96 * sqrt((p * (1 - p) + z2 / (4 * views)) / views))
      |                  / (1 + z2 / views), 6) AS DOUBLE) AS wilson_lo,
      |       CAST(ROUND((p + z2 / (2 * views)
      |                   + 1.96 * sqrt((p * (1 - p) + z2 / (4 * views)) / views))
      |                  / (1 + z2 / views), 6) AS DOUBLE) AS wilson_hi
      |FROM ci
      |ORDER BY cohort""".stripMargin)

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

  /** A/B test analysis end-to-end: deterministic md5 assignment (the
    * same content-stable bucketing the split operator uses), per-arm
    * purchase-value moments, and Welch's t statistic — exact integer
    * moments, one shared float expression, no RNG to disagree about.
    */
  val ab_test_analysis = OpQuery(
    "ab_test_analysis",
    """WITH assigned AS (
      |  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |              THEN 'control' ELSE 'treatment' END AS arm,
      |         CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT arm, COUNT(*) AS n,
      |         SUM(CAST(cents AS DECIMAL(38,0))) AS s1,
      |         SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
      |  FROM assigned GROUP BY arm),
      |f AS (
      |  SELECT arm, n, CAST(s1 AS DOUBLE) / n AS mu,
      |         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var_s
      |  FROM m),
      |wide AS (
      |  SELECT MAX(CASE WHEN arm = 'control' THEN n END) AS nc,
      |         MAX(CASE WHEN arm = 'control' THEN mu END) AS muc,
      |         MAX(CASE WHEN arm = 'control' THEN var_s END) AS vc,
      |         MAX(CASE WHEN arm = 'treatment' THEN n END) AS nt,
      |         MAX(CASE WHEN arm = 'treatment' THEN mu END) AS mut,
      |         MAX(CASE WHEN arm = 'treatment' THEN var_s END) AS vt
      |  FROM f)
      |SELECT CAST(nc AS BIGINT) AS n_control, CAST(nt AS BIGINT) AS n_treatment,
      |       CAST(ROUND(mut - muc, 4) AS DOUBLE) AS mean_diff_cents,
      |       CAST(ROUND((mut - muc) / sqrt(vc / nc + vt / nt), 4) AS DOUBLE) AS welch_t
      |FROM wide""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_ab_events")
    spark.sql(
      """WITH assigned AS (
        |  SELECT CASE WHEN pmod(CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT), 2) = 0
        |              THEN 'control' ELSE 'treatment' END AS arm,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM graft_ab_events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT arm, COUNT(*) AS n,
        |         SUM(CAST(cents AS DECIMAL(38,0))) AS s1,
        |         SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
        |  FROM assigned GROUP BY arm),
        |f AS (
        |  SELECT arm, n, CAST(s1 AS DOUBLE) / n AS mu,
        |         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var_s
        |  FROM m),
        |wide AS (
        |  SELECT MAX(CASE WHEN arm = 'control' THEN n END) AS nc,
        |         MAX(CASE WHEN arm = 'control' THEN mu END) AS muc,
        |         MAX(CASE WHEN arm = 'control' THEN var_s END) AS vc,
        |         MAX(CASE WHEN arm = 'treatment' THEN n END) AS nt,
        |         MAX(CASE WHEN arm = 'treatment' THEN mu END) AS mut,
        |         MAX(CASE WHEN arm = 'treatment' THEN var_s END) AS vt
        |  FROM f)
        |SELECT CAST(nc AS BIGINT) AS n_control, CAST(nt AS BIGINT) AS n_treatment,
        |       CAST(ROUND(mut - muc, 4) AS DOUBLE) AS mean_diff_cents,
        |       CAST(ROUND((mut - muc) / sqrt(vc / nc + vt / nt), 4) AS DOUBLE) AS welch_t
        |FROM wide""".stripMargin)
  }

  /** Bootstrap 95% CI for mean customer spend: 100 replicas, each
    * resampling n customers with replacement through a pinned LCG
    * (idx = (b·48271 + i·16807) mod p mod n) — so the "randomness" is
    * identical on every engine and run. Replica sums stay integer; the
    * CI bounds are the 3rd and 98th sorted replica means. The replica
    * fan-out is explode(sequence(...)) — distributed, no driver loop —
    * and the sample join hits a broadcast of the ranked spend table.
    */
  val a48_bootstrap_ci = OpQuery(
    "a48_bootstrap_ci",
    """WITH spend AS (
      |  SELECT o_custkey, CAST(ROUND(SUM(o_totalprice)) AS BIGINT) AS s
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT s, ROW_NUMBER() OVER (ORDER BY o_custkey) AS idx FROM spend),
      |m AS (SELECT COUNT(*) AS n FROM ranked),
      |draws AS (
      |  SELECT b.b, i.i,
      |         ((b.b * 48271 + i.i * 16807) % 2147483647) % i.n + 1 AS idx
      |  FROM (SELECT unnest(range(1, 101)) AS b) b,
      |       (SELECT unnest(range(1, CAST(n AS INT) + 1)) AS i, n FROM m) i),
      |means AS (
      |  SELECT d.b, SUM(r.s) AS tot, COUNT(*) AS cnt
      |  FROM draws d JOIN ranked r ON d.idx = r.idx
      |  GROUP BY d.b),
      |sorted AS (
      |  SELECT CAST(tot AS DOUBLE) / cnt AS mean_b,
      |         ROW_NUMBER() OVER (ORDER BY CAST(tot AS DOUBLE) / cnt, b) AS rk
      |  FROM means)
      |SELECT CAST((SELECT n FROM m) AS BIGINT) AS n_customers,
      |       CAST(ROUND(MAX(CASE WHEN rk = 3 THEN mean_b END), 6) AS DOUBLE) AS ci_lo,
      |       CAST(ROUND(MAX(CASE WHEN rk = 98 THEN mean_b END), 6) AS DOUBLE) AS ci_hi
      |FROM sorted""".stripMargin) { (spark, dir) =>
    // Spark side rebuilt distributed (round-12 sf1 flag, e = 1.20 at
    // 10x): the SQL form generated all 100*n draw rows by exploding
    // sequence(1, n) out of ONE row — single-partition generation — and
    // ranked customers through a partition-less window. Now: customer
    // ranks via the distributed TotalOrder.rowNumber, draws via two
    // spark.range cross joins (both sides partitioned), same LCG, same
    // join+agg, bit-identical output. The oracle keeps the plain
    // quadratic-free SQL definition.
    import graft.operators.TotalOrder
    val spend = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 0).cast("bigint").as("s"))
    val ranked = TotalOrder.rowNumber(
        spend, Seq(col("o_custkey").asc), "idx")
      .select(col("s"), col("idx"))
      .transform(Freeze.eager)
    val n = ranked.count()
    val draws = spark.range(1, 101).select(col("id").as("b"))
      .crossJoin(spark.range(1, n + 1).select(col("id").as("i")))
      .select(col("b"),
        ((col("b") * 48271L + col("i") * 16807L) % 2147483647L % n + 1)
          .as("idx"))
    val means = draws.join(ranked, "idx")
      .groupBy(col("b"))
      .agg(sum(col("s")).as("tot"), count(lit(1)).as("cnt"))
    // 100 bootstrap means: driver-bounded by construction, so the final
    // rank is a plain window over 100 rows
    val sorted = means
      .select((col("tot").cast("double") / col("cnt")).as("mean_b"), col("b"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("mean_b"), col("b"))))
    sorted.agg(
      lit(n).cast("bigint").as("n_customers"),
      round(max(when(col("rk") === 3, col("mean_b"))), 6).cast("double").as("ci_lo"),
      round(max(when(col("rk") === 98, col("mean_b"))), 6).cast("double").as("ci_hi"))
      .select(col("n_customers"), col("ci_lo"), col("ci_hi"))
  }

  /** Kolmogorov–Smirnov two-sample statistic between purchase and view
    * value distributions. The ECDF gap is maximized on the INTEGER
    * cross-term |c1·n2 − c2·n1| (one window pass over the merged sorted
    * values), and only the final maximum is divided — no float
    * comparisons anywhere in the argmax.
    */
  val a49_ks_test = OpQuery(
    "a49_ks_test",
    """WITH samples AS (
      |  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |counts AS (
      |  SELECT SUM(g) AS n1, SUM(1 - g) AS n2 FROM samples),
      |cum AS (
      |  SELECT value,
      |         SUM(g) OVER (ORDER BY value
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
      |         SUM(1 - g) OVER (ORDER BY value
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      |  FROM samples),
      |at_value AS (
      |  SELECT value, MAX(c1) AS c1, MAX(c2) AS c2 FROM cum GROUP BY value),
      |gaps AS (
      |  SELECT MAX(ABS(c1 * (SELECT n2 FROM counts) - c2 * (SELECT n1 FROM counts)))
      |           AS max_gap
      |  FROM at_value)
      |SELECT CAST((SELECT n1 FROM counts) AS BIGINT) AS n_purchase,
      |       CAST((SELECT n2 FROM counts) AS BIGINT) AS n_view,
      |       CAST(ROUND(CAST(max_gap AS DOUBLE) /
      |            ((SELECT n1 FROM counts) * (SELECT n2 FROM counts)), 6) AS DOUBLE) AS ks_d
      |FROM gaps""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_ks_events")
    // both running ECDF counters in ONE TotalOrder.prefixAggs pass
    // (two-phase range ranks) — the window form pushed every sampled
    // event through a single reducer. Ties on `value` are absorbed by
    // the MAX-per-value collapse downstream, exactly as in the window
    // form, so the oracle still hash-matches.
    import org.apache.spark.sql.functions.col
    val ksSamples = spark.sql(
      """SELECT value,
        |       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
        |       CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS ig
        |FROM graft_ks_events
        |WHERE event_type IN ('purchase', 'view')""".stripMargin)
    graft.operators.TotalOrder
      .prefixAggs(ksSamples, Seq(col("value")),
        sums = Seq("g" -> "c1", "ig" -> "c2"))
      .select(col("value"), col("c1"), col("c2"))
      .createOrReplaceTempView("graft_ks_cum")
    spark.sql(
      """WITH samples AS (
        |  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        |  FROM graft_ks_events WHERE event_type IN ('purchase', 'view')),
        |counts AS (
        |  SELECT SUM(g) AS n1, SUM(1 - g) AS n2 FROM samples),
        |cum AS (SELECT value, c1, c2 FROM graft_ks_cum),
        |at_value AS (
        |  SELECT value, MAX(c1) AS c1, MAX(c2) AS c2 FROM cum GROUP BY value),
        |gaps AS (
        |  SELECT MAX(ABS(c1 * (SELECT n2 FROM counts) - c2 * (SELECT n1 FROM counts)))
        |           AS max_gap
        |  FROM at_value)
        |SELECT CAST((SELECT n1 FROM counts) AS BIGINT) AS n_purchase,
        |       CAST((SELECT n2 FROM counts) AS BIGINT) AS n_view,
        |       CAST(ROUND(CAST(max_gap AS DOUBLE) /
        |            ((SELECT n1 FROM counts) * (SELECT n2 FROM counts)), 6) AS DOUBLE) AS ks_d
        |FROM gaps""".stripMargin)
  }

  /** Kaplan–Meier survival curve of user lifetimes (hours between first
    * and last event; users still active in the final observed day are
    * censored). The product Π(1 − dᵢ/nᵢ) is carried as a cumulative
    * sum of ln-terms quantized to DECIMAL(28,12) — order-independent
    * across partitions and immune to libm ulp drift — with a single
    * exp at the end. One pass for lifetimes, one sort over ~distinct
    * days.
    */
  val a50_survival_km = OpQuery(
    "a50_survival_km",
    """WITH spans AS (
      |  SELECT user_id,
      |         CAST(FLOOR((TRUNC(epoch(MAX(ts))) - TRUNC(epoch(MIN(ts)))) / 3600) AS INT)
      |           AS life_days,
      |         MAX(ts) AS last_ts
      |  FROM events GROUP BY user_id),
      |horizon AS (SELECT MAX(last_ts) AS h FROM spans),
      |obs AS (
      |  SELECT life_days,
      |         CASE WHEN epoch(h) - epoch(last_ts) < 86400 THEN 0 ELSE 1 END AS died
      |  FROM spans, horizon),
      |n_total AS (SELECT COUNT(*) AS n FROM obs),
      |by_day AS (
      |  SELECT life_days, SUM(died) AS d, COUNT(*) AS leaving
      |  FROM obs GROUP BY life_days),
      |at_risk AS (
      |  SELECT life_days, d,
      |         (SELECT n FROM n_total) -
      |           COALESCE(SUM(leaving) OVER (ORDER BY life_days
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_i
      |  FROM by_day),
      |terms AS (
      |  SELECT life_days, d, n_i,
      |         CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE) / n_i), 12) AS DECIMAL(28,12))
      |           AS lnterm
      |  FROM at_risk WHERE d > 0 AND d < n_i)
      |SELECT life_days AS life_hours, CAST(d AS BIGINT) AS deaths, CAST(n_i AS BIGINT) AS at_risk,
      |       CAST(ROUND(exp(CAST(SUM(lnterm) OVER (ORDER BY life_days
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6)
      |         AS DOUBLE) AS survival
      |FROM terms
      |ORDER BY life_days""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_km_events")
    spark.sql(
      """WITH spans AS (
        |  SELECT user_id,
        |         CAST(FLOOR((unix_timestamp(MAX(ts)) - unix_timestamp(MIN(ts))) / 3600) AS INT)
        |           AS life_days,
        |         MAX(ts) AS last_ts
        |  FROM graft_km_events GROUP BY user_id),
        |horizon AS (SELECT MAX(last_ts) AS h FROM spans),
        |obs AS (
        |  SELECT life_days,
        |         CASE WHEN unix_timestamp(h) - unix_timestamp(last_ts) < 86400
        |              THEN 0 ELSE 1 END AS died
        |  FROM spans CROSS JOIN horizon),
        |n_total AS (SELECT COUNT(*) AS n FROM obs),
        |by_day AS (
        |  SELECT life_days, SUM(died) AS d, COUNT(*) AS leaving
        |  FROM obs GROUP BY life_days),
        |at_risk AS (
        |  SELECT life_days, d,
        |         (SELECT n FROM n_total) -
        |           COALESCE(SUM(leaving) OVER (ORDER BY life_days
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_i
        |  FROM by_day),
        |terms AS (
        |  SELECT life_days, d, n_i,
        |         CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE) / n_i), 12) AS DECIMAL(28,12))
        |           AS lnterm
        |  FROM at_risk WHERE d > 0 AND d < n_i)
        |SELECT life_days AS life_hours, CAST(d AS BIGINT) AS deaths, CAST(n_i AS BIGINT) AS at_risk,
        |       CAST(ROUND(exp(CAST(SUM(lnterm) OVER (ORDER BY life_days
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6)
        |         AS DOUBLE) AS survival
        |FROM terms
        |ORDER BY life_days""".stripMargin)
  }

  /** Wald–Wolfowitz runs test on the purchase-value sequence: is the
    * above/below-median pattern random? Runs are counted with one
    * lag-window pass (a run starts where the sign differs from the
    * previous row); the expected-runs z-statistic is pure integer
    * arithmetic until the final division. The median is the pinned
    * lower order statistic, not an interpolation.
    */
  val a51_runs_test = OpQuery(
    "a51_runs_test",
    """WITH seq AS (
      |  SELECT value, ROW_NUMBER() OVER (ORDER BY ts, event_id) AS i
      |  FROM events WHERE event_type = 'purchase'),
      |med AS (
      |  SELECT value AS m FROM (
      |    SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS r, COUNT(*) OVER () AS n
      |    FROM seq) t
      |  WHERE r = CAST(FLOOR((n + 1) / 2) AS INT)),
      |signs AS (
      |  SELECT i, CASE WHEN value > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
      |  FROM seq),
      |runs AS (
      |  SELECT s, CASE WHEN LAG(s) OVER (ORDER BY i) IS NULL
      |                   OR LAG(s) OVER (ORDER BY i) <> s THEN 1 ELSE 0 END AS new_run
      |  FROM signs),
      |m2 AS (
      |  SELECT SUM(new_run) AS r, SUM(s) AS n1, SUM(1 - s) AS n2 FROM runs)
      |SELECT CAST(r AS BIGINT) AS runs,
      |       CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
      |       CAST(ROUND((r - (2.0 * n1 * n2 / (n1 + n2) + 1)) /
      |            sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
      |                 (POW(CAST(n1 + n2 AS DOUBLE), 2) * (n1 + n2 - 1))), 6)
      |            AS DOUBLE) AS z
      |FROM m2""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_runs_events")
    // both global ranks via TotalOrder (arrival index + value rank for
    // the median); the LAG becomes an equi-join on the DENSE index
    // (p.i = s.i - 1) — predecessor lookup as a shuffle join on i, not
    // a single-reducer global sort of every purchase row
    val runsSeq = graft.operators.TotalOrder
      .rowNumber(
        spark.sql("""SELECT value, ts, event_id FROM graft_runs_events
                    |WHERE event_type = 'purchase'""".stripMargin),
        Seq(col("ts"), col("event_id")), "i")
      .select(col("value"), col("i"))
    runsSeq.createOrReplaceTempView("graft_runs_seq")
    graft.operators.TotalOrder
      .rowNumberWithCount(runsSeq, Seq(col("value")), "r", "n")
      .filter(col("r") === floor((col("n") + 1) / 2).cast("int"))
      .select(col("value").as("m"))
      .transform(Freeze.eager)
      .createOrReplaceTempView("graft_runs_med")
    spark.sql(
      """WITH seq AS (SELECT value, i FROM graft_runs_seq),
        |med AS (SELECT m FROM graft_runs_med),
        |signs AS (
        |  SELECT i, CASE WHEN value > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
        |  FROM seq),
        |runs AS (
        |  SELECT s.s, CASE WHEN p.s IS NULL OR p.s <> s.s THEN 1 ELSE 0 END AS new_run
        |  FROM signs s LEFT JOIN signs p ON p.i = s.i - 1),
        |m2 AS (
        |  SELECT SUM(new_run) AS r, SUM(s) AS n1, SUM(1 - s) AS n2 FROM runs)
        |SELECT CAST(r AS BIGINT) AS runs,
        |       CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
        |       CAST(ROUND((r - (2.0 * n1 * n2 / (n1 + n2) + 1)) /
        |            sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
        |                 (POW(CAST(n1 + n2 AS DOUBLE), 2) * (n1 + n2 - 1))), 6)
        |            AS DOUBLE) AS z
        |FROM m2""".stripMargin)
  }

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

  /** G-test (log-likelihood ratio) of independence between market
    * segment and order priority — the chi-square alternative that is
    * additive across partitions. G = 2Σ O·ln(O/E); each cell term is
    * quantized to DECIMAL(28,12) so the statistic is engine-exact, and
    * the contingency table is one grouped pass plus broadcast marginals.
    */
  val a55_g_test = OpQuery.sql("a55_g_test", "orders", "customer")(
    """WITH joined AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |cells AS (SELECT seg, pri, COUNT(*) AS o FROM joined GROUP BY seg, pri),
      |margins AS (
      |  SELECT seg, SUM(o) AS rs FROM cells GROUP BY seg),
      |cols AS (SELECT pri, SUM(o) AS cs FROM cells GROUP BY pri),
      |tot AS (SELECT SUM(o) AS n FROM cells),
      |terms AS (
      |  SELECT CAST(ROUND(2.0 * c.o *
      |           ln(CAST(c.o AS DOUBLE) * t.n / (m.rs * cl.cs)), 12)
      |           AS DECIMAL(28,12)) AS t
      |  FROM cells c
      |  JOIN margins m ON c.seg = m.seg
      |  JOIN cols cl ON c.pri = cl.pri
      |  CROSS JOIN tot t)
      |SELECT CAST(ROUND(CAST(SUM(t) AS DOUBLE), 6) AS DOUBLE) AS g_stat,
      |       CAST((SELECT COUNT(*) FROM margins) AS BIGINT) AS n_segments,
      |       CAST((SELECT COUNT(*) FROM cols) AS BIGINT) AS n_priorities
      |FROM terms""".stripMargin)

  /** Paired t-test on per-customer spend across two adjacent years:
    * the within-subject design that cancels customer-level variance.
    * Differences are exact integer cents; the t statistic comes from
    * the usual Σd / Σd² moments with one division at the end.
    */
  val a57_paired_ttest = OpQuery.sql("a57_paired_ttest", "orders")(
    """WITH spend AS (
      |  SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS y,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
      |  FROM orders
      |  WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
      |  GROUP BY o_custkey, EXTRACT(year FROM o_orderdate)),
      |paired AS (
      |  SELECT a.o_custkey, b.c - a.c AS d
      |  FROM spend a JOIN spend b
      |    ON a.o_custkey = b.o_custkey AND a.y = 1996 AND b.y = 1997),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(d) AS sd,
      |         SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))) AS sdd
      |  FROM paired)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |       CAST(ROUND(CAST(sd AS DOUBLE) / n / 100, 4) AS DOUBLE) AS mean_diff,
      |       CAST(ROUND((CAST(sd AS DOUBLE) / n) /
      |            (sqrt((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n) / (n - 1))
      |             / sqrt(CAST(n AS DOUBLE))), 6) AS DOUBLE) AS t_stat
      |FROM m""".stripMargin)

  /** Odds ratio of high error RATE (>=10%) by user band (heavy vs light users):
    * the 2×2 effect-size summary with its log-SE — integer cell counts,
    * one pass. The epidemiology-style readout behind "are power users
    * likelier to hit errors?".
    */
  val a59_odds_ratio = OpQuery.sql("a59_odds_ratio", "events")(
    """WITH users AS (
      |  SELECT user_id, COUNT(*) AS n,
      |         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
      |  FROM events GROUP BY user_id),
      |cells AS (
      |  SELECT SUM(CASE WHEN n >= 70 AND errs * 100 >= 10 * n THEN 1 ELSE 0 END) AS a,
      |         SUM(CASE WHEN n >= 70 AND errs * 100 < 10 * n THEN 1 ELSE 0 END) AS b,
      |         SUM(CASE WHEN n < 70 AND errs * 100 >= 10 * n THEN 1 ELSE 0 END) AS c,
      |         SUM(CASE WHEN n < 70 AND errs * 100 < 10 * n THEN 1 ELSE 0 END) AS d
      |  FROM users)
      |SELECT CAST(a AS BIGINT) AS high_heavy, CAST(b AS BIGINT) AS low_heavy,
      |       CAST(c AS BIGINT) AS high_light, CAST(d AS BIGINT) AS low_light,
      |       CAST(ROUND(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6) AS DOUBLE)
      |         AS odds_ratio,
      |       CAST(ROUND(sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d), 6) AS DOUBLE)
      |         AS log_or_se
      |FROM cells""".stripMargin)

  /** Capture–recapture (Lincoln–Petersen) estimate of the active user
    * population from two behavioral "samples" — users seen purchasing
    * vs users seen erroring: N̂ = n₁·n₂ / overlap, with the Chapman
    * bias correction alongside. Three distinct-count aggregates and one
    * inner join on user sets; the estimator data teams use to size
    * what they cannot enumerate.
    */
  val a61_capture_recapture = OpQuery.sql("a61_capture_recapture", "events")(
    """WITH s1 AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |s2 AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
      |m AS (
      |  SELECT (SELECT COUNT(*) FROM s1) AS n1,
      |         (SELECT COUNT(*) FROM s2) AS n2,
      |         (SELECT COUNT(*) FROM s1 JOIN s2 USING (user_id)) AS overlap)
      |SELECT CAST(n1 AS BIGINT) AS n_purchasers, CAST(n2 AS BIGINT) AS n_errorers,
      |       CAST(overlap AS BIGINT) AS overlap,
      |       CAST(ROUND(CAST(n1 AS DOUBLE) * n2 / overlap, 4) AS DOUBLE)
      |         AS lincoln_petersen,
      |       CAST(ROUND((CAST(n1 + 1 AS DOUBLE)) * (n2 + 1) / (overlap + 1) - 1, 4)
      |            AS DOUBLE) AS chapman
      |FROM m""".stripMargin)

  /** Ljung–Box whiteness statistic over lags 1–5 of the daily purchase
    * series: n(n+2)·Σ ρₖ²/(n−k) — "is there ANY autocorrelation left?"
    * in one number. Each lag's ρ comes from exact integer cross-sums
    * over the self-joined day series; the five quantized terms sum as
    * DECIMAL.
    */
  val a63_ljung_box = OpQuery.sql("a63_ljung_box", "events")(
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS s,
      |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sq
      |  FROM daily),
      |lags AS (SELECT unnest(range(1, 6)) AS k),
      |rhos AS (
      |  SELECT l.k,
      |         SUM((a.x - CAST(m.s AS DOUBLE) / m.n) *
      |             (b.x - CAST(m.s AS DOUBLE) / m.n)) /
      |           MAX(CAST(m.sq AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n) AS rho,
      |         MAX(m.n) AS n
      |  FROM lags l
      |  JOIN daily a ON TRUE
      |  JOIN daily b ON b.d = a.d + l.k
      |  CROSS JOIN m
      |  GROUP BY l.k),
      |terms AS (
      |  SELECT n, CAST(ROUND(rho * rho / (n - k), 12) AS DECIMAL(28,12)) AS t
      |  FROM rhos)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_days,
      |       CAST(ROUND(MAX(n) * (MAX(n) + 2.0) * CAST(SUM(t) AS DOUBLE), 6) AS DOUBLE)
      |         AS ljung_box_q
      |FROM terms""".stripMargin,
    "epoch(" -> "unix_timestamp(",
    "unnest(range(1, 6))" -> "explode(sequence(1, 5))")

  /** Spearman rank correlation between a customer's account balance and
    * their realized spend: Pearson over ranks, with ranks pinned by a
    * custkey tie-break so every intermediate is an exact integer until
    * the final division. Two window ranks + one moment pass — the
    * monotonic-association check that survives outliers Pearson
    * doesn't.
    */
  val a64_spearman = OpQuery(
    "a64_spearman",
    """WITH spend AS (
      |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |           AS cents
      |  FROM orders GROUP BY o_custkey),
      |joined AS (
      |  SELECT c.c_custkey, CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           AS bal, s.cents
      |  FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey),
      |ranked AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY bal, c_custkey) AS rx,
      |         ROW_NUMBER() OVER (ORDER BY cents, c_custkey) AS ry
      |  FROM joined),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
      |         SUM(rx * ry) AS sxy,
      |         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
      |  FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |            (sqrt(CAST(n AS DOUBLE) * sxx - POW(CAST(sx AS DOUBLE), 2)) *
      |             sqrt(CAST(n AS DOUBLE) * syy - POW(CAST(sy AS DOUBLE), 2))), 6)
      |            AS DOUBLE) AS spearman_rho
      |FROM m""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_sp_orders")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("graft_sp_customer")
    // both rank columns via chained TotalOrder passes (rowNumber keeps
    // every input column, so the second ranking runs over the first's
    // output) — each window form single-reduced the whole per-customer
    // frame, twice
    import org.apache.spark.sql.functions.col
    val spJoined = spark.sql(
      """SELECT c.c_custkey,
        |       CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
        |       s.cents
        |FROM graft_sp_customer c
        |JOIN (SELECT o_custkey,
        |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |               AS cents
        |      FROM graft_sp_orders GROUP BY o_custkey) s
        |  ON c.c_custkey = s.o_custkey""".stripMargin)
    val rankedX = graft.operators.TotalOrder
      .rowNumber(spJoined, Seq(col("bal"), col("c_custkey")), "rx")
    graft.operators.TotalOrder
      .rowNumber(rankedX, Seq(col("cents"), col("c_custkey")), "ry")
      .select(col("rx"), col("ry"))
      .createOrReplaceTempView("graft_sp_ranked")
    spark.sql(
      """WITH ranked AS (SELECT rx, ry FROM graft_sp_ranked),
        |m AS (
        |  SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
        |         SUM(rx * ry) AS sxy,
        |         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
        |  FROM ranked)
        |SELECT CAST(n AS BIGINT) AS n,
        |       CAST(ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |            (sqrt(CAST(n AS DOUBLE) * sxx - POW(CAST(sx AS DOUBLE), 2)) *
        |             sqrt(CAST(n AS DOUBLE) * syy - POW(CAST(sy AS DOUBLE), 2))), 6)
        |            AS DOUBLE) AS spearman_rho
        |FROM m""".stripMargin)
  }

  /** Kendall's tau-a on a 200-customer slice: concordant minus
    * discordant pairs over n(n−1)/2, all integer counting. The pair
    * join is the documented quadratic ground-truth quarantine (the
    * scale path is Spearman above — one sort instead of n² pairs).
    */
  val a65_kendall_tau = OpQuery.sql("a65_kendall_tau", "orders", "customer")(
    """WITH spend AS (
      |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |           AS cents
      |  FROM orders GROUP BY o_custkey),
      |joined AS (
      |  SELECT c.c_custkey, CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           AS bal, s.cents
      |  FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey
      |  WHERE c.c_custkey < 200),
      |pairs AS (
      |  SELECT CASE WHEN (a.bal - b.bal) * (a.cents - b.cents) > 0 THEN 1 ELSE 0 END AS conc,
      |         CASE WHEN (a.bal - b.bal) * (a.cents - b.cents) < 0 THEN 1 ELSE 0 END AS disc
      |  FROM joined a JOIN joined b ON a.c_custkey < b.c_custkey),
      |m AS (SELECT SUM(conc) AS c, SUM(disc) AS d, COUNT(*) AS np FROM pairs)
      |SELECT CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
      |       CAST(np AS BIGINT) AS n_pairs,
      |       CAST(ROUND(CAST(c - d AS DOUBLE) / np, 6) AS DOUBLE) AS kendall_tau
      |FROM m""".stripMargin)

  /** Hurst exponent via rescaled-range (R/S) analysis of the daily
    * purchase series at block sizes 4/8/16: per block the cumulative
    * deviation range over the block std, averaged per size, then the
    * log–log least-squares slope — the long-memory probe behind
    * capacity forecasts. Deviations are quantized to DECIMAL before
    * their running sums, block moments are exact cents, and the final
    * slope is pinned three-point least squares.
    */
  val a66_hurst_exponent = OpQuery(
    "a66_hurst_exponent",
    """WITH daily AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x FROM (
      |    SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
      |           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
      |    FROM events WHERE event_type = 'purchase' GROUP BY 1) t),
      |sized AS (
      |  SELECT s.s, d.rn, d.x, CAST((d.rn - 1) AS BIGINT) // s.s AS blk
      |  FROM daily d, (SELECT unnest([4, 8, 16]) AS s) s),
      |counted AS (
      |  SELECT s, blk, COUNT(*) AS bn, SUM(x) AS bs,
      |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS bsq
      |  FROM sized GROUP BY s, blk
      |  HAVING COUNT(*) = MAX(s)),
      |devs AS (
      |  SELECT z.s, z.blk, z.rn,
      |         SUM(CAST(ROUND(z.x - CAST(c.bs AS DOUBLE) / c.bn, 9) AS DECIMAL(28,9)))
      |           OVER (PARTITION BY z.s, z.blk ORDER BY z.rn
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sqrt(CAST(c.bsq AS DOUBLE) / c.bn -
      |              POW(CAST(c.bs AS DOUBLE) / c.bn, 2)) AS sd
      |  FROM sized z JOIN counted c ON z.s = c.s AND z.blk = c.blk),
      |rs AS (
      |  SELECT s, blk,
      |         CAST(ROUND((MAX(CAST(cum AS DOUBLE)) - MIN(CAST(cum AS DOUBLE)))
      |                    / MAX(sd), 9) AS DECIMAL(28,9)) AS r_over_s
      |  FROM devs GROUP BY s, blk),
      |per_size AS (
      |  SELECT s, ln(CAST(s AS DOUBLE)) AS lx,
      |         ln(CAST(SUM(r_over_s) AS DOUBLE) / COUNT(*)) AS ly
      |  FROM rs GROUP BY s),
      |fit AS (
      |  SELECT COUNT(*) AS k, SUM(lx) AS sx, SUM(ly) AS sy,
      |         SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
      |  FROM per_size)
      |SELECT CAST(k AS INT) AS n_sizes,
      |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
      |         AS hurst
      |FROM fit""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_hu_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x FROM (
        |    SELECT CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT) AS d,
        |           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
        |    FROM graft_hu_events WHERE event_type = 'purchase' GROUP BY 1) t),
        |sized AS (
        |  SELECT s.s, d.rn, d.x, CAST((d.rn - 1) AS BIGINT) DIV s.s AS blk
        |  FROM daily d CROSS JOIN (SELECT explode(array(4, 8, 16)) AS s) s),
        |counted AS (
        |  SELECT s, blk, COUNT(*) AS bn, SUM(x) AS bs,
        |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS bsq
        |  FROM sized GROUP BY s, blk
        |  HAVING COUNT(*) = MAX(s)),
        |devs AS (
        |  SELECT z.s, z.blk, z.rn,
        |         SUM(CAST(ROUND(z.x - CAST(c.bs AS DOUBLE) / c.bn, 9) AS DECIMAL(28,9)))
        |           OVER (PARTITION BY z.s, z.blk ORDER BY z.rn
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sqrt(CAST(c.bsq AS DOUBLE) / c.bn -
        |              POW(CAST(c.bs AS DOUBLE) / c.bn, 2)) AS sd
        |  FROM sized z JOIN counted c ON z.s = c.s AND z.blk = c.blk),
        |rs AS (
        |  SELECT s, blk,
        |         CAST(ROUND((MAX(CAST(cum AS DOUBLE)) - MIN(CAST(cum AS DOUBLE)))
        |                    / MAX(sd), 9) AS DECIMAL(28,9)) AS r_over_s
        |  FROM devs GROUP BY s, blk),
        |per_size AS (
        |  SELECT s, ln(CAST(s AS DOUBLE)) AS lx,
        |         ln(CAST(SUM(r_over_s) AS DOUBLE) / COUNT(*)) AS ly
        |  FROM rs GROUP BY s),
        |fit AS (
        |  SELECT COUNT(*) AS k, SUM(lx) AS sx, SUM(ly) AS sy,
        |         SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
        |  FROM per_size)
        |SELECT CAST(k AS INT) AS n_sizes,
        |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
        |         AS hurst
        |FROM fit""".stripMargin)
  }

  /** Two-sample Poisson rate test: error rate in the first half of the
    * observation window vs the second — the deploy-regression check.
    * Exposure is exact epoch seconds; the z statistic uses the
    * square-root (variance-stabilizing) form, all from four integers.
    */
  val a67_poisson_rate_test = OpQuery(
    "a67_poisson_rate_test",
    """WITH bounds AS (
      |  SELECT MIN(TRUNC(epoch(ts))::BIGINT) AS lo, MAX(TRUNC(epoch(ts))::BIGINT) AS hi
      |  FROM events),
      |halves AS (
      |  SELECT CASE WHEN TRUNC(epoch(ts))::BIGINT * 2 < b.lo + b.hi THEN 0 ELSE 1 END
      |           AS half,
      |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      |  FROM events CROSS JOIN bounds b),
      |m AS (
      |  SELECT SUM(CASE WHEN half = 0 THEN is_err ELSE 0 END) AS e1,
      |         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
      |         SUM(CASE WHEN half = 1 THEN is_err ELSE 0 END) AS e2,
      |         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2
      |  FROM halves)
      |SELECT CAST(e1 AS BIGINT) AS errors_h1, CAST(n1 AS BIGINT) AS events_h1,
      |       CAST(e2 AS BIGINT) AS errors_h2, CAST(n2 AS BIGINT) AS events_h2,
      |       CAST(ROUND((CAST(e2 AS DOUBLE) / n2) / (CAST(e1 AS DOUBLE) / n1), 6)
      |            AS DOUBLE) AS rate_ratio,
      |       CAST(ROUND(2 * (sqrt(CAST(e2 AS DOUBLE) + 0.375) -
      |                       sqrt((CAST(e1 AS DOUBLE) + 0.375) * n2 / n1)) /
      |                  sqrt(1 + CAST(n2 AS DOUBLE) / n1), 6) AS DOUBLE) AS z_anscombe
      |FROM m""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_pr_events")
    spark.sql(
      """WITH bounds AS (
        |  SELECT MIN(unix_timestamp(ts)) AS lo, MAX(unix_timestamp(ts)) AS hi
        |  FROM graft_pr_events),
        |halves AS (
        |  SELECT CASE WHEN unix_timestamp(ts) * 2 < b.lo + b.hi THEN 0 ELSE 1 END
        |           AS half,
        |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
        |  FROM graft_pr_events CROSS JOIN bounds b),
        |m AS (
        |  SELECT SUM(CASE WHEN half = 0 THEN is_err ELSE 0 END) AS e1,
        |         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
        |         SUM(CASE WHEN half = 1 THEN is_err ELSE 0 END) AS e2,
        |         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2
        |  FROM halves)
        |SELECT CAST(e1 AS BIGINT) AS errors_h1, CAST(n1 AS BIGINT) AS events_h1,
        |       CAST(e2 AS BIGINT) AS errors_h2, CAST(n2 AS BIGINT) AS events_h2,
        |       CAST(ROUND((CAST(e2 AS DOUBLE) / n2) / (CAST(e1 AS DOUBLE) / n1), 6)
        |            AS DOUBLE) AS rate_ratio,
        |       CAST(ROUND(2 * (sqrt(CAST(e2 AS DOUBLE) + 0.375) -
        |                       sqrt((CAST(e1 AS DOUBLE) + 0.375) * n2 / n1)) /
        |                  sqrt(1 + CAST(n2 AS DOUBLE) / n1), 6) AS DOUBLE) AS z_anscombe
        |FROM m""".stripMargin)
  }

  /** Weibull shape/scale fit of inter-purchase gaps by median-rank
    * regression: sort the gaps, F̂ᵢ = (i−0.3)/(n+0.4), regress
    * ln(−ln(1−F̂)) on ln(gap) — shape is the slope, scale from the
    * intercept. The reliability-engineering fit, here sizing purchase
    * cadence; ranks are exact integers, gaps exact seconds.
    */
  val a72_weibull_fit = OpQuery(
    "a72_weibull_fit",
    """WITH gaps AS (
      |  SELECT TRUNC(epoch(ts))::BIGINT -
      |         LAG(TRUNC(epoch(ts))::BIGINT) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS g
      |  FROM events WHERE event_type = 'purchase'),
      |clean AS (SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0),
      |ranked AS (
      |  SELECT g, ROW_NUMBER() OVER (ORDER BY g) AS i, COUNT(*) OVER () AS n
      |  FROM clean),
      |terms AS (
      |  SELECT ln(CAST(g AS DOUBLE)) AS x,
      |         ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) AS y
      |  FROM ranked),
      |fit AS (
      |  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM terms)
      |SELECT CAST(k AS BIGINT) AS n_gaps,
      |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
      |         AS weibull_shape,
      |       CAST(ROUND(exp(-((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k)
      |                  / ((k * sxy - sx * sy) / (k * sxx - sx * sx))), 2) AS DOUBLE)
      |         AS weibull_scale_sec
      |FROM fit""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_wb_events")
    val clean = spark.sql(
      """WITH gaps AS (
        |  SELECT unix_timestamp(ts) -
        |         LAG(unix_timestamp(ts)) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS g
        |  FROM graft_wb_events WHERE event_type = 'purchase')
        |SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0""".stripMargin)
    // gap-table-sized global rank + count → TotalOrder's range-shuffle
    // pair (winscan r9: RAW global window). Within equal gaps the rank
    // assignment is arbitrary in both forms, and the Weibull plotting
    // position y depends only on (i, n) while x depends only on g, so
    // any within-tie permutation leaves every downstream sum unchanged.
    graft.operators.TotalOrder
      .rowNumberWithCount(clean, Seq(col("g")), rnCol = "i", nCol = "n")
      .createOrReplaceTempView("graft_wb_ranked")
    spark.sql(
      """WITH ranked AS (SELECT g, i, n FROM graft_wb_ranked),
        |terms AS (
        |  SELECT ln(CAST(g AS DOUBLE)) AS x,
        |         ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) AS y
        |  FROM ranked),
        |fit AS (
        |  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM terms)
        |SELECT CAST(k AS BIGINT) AS n_gaps,
        |       CAST(ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS DOUBLE)
        |         AS weibull_shape,
        |       CAST(ROUND(exp(-((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k)
        |                  / ((k * sxy - sx * sy) / (k * sxx - sx * sx))), 2) AS DOUBLE)
        |         AS weibull_scale_sec
        |FROM fit""".stripMargin)
  }

  /** Beta(1,1)-posterior error rates per event type with normal-approx
    * 95% credible intervals — the Bayesian shrinkage readout that keeps
    * small-sample types from screaming. Closed-form arithmetic over
    * integer counts; one grouped pass.
    */
  val a73_beta_binomial = OpQuery.sql("a73_beta_binomial", "events")(
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n,
      |         SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS hits
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |agg AS (
      |  SELECT event_type, SUM(n) AS n, SUM(hits) AS h FROM daily GROUP BY event_type),
      |post AS (
      |  SELECT event_type, n, h,
      |         (CAST(h AS DOUBLE) + 1) / (n + 2) AS mean,
      |         sqrt((CAST(h AS DOUBLE) + 1) * (n - h + 1) /
      |              (POW(CAST(n AS DOUBLE) + 2, 2) * (n + 3))) AS sd
      |  FROM agg)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(h AS BIGINT) AS hits,
      |       CAST(ROUND(mean, 6) AS DOUBLE) AS posterior_mean,
      |       CAST(ROUND(mean - 1.96 * sd, 6) AS DOUBLE) AS ci_lo,
      |       CAST(ROUND(mean + 1.96 * sd, 6) AS DOUBLE) AS ci_hi
      |FROM post
      |ORDER BY event_type""".stripMargin,
    "CAST(ts AS DATE)" -> "to_date(ts)")

  /** Sample-ratio mismatch: the md5 hash split (the same assignment the
    * data_split gate uses) checked against its intended 50/50 ratio
    * with a binomial z — the guardrail that must pass before ANY A/B
    * readout is believed. Counts exact, one aggregate.
    */
  val a74_srm_check = OpQuery.sql("a74_srm_check", "events")(
    """WITH assigned AS (
      |  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |                    AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      |  FROM (SELECT DISTINCT user_id FROM events) u),
      |m AS (
      |  SELECT SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS a,
      |         COUNT(*) AS n
      |  FROM assigned)
      |SELECT CAST(a AS BIGINT) AS arm_a, CAST(n - a AS BIGINT) AS arm_b,
      |       CAST(ROUND((a - n * 0.5) / sqrt(n * 0.25), 6) AS DOUBLE) AS srm_z,
      |       (ABS((a - n * 0.5) / sqrt(n * 0.25)) < 3) AS ratio_ok
      |FROM m""".stripMargin,
    "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))" ->
      "conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)")

  /** Mann-Whitney U rank-sum test (normal approximation, tie-corrected
    * variance): are URGENT order totals distributed differently from LOW?
    * Midranks come from RANK() + the per-value tie count — one global
    * sort, no per-pair comparison (the textbook U would be an n² join).
    * Exact DECIMAL ranking keys keep the midrank arithmetic (halves)
    * bit-identical across engines.
    */
  val a75_mann_whitney = OpQuery(
    "a75_mann_whitney",
    """WITH s AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |), rk AS (
      |  SELECT v, grp, RANK() OVER (ORDER BY v) AS r,
      |         COUNT(*) OVER (PARTITION BY v) AS tie
      |  FROM s
      |), agg AS (
      |  SELECT SUM(CASE WHEN grp = 1 THEN r + (tie - 1) / 2.0 END) AS r1,
      |         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1,
      |         SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n2
      |  FROM rk
      |), tt AS (
      |  SELECT SUM(CAST(t AS DOUBLE) * t * t - t) AS tsum
      |  FROM (SELECT v, MAX(tie) AS t FROM rk GROUP BY v)
      |)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(ROUND(r1 - n1 * (n1 + 1) / 2.0, 4) AS DOUBLE) AS u,
      |       CAST(ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) /
      |            SQRT(n1 * n2 / 12.0 * ((n1 + n2 + 1) -
      |                 tsum / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 6)
      |            AS DOUBLE) AS z
      |FROM agg CROSS JOIN tt""".stripMargin) { (spark, dir) =>
    val s = t(spark, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_totalprice").cast("decimal(18,2)").as("v"),
        when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("grp"))
    // Ranks enter U only through midranks, and a value's midrank is a
    // function of the DISTINCT-value prefix counts: midrank(v) =
    // cum_cnt(≤v) - cnt(v) + (cnt(v)+1)/2. Aggregate per value first,
    // then one distributed TotalOrder prefix sum — no global rank window
    // over the order-sized frame. Midranks are exact multiples of 0.5,
    // so the regrouped double sums are bit-equal to the per-row form.
    val perV = s.groupBy(col("v")).agg(
      count(lit(1)).as("tie"),
      sum(col("grp")).cast("long").as("c1"))
    val cum = graft.operators.TotalOrder
      .prefixSum(perV, Seq(col("v").asc), "tie", "cumt")
    val midrank = col("cumt") - col("tie") + (col("tie") + 1) / 2.0
    val agg = cum.agg(
      sum(col("c1") * midrank).as("r1"),
      sum(col("c1")).as("n1"),
      sum(col("tie") - col("c1")).as("n2"))
    val tsum = cum.agg(
      sum(col("tie").cast("double") * col("tie") * col("tie") - col("tie"))
        .as("tsum"))
    val n1 = col("n1"); val n2 = col("n2")
    val u = col("r1") - n1 * (n1 + lit(1)) / lit(2.0)
    agg.crossJoin(tsum).select(
      n1.cast("long").as("n1"), n2.cast("long").as("n2"),
      round(u, 4).cast("double").as("u"),
      round((u - n1 * n2 / lit(2.0)) /
        sqrt(n1 * n2 / lit(12.0) * ((n1 + n2 + lit(1)) -
          col("tsum") / ((n1 + n2).cast("double") * (n1 + n2 - lit(1))))), 6)
        .cast("double").as("z"))
  }

  /** Cramér's V between order priority and order status — the effect
    * size the a41 chi-square test lacks: chi², dof, V, and the Bergsma
    * bias-corrected V. The contingency table is one groupBy; expected
    * counts come from a margins cross-join (5×3 rows, broadcast), so no
    * second pass over the fact table.
    */
  val a76_cramers_v = OpQuery(
    "a76_cramers_v",
    """WITH obs AS (
      |  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2
      |), tot AS (SELECT SUM(n) AS nn FROM obs),
      |ma AS (SELECT a, SUM(n) AS na FROM obs GROUP BY 1),
      |mb AS (SELECT b, SUM(n) AS nb FROM obs GROUP BY 1),
      |cells AS (
      |  SELECT ma.a, mb.b, COALESCE(obs.n, 0) AS n,
      |         CAST(ma.na AS DOUBLE) * mb.nb / tot.nn AS e
      |  FROM ma CROSS JOIN mb CROSS JOIN tot
      |  LEFT JOIN obs ON obs.a = ma.a AND obs.b = mb.b
      |), chi AS (
      |  SELECT SUM((n - e) * (n - e) / e) AS chi2 FROM cells
      |), dims AS (
      |  SELECT (SELECT COUNT(*) FROM ma) AS r, (SELECT COUNT(*) FROM mb) AS c
      |)
      |SELECT CAST(tot.nn AS BIGINT) AS n,
      |       CAST((dims.r - 1) * (dims.c - 1) AS INT) AS dof,
      |       CAST(ROUND(chi.chi2, 6) AS DOUBLE) AS chi2,
      |       CAST(ROUND(SQRT(chi.chi2 / (tot.nn *
      |            LEAST(dims.r - 1, dims.c - 1))), 6) AS DOUBLE) AS v,
      |       CAST(ROUND(SQRT(
      |         GREATEST(0.0, chi.chi2 / tot.nn -
      |           CAST((dims.r - 1) * (dims.c - 1) AS DOUBLE) / (tot.nn - 1)) /
      |         LEAST(dims.r - CAST((dims.r - 1) * (dims.r - 1) AS DOUBLE)
      |                 / (tot.nn - 1),
      |               dims.c - CAST((dims.c - 1) * (dims.c - 1) AS DOUBLE)
      |                 / (tot.nn - 1)) - 1.0 + 1.0), 6) AS DOUBLE) AS v_corrected
      |FROM chi CROSS JOIN tot CROSS JOIN dims""".stripMargin) { (spark, dir) =>
    val obs = t(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("a"), col("o_orderstatus").as("b"))
      .agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum(col("n")).as("nn"))
    val ma = obs.groupBy("a").agg(sum(col("n")).as("na"))
    val mb = obs.groupBy("b").agg(sum(col("n")).as("nb"))
    val cells = ma.crossJoin(mb).crossJoin(tot)
      .join(obs, Seq("a", "b"), "left")
      .select(coalesce(col("n"), lit(0L)).as("n"),
        (col("na").cast("double") * col("nb") / col("nn")).as("e"))
    val chi = cells.agg(
      sum((col("n") - col("e")) * (col("n") - col("e")) / col("e")).as("chi2"))
    val dims = ma.agg(count(lit(1)).as("r"))
      .crossJoin(mb.agg(count(lit(1)).as("c")))
    val r = col("r"); val c = col("c"); val nn = col("nn")
    val phi2corr = greatest(lit(0.0),
      col("chi2") / nn - ((r - 1) * (c - 1)).cast("double") / (nn - 1))
    val denomCorr = least(
      r - ((r - 1) * (r - 1)).cast("double") / (nn - 1),
      c - ((c - 1) * (c - 1)).cast("double") / (nn - 1)) - lit(1.0) + lit(1.0)
    chi.crossJoin(tot).crossJoin(dims).select(
      nn.cast("long").as("n"),
      ((r - 1) * (c - 1)).cast("int").as("dof"),
      round(col("chi2"), 6).cast("double").as("chi2"),
      round(sqrt(col("chi2") / (nn * least(r - 1, c - 1))), 6)
        .cast("double").as("v"),
      round(sqrt(phi2corr / denomCorr), 6).cast("double").as("v_corrected"))
  }

  /** Cohen's d and Hedges' g between URGENT and LOW order totals: pooled
    * standard deviation from exact DECIMAL sum/sum-of-squares (one pass,
    * two groups), so the double math downstream is bit-deterministic.
    * The small-sample Hedges correction d·(1 − 3/(4N−9)) rides along.
    */
  val a77_cohens_d = OpQuery(
    "a77_cohens_d",
    """WITH s AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS v
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |), g AS (
      |  SELECT grp, COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2
      |  FROM s GROUP BY 1
      |), w AS (
      |  SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n1,
      |         MAX(CASE WHEN grp = 0 THEN n END) AS n2,
      |         MAX(CASE WHEN grp = 1 THEN CAST(s1 AS DOUBLE) END) AS a1,
      |         MAX(CASE WHEN grp = 0 THEN CAST(s1 AS DOUBLE) END) AS a2,
      |         MAX(CASE WHEN grp = 1 THEN CAST(s2 AS DOUBLE) END) AS b1,
      |         MAX(CASE WHEN grp = 0 THEN CAST(s2 AS DOUBLE) END) AS b2
      |  FROM g
      |)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(ROUND(a1 / n1 - a2 / n2, 4) AS DOUBLE) AS mean_diff,
      |       CAST(ROUND(SQRT(((b1 - a1 * a1 / n1) + (b2 - a2 * a2 / n2))
      |            / (n1 + n2 - 2)), 4) AS DOUBLE) AS pooled_sd,
      |       CAST(ROUND((a1 / n1 - a2 / n2) /
      |            SQRT(((b1 - a1 * a1 / n1) + (b2 - a2 * a2 / n2))
      |                 / (n1 + n2 - 2)), 6) AS DOUBLE) AS d,
      |       CAST(ROUND((a1 / n1 - a2 / n2) /
      |            SQRT(((b1 - a1 * a1 / n1) + (b2 - a2 * a2 / n2))
      |                 / (n1 + n2 - 2))
      |            * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS DOUBLE)
      |         AS hedges_g
      |FROM w""".stripMargin) { (spark, dir) =>
    val s = t(spark, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)
        .as("grp"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
    val g = s.groupBy("grp").agg(count(lit(1)).as("n"),
      sum(col("v")).as("s1"), sum(col("v") * col("v")).as("s2"))
    val w = g.agg(
      max(when(col("grp") === 1, col("n"))).as("n1"),
      max(when(col("grp") === 0, col("n"))).as("n2"),
      max(when(col("grp") === 1, col("s1").cast("double"))).as("a1"),
      max(when(col("grp") === 0, col("s1").cast("double"))).as("a2"),
      max(when(col("grp") === 1, col("s2").cast("double"))).as("b1"),
      max(when(col("grp") === 0, col("s2").cast("double"))).as("b2"))
    val n1 = col("n1"); val n2 = col("n2")
    val meanDiff = col("a1") / n1 - col("a2") / n2
    val pooledSd = sqrt(((col("b1") - col("a1") * col("a1") / n1) +
      (col("b2") - col("a2") * col("a2") / n2)) / (n1 + n2 - 2))
    w.select(n1.cast("long").as("n1"), n2.cast("long").as("n2"),
      round(meanDiff, 4).cast("double").as("mean_diff"),
      round(pooledSd, 4).cast("double").as("pooled_sd"),
      round(meanDiff / pooledSd, 6).cast("double").as("d"),
      round(meanDiff / pooledSd *
        (lit(1.0) - lit(3.0) / (lit(4.0) * (n1 + n2) - lit(9.0))), 6)
        .cast("double").as("hedges_g"))
  }

  /** One-way ANOVA across the five order priorities on order totals:
    * F statistic and eta² from per-group exact DECIMAL sum/sum-of-squares
    * — one grouped pass plus a 5-row reduction, the same
    * sufficient-statistics discipline as a77_cohens_d (never a second
    * scan for the grand mean).
    */
  val a80_anova = OpQuery(
    "a80_anova",
    """WITH g AS (
      |  SELECT o_orderpriority,
      |         COUNT(*) AS n,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
      |             CAST(o_totalprice AS DECIMAL(18,2))) AS s2
      |  FROM orders GROUP BY 1
      |), parts AS (
      |  SELECT COUNT(*) AS k, SUM(n) AS nn,
      |         SUM(CAST(s1 AS DOUBLE)) AS ts1,
      |         SUM(CAST(s2 AS DOUBLE)) AS ts2,
      |         SUM(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) AS sq
      |  FROM g
      |)
      |SELECT CAST(k AS INT) AS k, CAST(nn AS BIGINT) AS n,
      |       CAST(ROUND((sq - ts1 * ts1 / nn) / (k - 1) /
      |            ((ts2 - sq) / (nn - k)), 6) AS DOUBLE) AS f,
      |       CAST(ROUND((sq - ts1 * ts1 / nn) /
      |            (ts2 - ts1 * ts1 / nn), 6) AS DOUBLE) AS eta_sq
      |FROM parts""".stripMargin) { (spark, dir) =>
    val v = col("o_totalprice").cast("decimal(18,2)")
    val g = t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(v).as("s1"), sum(v * v).as("s2"))
    val parts = g.agg(
      count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("s1").cast("double")).as("ts1"),
      sum(col("s2").cast("double")).as("ts2"),
      sum(col("s1").cast("double") * col("s1").cast("double") / col("n"))
        .as("sq"))
    val k = col("k"); val nn = col("nn")
    val ssb = col("sq") - col("ts1") * col("ts1") / nn
    val ssw = col("ts2") - col("sq")
    val sst = col("ts2") - col("ts1") * col("ts1") / nn
    parts.select(k.cast("int").as("k"), nn.cast("long").as("n"),
      round(ssb / (k - 1) / (ssw / (nn - k)), 6).cast("double").as("f"),
      round(ssb / sst, 6).cast("double").as("eta_sq"))
  }

  /** Grubbs outlier statistic per priority group: G = max|x−x̄|/s with
    * the achieving order key. Mean and sample SD come from exact DECIMAL
    * sufficient statistics (one grouped pass); the argmax is a
    * deterministic row_number over (|x−x̄| DESC, key) — no second scan,
    * no float accumulator ordering.
    */
  val a81_grubbs = OpQuery(
    "a81_grubbs",
    """WITH s AS (
      |  SELECT o_orderpriority AS pri, o_orderkey,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS v
      |  FROM orders
      |), g AS (
      |  SELECT pri, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS s1,
      |         CAST(SUM(v * v) AS DOUBLE) AS s2
      |  FROM s GROUP BY 1
      |), st AS (
      |  SELECT pri, n, s1 / n AS mu,
      |         SQRT((s2 - s1 * s1 / n) / (n - 1)) AS sd
      |  FROM g
      |), r AS (
      |  SELECT s.pri, st.n, s.o_orderkey,
      |         ABS(CAST(s.v AS DOUBLE) - st.mu) / st.sd AS gstat,
      |         ROW_NUMBER() OVER (PARTITION BY s.pri
      |             ORDER BY ABS(CAST(s.v AS DOUBLE) - st.mu) DESC, s.o_orderkey)
      |           AS rn
      |  FROM s JOIN st ON s.pri = st.pri
      |)
      |SELECT pri AS o_orderpriority, CAST(n AS BIGINT) AS n,
      |       o_orderkey AS outlier_key,
      |       CAST(ROUND(gstat, 6) AS DOUBLE) AS g
      |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin) {
    (spark, dir) =>
    val s = t(spark, dir, "orders").select(
      col("o_orderpriority").as("pri"), col("o_orderkey"),
      col("o_totalprice").cast("decimal(18,2)").as("v"))
    val g = s.groupBy("pri").agg(count(lit(1)).as("n"),
      sum(col("v")).cast("double").as("s1"),
      sum(col("v") * col("v")).cast("double").as("s2"))
    val st = g.select(col("pri"), col("n"),
      (col("s1") / col("n")).as("mu"),
      sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
        .as("sd"))
    val dev = abs(col("v").cast("double") - col("mu"))
    val r = s.join(st, "pri").select(col("pri"), col("n"), col("o_orderkey"),
      (dev / col("sd")).as("gstat"),
      row_number().over(Window.partitionBy("pri")
        .orderBy(dev.desc, col("o_orderkey"))).as("rn"))
    r.filter(col("rn") === 1)
      .select(col("pri").as("o_orderpriority"), col("n").cast("long").as("n"),
        col("o_orderkey").as("outlier_key"),
        round(col("gstat"), 6).cast("double").as("g"))
      .orderBy("o_orderpriority")
  }

  /** Jarque–Bera normality test on order totals: skewness and excess
    * kurtosis from raw power sums of the 1e5-scaled value (keeps x⁴
    * inside double precision), JB = n/6·(S² + K²/4). The scale factor
    * cancels in both moment ratios, so the statistic is unchanged —
    * documented contract.
    */
  val a83_jarque_bera = OpQuery(
    "a83_jarque_bera",
    """WITH s AS (
      |  SELECT CAST(o_totalprice AS DOUBLE) / 100000 AS x FROM orders
      |), m AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2,
      |         SUM(x * x * x) AS s3, SUM(x * x * x * x) AS s4
      |  FROM s
      |), c AS (
      |  SELECT n, s1 / n AS mu,
      |         s2 / n - s1 / n * (s1 / n) AS m2,
      |         s3 / n - 3 * (s1 / n) * (s2 / n)
      |           + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
      |         s4 / n - 4 * (s1 / n) * (s3 / n)
      |           + 6 * (s1 / n) * (s1 / n) * (s2 / n)
      |           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      |  FROM m
      |)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(m3 / POW(m2, 1.5), 6) AS DOUBLE) AS skewness,
      |       CAST(ROUND(m4 / (m2 * m2) - 3, 6) AS DOUBLE) AS ex_kurtosis,
      |       CAST(ROUND(n / 6.0 * (m3 / POW(m2, 1.5) * (m3 / POW(m2, 1.5))
      |            + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4), 4)
      |         AS DOUBLE) AS jb
      |FROM c""".stripMargin) { (spark, dir) =>
    val x = col("o_totalprice").cast("double") / 100000
    val m = t(spark, dir, "orders").select(x.as("x")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("s1"),
      sum(col("x") * col("x")).as("s2"),
      sum(col("x") * col("x") * col("x")).as("s3"),
      sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
    val n = col("n")
    val mu = col("s1") / n
    val m2 = col("s2") / n - mu * mu
    val m3 = col("s3") / n - lit(3) * mu * (col("s2") / n) +
      lit(2) * mu * mu * mu
    val m4 = col("s4") / n - lit(4) * mu * (col("s3") / n) +
      lit(6) * mu * mu * (col("s2") / n) - lit(3) * mu * mu * mu * mu
    val skew = m3 / pow(m2, 1.5)
    val kurt = m4 / (m2 * m2) - 3
    m.select(n.cast("long").as("n"),
      round(skew, 6).cast("double").as("skewness"),
      round(kurt, 6).cast("double").as("ex_kurtosis"),
      round(n / lit(6.0) * (skew * skew + kurt * kurt / 4), 4)
        .cast("double").as("jb"))
  }

  /** Welch's unequal-variance two-sample t-test: URGENT vs LOW order
    * totals. Group moments come from exact DECIMAL power sums (order-
    * independent), the t statistic and Welch–Satterthwaite degrees of
    * freedom from doubles on top — one scan, one 2-row aggregate.
    */
  val a84_welch_ttest = OpQuery(
    "a84_welch_ttest",
    """WITH g AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS x
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |m AS (
      |  SELECT grp, COUNT(*) AS n, SUM(x) AS s1,
      |         SUM(CAST(x * x AS DECIMAL(38,4))) AS s2
      |  FROM g GROUP BY grp),
      |p AS (
      |  SELECT
      |    MAX(CASE WHEN grp = 1 THEN n END) AS n1,
      |    MAX(CASE WHEN grp = 0 THEN n END) AS n2,
      |    MAX(CASE WHEN grp = 1 THEN CAST(s1 AS DOUBLE) END) AS a1,
      |    MAX(CASE WHEN grp = 0 THEN CAST(s1 AS DOUBLE) END) AS a2,
      |    MAX(CASE WHEN grp = 1 THEN CAST(s2 AS DOUBLE) END) AS b1,
      |    MAX(CASE WHEN grp = 0 THEN CAST(s2 AS DOUBLE) END) AS b2
      |  FROM m),
      |c AS (
      |  SELECT n1, n2, a1 / n1 AS m1, a2 / n2 AS m2,
      |         (b1 - a1 * a1 / n1) / (n1 - 1) AS v1,
      |         (b2 - a2 * a2 / n2) / (n2 - 1) AS v2
      |  FROM p)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(ROUND(m1, 4) AS DOUBLE) AS mean1,
      |       CAST(ROUND(m2, 4) AS DOUBLE) AS mean2,
      |       CAST(ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 4) AS DOUBLE) AS t,
      |       CAST(ROUND(
      |         (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) /
      |         ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)),
      |         2) AS DOUBLE) AS df
      |FROM c""".stripMargin) { (spark, dir) =>
    val g = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("grp"),
        col("o_totalprice").cast("decimal(18,2)").as("x"))
    val m = g.groupBy("grp").agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
      sum((col("x") * col("x")).cast("decimal(38,4)")).as("s2"))
    val p = m.agg(
      max(when(col("grp") === 1, col("n"))).as("n1"),
      max(when(col("grp") === 0, col("n"))).as("n2"),
      max(when(col("grp") === 1, col("s1").cast("double"))).as("a1"),
      max(when(col("grp") === 0, col("s1").cast("double"))).as("a2"),
      max(when(col("grp") === 1, col("s2").cast("double"))).as("b1"),
      max(when(col("grp") === 0, col("s2").cast("double"))).as("b2"))
    val m1 = col("a1") / col("n1")
    val m2 = col("a2") / col("n2")
    val v1 = (col("b1") - col("a1") * col("a1") / col("n1")) / (col("n1") - 1)
    val v2 = (col("b2") - col("a2") * col("a2") / col("n2")) / (col("n2") - 1)
    val se1 = v1 / col("n1")
    val se2 = v2 / col("n2")
    p.select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      round(m1, 4).cast("double").as("mean1"),
      round(m2, 4).cast("double").as("mean2"),
      round((m1 - m2) / sqrt(se1 + se2), 4).cast("double").as("t"),
      round((se1 + se2) * (se1 + se2) /
        (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)), 2)
        .cast("double").as("df"))
  }

  /** Benjamini–Hochberg FDR control over 25 simultaneous hypotheses:
    * per nation, a chi-square test (df = 2 — order-status mix vs the
    * global mix) whose survival function is EXACTLY exp(-x/2), so the
    * p-values need no erf approximation. BH: rank p ascending, reject
    * every hypothesis up to the largest rank with p ≤ α·rank/m. The
    * whole multiple-testing correction is two windows over a 25-row
    * aggregate of one scan.
    */
  val stat_bh_fdr = OpQuery.sql("stat_bh_fdr", "orders", "customer")(
    """WITH o AS (
      |  SELECT c.c_nationkey AS nat, o.o_orderstatus AS st
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |gdist AS (
      |  SELECT st, COUNT(*) AS g FROM o GROUP BY st),
      |gt AS (SELECT SUM(g) AS n FROM gdist),
      |pern AS (
      |  SELECT nat, st, COUNT(*) AS c FROM o GROUP BY nat, st),
      |nt AS (SELECT nat, SUM(c) AS nn FROM pern GROUP BY nat),
      |chi AS (
      |  SELECT nt.nat,
      |         CAST(SUM(CAST(ROUND(
      |           POW(pern.c - nt.nn * (CAST(gdist.g AS DOUBLE) / gt.n), 2)
      |             / (nt.nn * (CAST(gdist.g AS DOUBLE) / gt.n)), 10)
      |           AS DECIMAL(28,10))) AS DOUBLE) AS x
      |  FROM nt JOIN pern ON pern.nat = nt.nat
      |  JOIN gdist ON gdist.st = pern.st CROSS JOIN gt
      |  GROUP BY nt.nat),
      |p AS (
      |  SELECT nat, x, ROUND(EXP(-x / 2), 8) AS pval FROM chi),
      |rk AS (
      |  SELECT nat, x, pval,
      |         ROW_NUMBER() OVER (ORDER BY pval, nat) AS r,
      |         COUNT(*) OVER () AS m
      |  FROM p),
      |kmax AS (
      |  SELECT COALESCE(MAX(CASE WHEN pval <= 0.05 * r / m THEN r END), 0) AS k
      |  FROM rk)
      |SELECT rk.nat AS nationkey, CAST(ROUND(x, 4) AS DOUBLE) AS chi2,
      |       CAST(pval AS DOUBLE) AS pval, CAST(r AS INT) AS rank,
      |       CAST(ROUND(0.05 * r / m, 6) AS DOUBLE) AS bh_cutoff,
      |       rk.r <= kmax.k AS rejected
      |FROM rk CROSS JOIN kmax
      |ORDER BY rank""".stripMargin)

  /** Kruskal–Wallis H across the five market segments on account
    * balance: tie-averaged ranks (AVG of row_number per distinct value —
    * exact multiples of 0.5, summed as DECIMAL), H from per-group rank
    * sums, and the tie-correction factor from exact integer Σ(t³−t).
    * One sort window + two aggregates; the rank window is the only
    * shuffle that grows with data.
    */
  val a86_kruskal_wallis = OpQuery(
    "a86_kruskal_wallis",
    """WITH v AS (
      |  SELECT c_mktsegment AS g, CAST(c_acctbal AS DECIMAL(15,2)) AS x
      |  FROM customer),
      |rn AS (SELECT g, x, ROW_NUMBER() OVER (ORDER BY x) AS r FROM v),
      |ar AS (
      |  SELECT g, x,
      |         CAST(AVG(CAST(r AS DOUBLE)) OVER (PARTITION BY x)
      |           AS DECIMAL(28,1)) AS ar
      |  FROM rn),
      |gs AS (SELECT g, COUNT(*) AS n, SUM(ar) AS s FROM ar GROUP BY g),
      |nn AS (SELECT SUM(n) AS n FROM gs),
      |ties AS (SELECT x, COUNT(*) AS t FROM v GROUP BY x),
      |tc AS (
      |  SELECT SUM(t * t * t - t) AS tsum FROM ties),
      |h AS (
      |  SELECT CAST(12 AS DOUBLE) / (nn.n * (nn.n + 1)) *
      |         CAST(SUM(CAST(ROUND(CAST(gs.s AS DOUBLE) * gs.s / gs.n, 6)
      |           AS DECIMAL(38,6))) AS DOUBLE)
      |         - 3 * (nn.n + 1) AS h, MAX(nn.n) AS n
      |  FROM gs CROSS JOIN nn GROUP BY nn.n)
      |SELECT gs.g AS segment, CAST(gs.n AS BIGINT) AS n,
      |       CAST(gs.s AS DOUBLE) AS rank_sum,
      |       CAST(ROUND(CAST(gs.s AS DOUBLE) / gs.n, 4) AS DOUBLE) AS mean_rank,
      |       CAST(ROUND(h.h, 6) AS DOUBLE) AS h_stat,
      |       CAST(ROUND(h.h / (1 - CAST(tc.tsum AS DOUBLE) /
      |         (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)), 6) AS DOUBLE)
      |         AS h_tie_corrected
      |FROM gs CROSS JOIN h CROSS JOIN tc
      |ORDER BY segment""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "customer").createOrReplaceTempView("graft_kw_customer")
    // Midranks WITHOUT the table-sized global ROW_NUMBER (winscan r9:
    // RAW global window): the midrank of value x is
    // (# values < x) + (t_x + 1)/2 — a function of DISTINCT-value
    // prefix counts only. The distinct-value prefix sum itself goes
    // through TotalOrder.prefixSum (ADVICE r9: the c_acctbal value
    // domain is ≤ ~1.1M distinct at any scale — "post-agg bounded" but
    // large enough that a single-reducer ORDER BY frame deserves the
    // distributed prefix machinery like every other round-9 rewrite).
    // Exactness unchanged: prefixSum's running total is bit-equal to
    // SUM(t) OVER (ORDER BY x) on distinct keys, midranks stay exact
    // 0.5-multiples in DECIMAL(28,1), and the count-weighted group sum
    // equals the per-row sum term-for-term.
    val v = spark.table("graft_kw_customer").select(
      col("c_mktsegment").as("g"),
      col("c_acctbal").cast("decimal(15,2)").as("x"))
    v.createOrReplaceTempView("graft_kw_v")
    val tiesd = v.groupBy(col("x")).agg(count(lit(1)).as("t"))
    graft.operators.TotalOrder.prefixSum(
      tiesd, Seq(col("x").asc), "t", "ct")
      .select(col("x"), col("t"),
        (col("ct") - col("t") + (col("t") + 1) / 2.0)
          .cast("decimal(28,1)").as("ar"))
      .createOrReplaceTempView("graft_kw_mr")
    spark.sql(
      """WITH v AS (SELECT g, x FROM graft_kw_v),
        |tiesd AS (SELECT x, t FROM graft_kw_mr),
        |mr AS (SELECT x, ar FROM graft_kw_mr),
        |vg AS (SELECT g, x, COUNT(*) AS c FROM v GROUP BY g, x),
        |gs AS (
        |  SELECT g, SUM(c) AS n,
        |         CAST(SUM(CAST(c AS DECIMAL(18,0)) * ar) AS DECIMAL(38,1)) AS s
        |  FROM vg JOIN mr USING (x) GROUP BY g),
        |nn AS (SELECT SUM(n) AS n FROM gs),
        |tc AS (
        |  SELECT SUM(t * t * t - t) AS tsum FROM tiesd),
        |h AS (
        |  SELECT CAST(12 AS DOUBLE) / (nn.n * (nn.n + 1)) *
        |         CAST(SUM(CAST(ROUND(CAST(gs.s AS DOUBLE) * gs.s / gs.n, 6)
        |           AS DECIMAL(38,6))) AS DOUBLE)
        |         - 3 * (nn.n + 1) AS h, MAX(nn.n) AS n
        |  FROM gs CROSS JOIN nn GROUP BY nn.n)
        |SELECT gs.g AS segment, CAST(gs.n AS BIGINT) AS n,
        |       CAST(gs.s AS DOUBLE) AS rank_sum,
        |       CAST(ROUND(CAST(gs.s AS DOUBLE) / gs.n, 4) AS DOUBLE) AS mean_rank,
        |       CAST(ROUND(h.h, 6) AS DOUBLE) AS h_stat,
        |       CAST(ROUND(h.h / (1 - CAST(tc.tsum AS DOUBLE) /
        |         (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)), 6) AS DOUBLE)
        |         AS h_tie_corrected
        |FROM gs CROSS JOIN h CROSS JOIN tc
        |ORDER BY segment""".stripMargin)
  }

  /** Brown–Forsythe test (Levene with median centers) for variance
    * homogeneity of order totals across the five priorities: exact
    * lower-median per group by order statistic, |x − med| spreads as
    * exact DECIMALs, then a one-way ANOVA F on the spreads from exact
    * power sums with quantized cross-group folds.
    */
  val a87_levene_bf = OpQuery.sql("a87_levene_bf", "orders")(
    """WITH v AS (
      |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DECIMAL(18,2)) AS x
      |  FROM orders),
      |rk AS (
      |  SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS r,
      |         COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM v),
      |med AS (
      |  SELECT g, MAX(CASE WHEN r * 2 = n OR r * 2 = n + 1 THEN x END) AS m
      |  FROM rk GROUP BY g),
      |z AS (
      |  SELECT v.g, CAST(ABS(v.x - med.m) AS DECIMAL(18,2)) AS z
      |  FROM v JOIN med ON v.g = med.g),
      |gs AS (
      |  SELECT g, COUNT(*) AS n, SUM(z) AS s1 FROM z GROUP BY g),
      |tt AS (
      |  SELECT SUM(n) AS n, SUM(s1) AS s1, COUNT(*) AS k FROM gs),
      |gm AS (
      |  SELECT g, n, CAST(s1 AS DOUBLE) / n AS m FROM gs),
      |ssbq AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |    gm.n * (gm.m - CAST(tt.s1 AS DOUBLE) / tt.n)
      |         * (gm.m - CAST(tt.s1 AS DOUBLE) / tt.n), 6)
      |    AS DECIMAL(38,6))) AS DOUBLE) AS ssb
      |  FROM gm CROSS JOIN tt),
      |sswq AS (
      |  SELECT CAST(SUM(CAST(ROUND(
      |    (CAST(z.z AS DOUBLE) - gm.m) * (CAST(z.z AS DOUBLE) - gm.m), 6)
      |    AS DECIMAL(38,6))) AS DOUBLE) AS ssw
      |  FROM z JOIN gm ON z.g = gm.g),
      |parts AS (
      |  SELECT ssbq.ssb, sswq.ssw, tt.n, tt.k
      |  FROM ssbq CROSS JOIN sswq CROSS JOIN tt)
      |SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(ssb, 2) AS DOUBLE) AS ssb,
      |       CAST(ROUND(ssw, 2) AS DOUBLE) AS ssw,
      |       CAST(ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS DOUBLE) AS f
      |FROM parts""".stripMargin)

  /** Durbin–Watson statistic on the residuals of the daily-revenue
    * OLS trend: slope/intercept from exact DECIMAL normal-equation
    * sums, residuals evaluated per day, DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² with both
    * residual sums quantized to DECIMAL so the fold order cannot move
    * the statistic. DW ≈ 2 means uncorrelated residuals.
    */
  val a88_durbin_watson = OpQuery.sql("a88_durbin_watson", "orders")(
    """WITH daily AS (
      |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      |  FROM daily),
      |s AS (
      |  SELECT COUNT(*) AS n, SUM(t) AS st, SUM(t * t) AS stt,
      |         SUM(y) AS sy, SUM(CAST(t AS DECIMAL(18,0)) * y) AS sty
      |  FROM idx),
      |fit AS (
      |  SELECT n,
      |         (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
      |           / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS b,
      |         st, sy
      |  FROM s),
      |ab AS (
      |  SELECT n, b, (CAST(sy AS DOUBLE) - b * st) / n AS a FROM fit),
      |res AS (
      |  SELECT idx.t, CAST(idx.y AS DOUBLE) - (ab.a + ab.b * idx.t) AS e
      |  FROM idx CROSS JOIN ab),
      |lagged AS (
      |  SELECT e, LAG(e) OVER (ORDER BY t) AS ep FROM res),
      |dw AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND((e - ep) * (e - ep), 6) AS DECIMAL(38,6)))
      |      AS DOUBLE) AS num,
      |    CAST(SUM(CAST(ROUND(e * e, 6) AS DECIMAL(38,6))) AS DOUBLE) AS den
      |  FROM lagged WHERE ep IS NOT NULL)
      |SELECT CAST(ab.n AS BIGINT) AS n_days,
      |       CAST(ROUND(ab.b, 6) AS DOUBLE) AS slope,
      |       CAST(ROUND(ab.a, 4) AS DOUBLE) AS intercept,
      |       CAST(ROUND(dw.num / dw.den, 6) AS DOUBLE) AS dw
      |FROM ab CROSS JOIN dw""".stripMargin)

  /** Nelson–Aalen cumulative hazard for order→ship fulfilment times,
    * with returned items (l_returnflag = 'R') treated as censored at
    * their duration. At each distinct duration: d events over n
    * at-risk, H(t) = Σ d/n accumulated by a window, each increment
    * floor-scaled to integer 1e-10 units (exact on both engines). One aggregate + one
    * ordered window — the survival-analysis sibling of the
    * Kaplan–Meier gate.
    */
  val surv_nelson_aalen = OpQuery.sql("surv_nelson_aalen", "lineitem", "orders")(
    """WITH obs AS (
      |  SELECT CAST(FLOOR(epoch(l.l_shipdate) / 86400)
      |           - FLOOR(epoch(o.o_orderdate) / 86400) AS INT) AS dur,
      |         CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END AS ev
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |tot AS (SELECT COUNT(*) AS n FROM obs),
      |at_t AS (
      |  SELECT dur, SUM(ev) AS d, COUNT(*) AS c FROM obs GROUP BY dur),
      |risk AS (
      |  SELECT dur, d, c,
      |         MAX(tot.n) - COALESCE(SUM(c) OVER (ORDER BY dur
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM at_t CROSS JOIN tot
      |  GROUP BY dur, d, c),
      |haz AS (
      |  SELECT dur, d, n_risk,
      |         SUM((CAST(d AS BIGINT) * 10000000000) // n_risk)
      |           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS h
      |  FROM risk)
      |SELECT CAST(dur AS INT) AS duration_days, CAST(d AS BIGINT) AS events,
      |       CAST(n_risk AS BIGINT) AS n_risk,
      |       CAST(h AS DOUBLE) / 10000000000 AS cum_hazard
      |FROM haz ORDER BY duration_days""".stripMargin,
    "epoch(" -> "unix_timestamp(",
    "//" -> "DIV")

  /** Good–Turing smoothing over the customer "vocabulary" (orders per
    * customer as token counts): the frequency-
    * of-frequencies table N_c, the smoothed count c* = (c+1)·N_{c+1}/N_c
    * for small c, and the unseen-mass estimate P₀ = N₁/N — the language-
    * model discounting step, all exact rationals. Two tiny aggregates
    * after the one big per-clerk count.
    */
  val stat_good_turing = OpQuery(
    "stat_good_turing",
    """WITH sp AS (
      |  SELECT o_custkey AS w, COUNT(*) AS c FROM orders GROUP BY o_custkey),
      |fof AS (
      |  SELECT c, COUNT(*) AS nc FROM sp GROUP BY c),
      |tot AS (
      |  SELECT SUM(CAST(c AS DECIMAL(18,0)) * nc) AS n,
      |         MAX(CASE WHEN c = 1 THEN nc ELSE 0 END) AS n1
      |  FROM fof)
      |SELECT CAST(f.c AS BIGINT) AS c, CAST(f.nc AS BIGINT) AS n_c,
      |       CAST(f2.nc AS BIGINT) AS n_c1,
      |       CAST(ROUND((f.c + 1) * CAST(f2.nc AS DOUBLE) / f.nc, 6) AS DOUBLE)
      |         AS c_star,
      |       CAST(ROUND(CAST(tot.n1 AS DOUBLE) / CAST(tot.n AS DOUBLE), 8)
      |         AS DOUBLE) AS p_unseen
      |FROM fof f
      |JOIN fof f2 ON f2.c = f.c + 1
      |CROSS JOIN tot
      |ORDER BY c
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    val sp = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("w")).agg(count(lit(1)).as("c"))
    val fof = sp.groupBy("c").agg(count(lit(1)).as("nc"))
    val tot = fof.agg(
      sum(col("c").cast("decimal(18,0)") * col("nc")).as("n"),
      max(when(col("c") === 1, col("nc")).otherwise(0)).as("n1"))
    val f2 = fof.select(col("c").as("c2"), col("nc").as("nc2"))
    fof.join(f2, col("c2") === col("c") + 1).crossJoin(tot)
      .select(col("c").cast("long").as("c"), col("nc").cast("long").as("n_c"),
        col("nc2").cast("long").as("n_c1"),
        round((col("c") + 1) * col("nc2").cast("double") / col("nc"), 6)
          .cast("double").as("c_star"),
        round(col("n1").cast("double") / col("n").cast("double"), 8)
          .cast("double").as("p_unseen"))
      .orderBy("c")
      .limit(10)
  }

  /** Hellinger and Bhattacharyya distance (plus total variation)
    * between the order-priority mixes of two customer segments. The
    * two 5-bucket distributions are exact rationals; √(p·q) terms are
    * quantized before their DECIMAL sum. Distribution distance as a
    * drift gate between two slices of the same fact table.
    */
  val stat_hellinger = OpQuery.sql("stat_hellinger", "orders", "customer")(
    """WITH j AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |cnt AS (
      |  SELECT seg, pri, COUNT(*) AS n FROM j GROUP BY seg, pri),
      |st AS (SELECT seg, SUM(n) AS t FROM cnt GROUP BY seg),
      |dist AS (
      |  SELECT cnt.pri,
      |         MAX(CASE WHEN cnt.seg = 'BUILDING'
      |           THEN CAST(cnt.n AS DOUBLE) / st.t END) AS p,
      |         MAX(CASE WHEN cnt.seg = 'MACHINERY'
      |           THEN CAST(cnt.n AS DOUBLE) / st.t END) AS q
      |  FROM cnt JOIN st ON cnt.seg = st.seg
      |  GROUP BY cnt.pri),
      |m AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND(SQRT(p * q), 10) AS DECIMAL(28,10)))
      |      AS DOUBLE) AS bc,
      |    CAST(SUM(CAST(ROUND(ABS(p - q), 10) AS DECIMAL(28,10)))
      |      AS DOUBLE) AS l1
      |  FROM dist)
      |SELECT CAST(ROUND(bc, 8) AS DOUBLE) AS bhattacharyya_coef,
      |       CAST(ROUND(SQRT(1 - bc), 8) AS DOUBLE) AS hellinger,
      |       CAST(ROUND(l1 / 2, 8) AS DOUBLE) AS total_variation
      |FROM m""".stripMargin)

  /** Gumbel (type-I extreme value) fit on weekly block maxima of daily
    * revenue via method of moments: β = s·√6/π, μ = x̄ − γβ (γ =
    * Euler–Mascheroni). Block maxima are exact DECIMAL; moments come
    * from exact power sums. Returns location/scale plus the fitted
    * 52-week return level μ − β·ln(−ln(1 − 1/52)).
    */
  val a91_gumbel_fit = OpQuery.sql("a91_gumbel_fit", "orders")(
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS e,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |wk AS (
      |  SELECT e // 7 AS w, MAX(y) AS mx FROM daily GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(mx) AS s1,
      |         SUM(CAST(mx * mx AS DECIMAL(38,4))) AS s2
      |  FROM wk),
      |fit AS (
      |  SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
      |         SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
      |           AS sd
      |  FROM m),
      |p AS (
      |  SELECT n, mean, sd,
      |         sd * SQRT(6) / PI() AS beta
      |  FROM fit)
      |SELECT CAST(n AS BIGINT) AS n_weeks,
      |       CAST(ROUND(mean, 4) AS DOUBLE) AS mean_max,
      |       CAST(ROUND(beta, 4) AS DOUBLE) AS scale_beta,
      |       CAST(ROUND(mean - 0.57721566490153286 * beta, 4) AS DOUBLE)
      |         AS location_mu,
      |       CAST(ROUND(mean - 0.57721566490153286 * beta
      |         - beta * LN(-LN(1 - CAST(1 AS DOUBLE) / 52)), 4) AS DOUBLE)
      |         AS return_level_52w
      |FROM p""".stripMargin,
    "epoch(" -> "unix_timestamp(",
    "//" -> "DIV")

  /** Cochran–Armitage trend test: does the share of high-value orders
    * rise monotonically across the five ordered priorities? Scores
    * 1..5, outcome = totalprice above the global (exact order-statistic)
    * median. Everything reduces to integer sums — the statistic's
    * numerator and variance are exact until the final division.
    */
  val a92_cochran_armitage = OpQuery(
    "a92_cochran_armitage",
    """WITH med AS (
      |  SELECT x AS m FROM (
      |    SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
      |           ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS r,
      |           COUNT(*) OVER () AS n
      |    FROM orders) q
      |  WHERE r * 2 = n OR r * 2 = n + 1),
      |g AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS s,
      |         CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) > med.m
      |           THEN 1 ELSE 0 END AS hi
      |  FROM orders CROSS JOIN med),
      |gs AS (
      |  SELECT s, COUNT(*) AS n, SUM(hi) AS k FROM g GROUP BY s),
      |t AS (
      |  SELECT SUM(n) AS nn, SUM(k) AS kk,
      |         SUM(s * k) AS sk, SUM(s * n) AS sn,
      |         SUM(s * s * n) AS ssn
      |  FROM gs),
      |st AS (
      |  SELECT nn, kk,
      |         CAST(sk AS DOUBLE) - CAST(kk AS DOUBLE) * sn / nn AS num,
      |         CAST(kk AS DOUBLE) / nn * (1 - CAST(kk AS DOUBLE) / nn)
      |           * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nn) AS varz
      |  FROM t)
      |SELECT CAST(nn AS BIGINT) AS n, CAST(kk AS BIGINT) AS n_high,
      |       CAST(ROUND(num, 4) AS DOUBLE) AS trend_num,
      |       CAST(ROUND(SQRT(varz), 4) AS DOUBLE) AS trend_sd,
      |       CAST(ROUND(num / SQRT(varz), 6) AS DOUBLE) AS z
      |FROM st""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ca_orders")
    // exact median via TotalOrder (two-phase range ranks) — the window
    // form funneled every raw order row through one reducer. The value
    // at the middle RANK is the same under any tie permutation, so the
    // window-based oracle still hash-matches.
    graft.operators.TotalOrder
      .rowNumberWithCount(
        spark.sql("""SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x, o_orderkey
                    |FROM graft_ca_orders""".stripMargin),
        Seq(col("x"), col("o_orderkey")), "r", "n")
      .filter(col("r") * 2 === col("n") || col("r") * 2 === col("n") + 1)
      .select(col("x").as("m"))
      .transform(Freeze.eager)
      .createOrReplaceTempView("graft_ca_med")
    spark.sql(
      """WITH med AS (SELECT m FROM graft_ca_med),
        |g AS (
        |  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS s,
        |         CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) > med.m
        |           THEN 1 ELSE 0 END AS hi
        |  FROM graft_ca_orders CROSS JOIN med),
        |gs AS (
        |  SELECT s, COUNT(*) AS n, SUM(hi) AS k FROM g GROUP BY s),
        |t AS (
        |  SELECT SUM(n) AS nn, SUM(k) AS kk,
        |         SUM(s * k) AS sk, SUM(s * n) AS sn,
        |         SUM(s * s * n) AS ssn
        |  FROM gs),
        |st AS (
        |  SELECT nn, kk,
        |         CAST(sk AS DOUBLE) - CAST(kk AS DOUBLE) * sn / nn AS num,
        |         CAST(kk AS DOUBLE) / nn * (1 - CAST(kk AS DOUBLE) / nn)
        |           * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nn) AS varz
        |  FROM t)
        |SELECT CAST(nn AS BIGINT) AS n, CAST(kk AS BIGINT) AS n_high,
        |       CAST(ROUND(num, 4) AS DOUBLE) AS trend_num,
        |       CAST(ROUND(SQRT(varz), 4) AS DOUBLE) AS trend_sd,
        |       CAST(ROUND(num / SQRT(varz), 6) AS DOUBLE) AS z
        |FROM st""".stripMargin)
  }

  /** Harrell's C-index on a bounded cohort (orders < 2000): duration =
    * order→ship days, event = not returned, risk score = extended
    * price (pinned predictor). Comparable pairs need the earlier
    * duration to be an observed event; concordance counts are pure
    * integers, ties get half credit. The deliberately-bounded pair join
    * is the ground-truth variant — the scalable path would bucket by
    * duration first (same pattern as the dedup ground truths).
    */
  val a93_harrell_cindex = OpQuery(
    "a93_harrell_cindex",
    """WITH obs AS (
      |  SELECT l.l_orderkey * 10 + l.l_linenumber AS id,
      |         CAST(FLOOR(epoch(l.l_shipdate) / 86400)
      |           - FLOOR(epoch(o.o_orderdate) / 86400) AS INT) AS dur,
      |         CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END AS ev,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS score
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_orderkey < 2000),
      |pairs AS (
      |  SELECT a.score AS sa, b.score AS sb
      |  FROM obs a JOIN obs b
      |    ON a.dur < b.dur AND a.ev = 1 AND a.id <> b.id),
      |m AS (
      |  SELECT COUNT(*) AS comparable,
      |         SUM(CASE WHEN sa > sb THEN 1 ELSE 0 END) AS conc,
      |         SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS tied
      |  FROM pairs)
      |SELECT CAST(comparable AS BIGINT) AS comparable,
      |       CAST(conc AS BIGINT) AS concordant,
      |       CAST(tied AS BIGINT) AS tied,
      |       CAST(ROUND((conc + 0.5 * tied) / comparable, 6) AS DOUBLE)
      |         AS c_index
      |FROM m""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_ci_lineitem")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ci_orders")
    // The quadratic pair join stays (it is the gate's ground-truth
    // identity; the scale path is a93_cindex_scalable), but its
    // EXECUTION was pathological: obs fed the CartesianProduct from
    // two full lineitem⋈orders subtrees at 32 scan partitions each —
    // 32×32 = 1024 near-empty cartesian tasks plus a duplicated join.
    // The cohort is BOUNDED by construction (l_orderkey < 2000 is a
    // fixed slice at every sf), so freeze it once at a few balanced
    // partitions: the cartesian becomes 36 tasks over the frozen rows
    // and the lineitem⋈orders join runs once (r13-opt §3: 2 scans → 1,
    // right side no longer recomputed per left partition; results
    // bit-identical, same pair predicate). Lazily: the pair join, its only
    // reader, stores each partition at first read; an eager freeze's
    // measured size would add a broadcast job to the same pair work.
    val obs = spark.sql(
      """SELECT l.l_orderkey * 10 + l.l_linenumber AS id,
        |       CAST(FLOOR(unix_timestamp(l.l_shipdate) / 86400)
        |         - FLOOR(unix_timestamp(o.o_orderdate) / 86400) AS INT) AS dur,
        |       CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END AS ev,
        |       CAST(l.l_extendedprice AS DECIMAL(18,2)) AS score
        |FROM graft_ci_lineitem l
        |JOIN graft_ci_orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_orderkey < 2000""".stripMargin)
      .repartition(6).transform(Freeze.lazily)
    obs.createOrReplaceTempView("graft_ci_obs")
    spark.sql(
      """WITH pairs AS (
        |  SELECT a.score AS sa, b.score AS sb
        |  FROM graft_ci_obs a JOIN graft_ci_obs b
        |    ON a.dur < b.dur AND a.ev = 1 AND a.id <> b.id),
        |m AS (
        |  SELECT COUNT(*) AS comparable,
        |         SUM(CASE WHEN sa > sb THEN 1 ELSE 0 END) AS conc,
        |         SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS tied
        |  FROM pairs)
        |SELECT CAST(comparable AS BIGINT) AS comparable,
        |       CAST(conc AS BIGINT) AS concordant,
        |       CAST(tied AS BIGINT) AS tied,
        |       CAST(ROUND((conc + 0.5 * tied) / comparable, 6) AS DOUBLE)
        |         AS c_index
        |FROM m""".stripMargin)
  }

  /** Approximate randomization test for the AUTOMOBILE-vs-FURNITURE
    * balance gap: 50 pseudo-permutations reassign group labels by a
    * deterministic md5 bit (hash randomization — reproducible on any
    * engine, no RNG), and the p-value is the share of permuted |Δmean|
    * at least as extreme as observed. One cross join with the 50-row
    * permutation dimension, one grouped aggregate — resampling without
    * resampling.
    */
  val a96_permutation_test = OpQuery.sql("a96_permutation_test", "customer")(
    """WITH base AS (
      |  SELECT c_custkey AS id, c_mktsegment AS seg,
      |         CAST(c_acctbal AS DECIMAL(15,2)) AS x
      |  FROM customer
      |  WHERE c_mktsegment IN ('AUTOMOBILE', 'FURNITURE')),
      |obs AS (
      |  SELECT CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN x END) AS DOUBLE)
      |           / SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)
      |         - CAST(SUM(CASE WHEN seg = 'FURNITURE' THEN x END) AS DOUBLE)
      |           / SUM(CASE WHEN seg = 'FURNITURE' THEN 1 ELSE 0 END) AS d
      |  FROM base),
      |perms AS (SELECT unnest(generate_series(1, 50)) AS p),
      |assigned AS (
      |  SELECT perms.p, base.x,
      |         CASE WHEN substr(md5(CAST(base.id AS VARCHAR) || '_'
      |                || CAST(perms.p AS VARCHAR)), 1, 1)
      |              IN ('0','1','2','3','4','5','6','7')
      |           THEN 1 ELSE 0 END AS grp
      |  FROM base CROSS JOIN perms),
      |pd AS (
      |  SELECT p,
      |         CAST(SUM(CASE WHEN grp = 1 THEN x END) AS DOUBLE)
      |           / SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
      |         - CAST(SUM(CASE WHEN grp = 0 THEN x END) AS DOUBLE)
      |           / SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS d
      |  FROM assigned GROUP BY p),
      |cmp AS (
      |  SELECT COUNT(*) AS n_perm,
      |         SUM(CASE WHEN ROUND(ABS(pd.d), 8) >= ROUND(ABS(obs.d), 8)
      |             THEN 1 ELSE 0 END) AS n_extreme
      |  FROM pd CROSS JOIN obs)
      |SELECT CAST(ROUND(obs.d, 4) AS DOUBLE) AS observed_diff,
      |       CAST(cmp.n_perm AS BIGINT) AS n_permutations,
      |       CAST(cmp.n_extreme AS BIGINT) AS n_extreme,
      |       CAST(ROUND(CAST(cmp.n_extreme + 1 AS DOUBLE) / (cmp.n_perm + 1), 6)
      |         AS DOUBLE) AS p_value
      |FROM obs CROSS JOIN cmp""".stripMargin,
    "unnest(generate_series(" -> "explode(sequence(",
    "VARCHAR" -> "STRING")

  /** Two-group log-rank test: users are split into deterministic A/B
    * cohorts (user_id parity); lifetimes and censoring replay the
    * Kaplan–Meier construction. At every event time the observed
    * group-A deaths are compared to their hypergeometric expectation
    * given the at-risk counts, and the variance-weighted sum yields
    * the χ² statistic — the standard test for "do these two cohorts
    * churn at the same rate?". At-risk counts come from cumulative
    * windows over the per-time death/leaving tallies, so the pass
    * over the event table is single-shot.
    */
  val surv_logrank = OpQuery(
    "surv_logrank",
    """WITH spans AS (
      |  SELECT user_id, user_id % 2 AS g,
      |         CAST(FLOOR((TRUNC(epoch(MAX(ts))) - TRUNC(epoch(MIN(ts)))) / 3600) AS INT)
      |           AS life,
      |         MAX(ts) AS last_ts
      |  FROM events GROUP BY user_id),
      |horizon AS (SELECT MAX(last_ts) AS h FROM spans),
      |obs AS (
      |  SELECT life, g,
      |         CASE WHEN epoch(h) - epoch(last_ts) < 86400 THEN 0 ELSE 1 END AS died
      |  FROM spans, horizon),
      |totals AS (
      |  SELECT SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
      |         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1
      |  FROM obs),
      |by_t AS (
      |  SELECT life,
      |         SUM(CASE WHEN g = 1 THEN died ELSE 0 END) AS d1,
      |         SUM(died) AS d,
      |         SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS leave0,
      |         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS leave1
      |  FROM obs GROUP BY life),
      |risk AS (
      |  SELECT life, d1, d,
      |         (SELECT n0 FROM totals) -
      |           COALESCE(SUM(leave0) OVER (ORDER BY life
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r0,
      |         (SELECT n1 FROM totals) -
      |           COALESCE(SUM(leave1) OVER (ORDER BY life
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r1
      |  FROM by_t),
      |terms AS (
      |  SELECT d1,
      |         CAST(ROUND(d * CAST(r1 AS DOUBLE) / (r0 + r1), 8) AS DECIMAL(28,8)) AS e1,
      |         CAST(ROUND(d * (CAST(r1 AS DOUBLE) / (r0 + r1))
      |                      * (CAST(r0 AS DOUBLE) / (r0 + r1))
      |                      * (r0 + r1 - d) / (r0 + r1 - 1), 8) AS DECIMAL(28,8)) AS v
      |  FROM risk
      |  WHERE d > 0 AND r0 + r1 > 1),
      |agg AS (
      |  SELECT CAST(SUM(d1) AS DOUBLE) AS o1,
      |         CAST(SUM(e1) AS DOUBLE) AS e1,
      |         CAST(SUM(v) AS DOUBLE) AS v
      |  FROM terms)
      |SELECT CAST(ROUND(o1, 2) AS DOUBLE) AS observed_a,
      |       CAST(ROUND(e1, 4) AS DOUBLE) AS expected_a,
      |       CAST(ROUND(v, 4) AS DOUBLE) AS variance,
      |       CAST(ROUND((o1 - e1) * (o1 - e1) / v, 4) AS DOUBLE) AS chi2
      |FROM agg""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_lr_events")
    spark.sql(
      """WITH spans AS (
        |  SELECT user_id, user_id % 2 AS g,
        |         CAST(FLOOR((unix_timestamp(MAX(ts)) - unix_timestamp(MIN(ts))) / 3600)
        |           AS INT) AS life,
        |         MAX(ts) AS last_ts
        |  FROM graft_lr_events GROUP BY user_id),
        |horizon AS (SELECT MAX(last_ts) AS h FROM spans),
        |obs AS (
        |  SELECT life, g,
        |         CASE WHEN unix_timestamp(h) - unix_timestamp(last_ts) < 86400
        |              THEN 0 ELSE 1 END AS died
        |  FROM spans CROSS JOIN horizon),
        |totals AS (
        |  SELECT SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
        |         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1
        |  FROM obs),
        |by_t AS (
        |  SELECT life,
        |         SUM(CASE WHEN g = 1 THEN died ELSE 0 END) AS d1,
        |         SUM(died) AS d,
        |         SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS leave0,
        |         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS leave1
        |  FROM obs GROUP BY life),
        |risk AS (
        |  SELECT life, d1, d,
        |         (SELECT n0 FROM totals) -
        |           COALESCE(SUM(leave0) OVER (ORDER BY life
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r0,
        |         (SELECT n1 FROM totals) -
        |           COALESCE(SUM(leave1) OVER (ORDER BY life
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r1
        |  FROM by_t),
        |terms AS (
        |  SELECT d1,
        |         CAST(ROUND(d * CAST(r1 AS DOUBLE) / (r0 + r1), 8) AS DECIMAL(28,8)) AS e1,
        |         CAST(ROUND(d * (CAST(r1 AS DOUBLE) / (r0 + r1))
        |                      * (CAST(r0 AS DOUBLE) / (r0 + r1))
        |                      * (r0 + r1 - d) / (r0 + r1 - 1), 8) AS DECIMAL(28,8)) AS v
        |  FROM risk
        |  WHERE d > 0 AND r0 + r1 > 1),
        |agg AS (
        |  SELECT CAST(SUM(d1) AS DOUBLE) AS o1,
        |         CAST(SUM(e1) AS DOUBLE) AS e1,
        |         CAST(SUM(v) AS DOUBLE) AS v
        |  FROM terms)
        |SELECT CAST(ROUND(o1, 2) AS DOUBLE) AS observed_a,
        |       CAST(ROUND(e1, 4) AS DOUBLE) AS expected_a,
        |       CAST(ROUND(v, 4) AS DOUBLE) AS variance,
        |       CAST(ROUND((o1 - e1) * (o1 - e1) / v, 4) AS DOUBLE) AS chi2
        |FROM agg""".stripMargin)
  }

  /** Breusch–Pagan heteroscedasticity test on the price-vs-quantity
    * regression: fit OLS by quantized moments, square the residuals,
    * regress them on the predictor again, and report LM = n·R² — the
    * statistic that says whether error variance grows with the
    * regressor (it does here: price residual spread scales with
    * quantity). Two distributed moment passes, zero data movement
    * beyond two scalar cross joins.
    */
  val stat_breusch_pagan = OpQuery.sql("stat_breusch_pagan", "lineitem")(
    """WITH base AS (
      |  SELECT CAST(l_quantity AS DOUBLE) AS x,
      |         CAST(l_extendedprice AS DOUBLE) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(y, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sy,
      |         CAST(SUM(CAST(ROUND(x * y, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxx
      |  FROM base),
      |fit AS (
      |  SELECT n,
      |         ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 8) AS b,
      |         ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n, 6)
      |           AS a
      |  FROM m),
      |aux AS (
      |  SELECT fit.n, fit.a, fit.b,
      |         CAST(SUM(CAST(ROUND(base.x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(base.x * base.x, 2) AS DECIMAL(38,2))) AS DOUBLE)
      |           AS sxx,
      |         CAST(SUM(CAST(ROUND(
      |           (base.y - fit.a - fit.b * base.x)
      |             * (base.y - fit.a - fit.b * base.x), 2) AS DECIMAL(38,2)))
      |           AS DOUBLE) AS su,
      |         CAST(SUM(CAST(ROUND(
      |           base.x * (base.y - fit.a - fit.b * base.x)
      |             * (base.y - fit.a - fit.b * base.x), 1) AS DECIMAL(38,1)))
      |           AS DOUBLE) AS sxu,
      |         CAST(SUM(CAST(ROUND(
      |           POW((base.y - fit.a - fit.b * base.x)
      |             * (base.y - fit.a - fit.b * base.x), 2), 0) AS DECIMAL(38,0)))
      |           AS DOUBLE) AS suu
      |  FROM base CROSS JOIN fit
      |  GROUP BY fit.n, fit.a, fit.b),
      |r2 AS (
      |  SELECT n, b,
      |         POW(sxu - sx * su / n, 2)
      |           / ((sxx - sx * sx / n) * (suu - su * su / n)) AS r2aux
      |  FROM aux)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       CAST(ROUND(b, 4) AS DOUBLE) AS slope,
      |       CAST(ROUND(r2aux, 6) AS DOUBLE) AS aux_r2,
      |       CAST(ROUND(n * r2aux, 4) AS DOUBLE) AS lm_stat
      |FROM r2""".stripMargin)

  /** Fleiss' kappa: orders with exactly four line items are subjects,
    * their line items are four "raters", and the return flag is the
    * rated category. Per-subject agreement P_i = (Σ n_ij² − n)/(n(n−1)),
    * chance agreement from the pooled category shares, κ from the two.
    * Every intermediate is an integer count, so the statistic needs no
    * quantization at all — pure exact arithmetic at any scale.
    */
  val stat_fleiss_kappa = OpQuery.sql("stat_fleiss_kappa", "lineitem")(
    """WITH sized AS (
      |  SELECT l_orderkey AS o FROM lineitem GROUP BY l_orderkey
      |  HAVING COUNT(*) = 4),
      |cells AS (
      |  SELECT l.l_orderkey AS o, l.l_returnflag AS j, COUNT(*) AS nij
      |  FROM lineitem l JOIN sized ON sized.o = l.l_orderkey
      |  GROUP BY l.l_orderkey, l.l_returnflag),
      |per_subj AS (
      |  SELECT o, SUM(nij * nij) AS ss FROM cells GROUP BY o),
      |pbar AS (
      |  SELECT COUNT(*) AS n_subj,
      |         CAST(SUM(ss - 4) AS DOUBLE) / (COUNT(*) * 12) AS pbar
      |  FROM per_subj),
      |cat AS (
      |  SELECT j, SUM(nij) AS cj FROM cells GROUP BY j),
      |pe AS (
      |  SELECT CAST(SUM(CAST(ROUND(POW(CAST(cj AS DOUBLE)
      |           / (SELECT n_subj * 4 FROM pbar), 2), 12) AS DECIMAL(28,12)))
      |         AS DOUBLE) AS pe
      |  FROM cat)
      |SELECT CAST(pbar.n_subj AS BIGINT) AS n_subjects,
      |       CAST(ROUND(pbar.pbar, 6) AS DOUBLE) AS p_observed,
      |       CAST(ROUND(pe.pe, 6) AS DOUBLE) AS p_expected,
      |       CAST(ROUND((pbar.pbar - pe.pe) / (1 - pe.pe), 6) AS DOUBLE) AS kappa
      |FROM pbar CROSS JOIN pe""".stripMargin)

  /** Engle–Granger two-step cointegration between the BUILDING and
    * MACHINERY daily revenue series: step 1 fits the long-run hedge
    * ratio by OLS on quantized moments; step 2 runs a no-constant
    * Dickey–Fuller regression on the residual spread. A strongly
    * negative t-stat means the spread mean-reverts — the two series
    * move together. Pure moment algebra over one lag-joined pass.
    */
  val stat_engle_granger = OpQuery.sql("stat_engle_granger", "orders", "customer")(
    """WITH rev AS (
      |  SELECT o.o_orderdate AS d, c.c_mktsegment AS seg,
      |         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      |  GROUP BY 1, 2),
      |wide AS (
      |  SELECT d,
      |         CAST(MAX(CASE WHEN seg = 'BUILDING' THEN r END) AS DOUBLE) AS y,
      |         CAST(MAX(CASE WHEN seg = 'MACHINERY' THEN r END) AS DOUBLE) AS x
      |  FROM rev GROUP BY d
      |  HAVING MAX(CASE WHEN seg = 'BUILDING' THEN r END) IS NOT NULL
      |     AND MAX(CASE WHEN seg = 'MACHINERY' THEN r END) IS NOT NULL),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(y, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sy,
      |         CAST(SUM(CAST(ROUND(x * y, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxx
      |  FROM wide),
      |fit AS (
      |  SELECT ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 8) AS b,
      |         ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n, 4)
      |           AS a
      |  FROM m),
      |resid AS (
      |  SELECT wide.d, wide.y - fit.a - fit.b * wide.x AS e
      |  FROM wide CROSS JOIN fit),
      |lagd AS (
      |  SELECT e, LAG(e) OVER (ORDER BY d) AS e1 FROM resid),
      |pairs AS (SELECT e1, e - e1 AS de FROM lagd WHERE e1 IS NOT NULL),
      |df AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(e1 * de, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sed,
      |         CAST(SUM(CAST(ROUND(e1 * e1, 2) AS DECIMAL(38,2))) AS DOUBLE) AS see,
      |         CAST(SUM(CAST(ROUND(de * de, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sdd
      |  FROM pairs),
      |stat AS (
      |  SELECT n, sed / see AS beta,
      |         (sdd - sed * sed / see) / (n - 1) / see AS var_b
      |  FROM df)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       (SELECT CAST(b AS DOUBLE) FROM fit) AS hedge_ratio,
      |       CAST(ROUND(beta, 8) AS DOUBLE) AS df_beta,
      |       CAST(ROUND(beta / SQRT(var_b), 4) AS DOUBLE) AS eg_tstat
      |FROM stat""".stripMargin)

  /** Normal Q–Q plot points for order totals: at p = j/20
    * (j = 1…19) the empirical quantile (rank-based, deterministic
    * tie-break) is paired with μ + σ·Φ⁻¹(p), where Φ⁻¹ is Acklam's
    * central-region rational approximation — a fixed polynomial both
    * engines evaluate bit-identically (every p here is inside the
    * central branch). The diagnostic a modeler eyeballs, as a table.
    */
  val stat_qq_normal = OpQuery(
    "stat_qq_normal",
    """WITH v AS (
      |  SELECT CAST(o_totalprice AS DOUBLE) AS x,
      |         ROW_NUMBER() OVER (ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey)
      |           AS rk
      |  FROM orders),
      |n_all AS (SELECT COUNT(*) AS n FROM v),
      |mom AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s1,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s2
      |  FROM v),
      |ps AS (
      |  SELECT CAST(j AS INT) AS j, j / 20.0 AS p
      |  FROM (SELECT unnest(generate_series(1, 19)) AS j) t),
      |z AS (
      |  SELECT j, p,
      |         ((((( -3.969683028665376e+01 * (p - 0.5) * (p - 0.5)
      |            + 2.209460984245205e+02) * (p - 0.5) * (p - 0.5)
      |            - 2.759285104469687e+02) * (p - 0.5) * (p - 0.5)
      |            + 1.383577518672690e+02) * (p - 0.5) * (p - 0.5)
      |            - 3.066479806614716e+01) * (p - 0.5) * (p - 0.5)
      |            + 2.506628277459239e+00) * (p - 0.5)
      |         / ((((( -5.447609879822406e+01 * (p - 0.5) * (p - 0.5)
      |            + 1.615858368580409e+02) * (p - 0.5) * (p - 0.5)
      |            - 1.556989798598866e+02) * (p - 0.5) * (p - 0.5)
      |            + 6.680131188771972e+01) * (p - 0.5) * (p - 0.5)
      |            - 1.328068155288572e+01) * (p - 0.5) * (p - 0.5) + 1.0) AS zp
      |  FROM ps),
      |emp AS (
      |  SELECT z.j, z.p, z.zp, v.x AS empirical_q
      |  FROM z CROSS JOIN n_all
      |  JOIN v ON v.rk = CAST(CEIL(z.p * n_all.n) AS BIGINT))
      |SELECT j, CAST(p AS DOUBLE) AS p,
      |       CAST(ROUND(empirical_q, 2) AS DOUBLE) AS empirical_q,
      |       CAST(ROUND(mom.s1 / mom.n
      |         + SQRT((mom.s2 - mom.s1 * mom.s1 / mom.n) / (mom.n - 1)) * zp, 4)
      |         AS DOUBLE) AS theoretical_q
      |FROM emp CROSS JOIN mom
      |ORDER BY j""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_qq_orders")
    // global empirical-quantile ranks via TotalOrder (two-phase range
    // ranks, internally checkpointed so the three references below
    // re-read a materialized frame) — the window form single-reduced
    // every raw order row
    graft.operators.TotalOrder
      .rowNumber(
        spark.sql("""SELECT CAST(o_totalprice AS DOUBLE) AS x, o_orderkey
                    |FROM graft_qq_orders""".stripMargin),
        Seq(col("x"), col("o_orderkey")), "rk")
      .select(col("x"), col("rk"))
      .createOrReplaceTempView("graft_qq_v")
    spark.sql(
      """WITH v AS (SELECT x, rk FROM graft_qq_v),
        |n_all AS (SELECT COUNT(*) AS n FROM v),
        |mom AS (
        |  SELECT COUNT(*) AS n,
        |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s2
        |  FROM v),
        |ps AS (
        |  SELECT CAST(j AS INT) AS j, j / 20.0 AS p
        |  FROM (SELECT explode(sequence(1, 19)) AS j) t),
        |z AS (
        |  SELECT j, p,
        |         ((((( -3.969683028665376e+01 * (p - 0.5) * (p - 0.5)
        |            + 2.209460984245205e+02) * (p - 0.5) * (p - 0.5)
        |            - 2.759285104469687e+02) * (p - 0.5) * (p - 0.5)
        |            + 1.383577518672690e+02) * (p - 0.5) * (p - 0.5)
        |            - 3.066479806614716e+01) * (p - 0.5) * (p - 0.5)
        |            + 2.506628277459239e+00) * (p - 0.5)
        |         / ((((( -5.447609879822406e+01 * (p - 0.5) * (p - 0.5)
        |            + 1.615858368580409e+02) * (p - 0.5) * (p - 0.5)
        |            - 1.556989798598866e+02) * (p - 0.5) * (p - 0.5)
        |            + 6.680131188771972e+01) * (p - 0.5) * (p - 0.5)
        |            - 1.328068155288572e+01) * (p - 0.5) * (p - 0.5) + 1.0) AS zp
        |  FROM ps),
        |emp AS (
        |  SELECT z.j, z.p, z.zp, v.x AS empirical_q
        |  FROM z CROSS JOIN n_all
        |  JOIN v ON v.rk = CAST(CEIL(z.p * n_all.n) AS BIGINT))
        |SELECT j, CAST(p AS DOUBLE) AS p,
        |       CAST(ROUND(empirical_q, 2) AS DOUBLE) AS empirical_q,
        |       CAST(ROUND(mom.s1 / mom.n
        |         + SQRT((mom.s2 - mom.s1 * mom.s1 / mom.n) / (mom.n - 1)) * zp, 4)
        |         AS DOUBLE) AS theoretical_q
        |FROM emp CROSS JOIN mom
        |ORDER BY j""".stripMargin)
  }

  /** TOST equivalence test: are AUTOMOBILE and FURNITURE mean account
    * balances equivalent within ±50? Two one-sided Welch t-statistics
    * against the margin; equivalence holds when BOTH clear the 1.645
    * normal critical value. The inverse of the usual difference test —
    * the question A/B platforms actually need for "no-regression"
    * launches. One grouped moment pass, scalar algebra after.
    */
  val stat_tost_equivalence = OpQuery.sql("stat_tost_equivalence", "customer")(
    """WITH g AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(c_acctbal AS DOUBLE) AS x
      |  FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'FURNITURE')),
      |mom AS (
      |  SELECT seg, COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s1,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s2
      |  FROM g GROUP BY seg),
      |wide AS (
      |  SELECT MAX(CASE WHEN seg = 'AUTOMOBILE' THEN n END) AS n1,
      |         MAX(CASE WHEN seg = 'AUTOMOBILE' THEN s1 END) AS a1,
      |         MAX(CASE WHEN seg = 'AUTOMOBILE' THEN s2 END) AS a2,
      |         MAX(CASE WHEN seg = 'FURNITURE' THEN n END) AS n2,
      |         MAX(CASE WHEN seg = 'FURNITURE' THEN s1 END) AS f1,
      |         MAX(CASE WHEN seg = 'FURNITURE' THEN s2 END) AS f2
      |  FROM mom),
      |calc AS (
      |  SELECT a1 / n1 - f1 / n2 AS d,
      |         SQRT((a2 - a1 * a1 / n1) / (n1 - 1) / n1
      |            + (f2 - f1 * f1 / n2) / (n2 - 1) / n2) AS se
      |  FROM wide)
      |SELECT CAST(ROUND(d, 4) AS DOUBLE) AS mean_diff,
      |       CAST(ROUND(se, 4) AS DOUBLE) AS std_err,
      |       CAST(ROUND((d + 50) / se, 4) AS DOUBLE) AS t_lower,
      |       CAST(ROUND((d - 50) / se, 4) AS DOUBLE) AS t_upper,
      |       CAST(CASE WHEN (d + 50) / se > 1.645 AND (d - 50) / se < -1.645
      |            THEN 1 ELSE 0 END AS INT) AS equivalent
      |FROM calc""".stripMargin)

  /** Deming regression (errors-in-variables, δ = 1): when BOTH axes
    * carry measurement noise, the OLS slope is biased toward zero;
    * the Deming slope (SVD of the 2×2 moment matrix in closed form)
    * is the consistent estimate. Reported side by side with OLS so
    * the attenuation is visible. One quantized moment pass.
    */
  val stat_deming = OpQuery.sql("stat_deming", "lineitem")(
    """WITH base AS (
      |  SELECT CAST(l_quantity AS DOUBLE) AS x,
      |         CAST(l_extendedprice AS DOUBLE) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |         CAST(SUM(CAST(ROUND(x * y, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
      |         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
      |         CAST(SUM(CAST(ROUND(y * y, 4) AS DECIMAL(38,4))) AS DOUBLE) AS syy
      |  FROM base),
      |c AS (
      |  SELECT n, sx / n AS mx, sy / n AS my,
      |         (sxx - sx * sx / n) / n AS vxx,
      |         (syy - sy * sy / n) / n AS vyy,
      |         (sxy - sx * sy / n) / n AS vxy
      |  FROM m),
      |fit AS (
      |  SELECT n, mx, my, vxy,
      |         (vyy - vxx + SQRT((vyy - vxx) * (vyy - vxx) + 4 * vxy * vxy))
      |           / (2 * vxy) AS b_deming,
      |         vxy / vxx AS b_ols
      |  FROM c)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       CAST(ROUND(b_ols, 6) AS DOUBLE) AS slope_ols,
      |       CAST(ROUND(b_deming, 6) AS DOUBLE) AS slope_deming,
      |       CAST(ROUND(my - b_deming * mx, 6) AS DOUBLE) AS intercept_deming
      |FROM fit""".stripMargin)

  /** Tukey median polish, two full sweeps, on the nation × segment
    * matrix of mean account balance: alternately remove row and
    * column medians; what's left is the residual table a robust
    * two-way analysis reads for interactions the means-based ANOVA
    * smears. Medians are interpolated identically by both engines, so
    * no quantization is needed until output. Reports the 10 largest
    * |residual| cells with their accumulated row/column effects.
    */
  val stat_median_polish = OpQuery.sql("stat_median_polish", "customer")(
    """WITH cells AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         MEDIAN(CAST(c_acctbal AS DOUBLE)) AS v
      |  FROM customer GROUP BY 1, 2),
      |r1 AS (SELECT nat, MEDIAN(v) AS m FROM cells GROUP BY nat),
      |res1 AS (
      |  SELECT cells.nat, cells.seg, cells.v - r1.m AS v, r1.m AS re
      |  FROM cells JOIN r1 ON r1.nat = cells.nat),
      |c1 AS (SELECT seg, MEDIAN(v) AS m FROM res1 GROUP BY seg),
      |res2 AS (
      |  SELECT res1.nat, res1.seg, res1.v - c1.m AS v, res1.re, c1.m AS ce
      |  FROM res1 JOIN c1 ON c1.seg = res1.seg),
      |r2 AS (SELECT nat, MEDIAN(v) AS m FROM res2 GROUP BY nat),
      |res3 AS (
      |  SELECT res2.nat, res2.seg, res2.v - r2.m AS v, res2.re + r2.m AS re, res2.ce
      |  FROM res2 JOIN r2 ON r2.nat = res2.nat),
      |c2 AS (SELECT seg, MEDIAN(v) AS m FROM res3 GROUP BY seg),
      |res4 AS (
      |  SELECT res3.nat, res3.seg, res3.v - c2.m AS v, res3.re, res3.ce + c2.m AS ce
      |  FROM res3 JOIN c2 ON c2.seg = res3.seg)
      |SELECT CAST(nat AS INT) AS nationkey, seg AS segment,
      |       CAST(re AS DOUBLE) AS row_effect,
      |       CAST(ce AS DOUBLE) AS col_effect,
      |       CAST(v AS DOUBLE) AS residual
      |FROM res4
      |ORDER BY ABS(v) DESC, nationkey, segment
      |LIMIT 10""".stripMargin)

  /** Wilcoxon signed-rank test on paired national revenue: H1-1995 vs
    * H2-1995 per nation. Absolute differences are exact decimals, so
    * the rank order is reproducible (nation key breaks the measure-zero
    * ties); W⁺ and the normal-approximation z follow from integer rank
    * sums. The nonparametric complement to the paired t-test — robust
    * to the heavy-tailed revenue diffs that break normality.
    */
  val stat_wilcoxon_signed_rank = OpQuery.sql("stat_wilcoxon_signed_rank",
      "orders", "customer")(
    """WITH rev AS (
      |  SELECT c.c_nationkey AS nat,
      |         SUM(CASE WHEN o.o_orderdate < DATE '1995-07-01'
      |             THEN CAST(o.o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS h1,
      |         SUM(CASE WHEN o.o_orderdate >= DATE '1995-07-01'
      |             THEN CAST(o.o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS h2
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1996-01-01'
      |  GROUP BY 1),
      |diffs AS (
      |  SELECT nat, h2 - h1 AS d, ABS(h2 - h1) AS ad FROM rev
      |  WHERE h2 <> h1),
      |ranked AS (
      |  SELECT nat, d, ROW_NUMBER() OVER (ORDER BY ad, nat) AS r FROM diffs),
      |agg AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN d > 0 THEN r ELSE 0 END) AS w_plus
      |  FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |       CAST(w_plus AS BIGINT) AS w_plus,
      |       CAST(ROUND((w_plus - n * (n + 1) / 4.0)
      |         / SQRT(n * (n + 1) * (2 * n + 1) / 24.0), 4) AS DOUBLE) AS z
      |FROM agg""".stripMargin)

  /** Approximate Hodges–Lehmann via a deterministic quantile-grid
    * subsample: per group, rank the values once (one partitioned
    * window), keep every `step`-th order statistic so ~40 survive, and
    * compute the exact Walsh-average median over the SAMPLE — O(m²) on
    * a FIXED m per group, so total cost is the O(n log n) rank pass
    * plus a constant per group, vs the exact gate's per-group n²/2
    * fan-out. The grid is rank-deterministic (no RNG): both engines
    * select identical rows, so the gate is hash-oracled end-to-end.
    * When a group has ≤ 40 values the step is 1 and the estimate is
    * EXACTLY the full Hodges–Lehmann (pinned in HlApproxSpec, which
    * also pins the grid-gap error bound on a 2000-row group).
    */
  /** The approx-HL walk as Spark SQL over `view` (c_nationkey /
    * c_acctbal / c_custkey columns) — shared by the gate and
    * HlApproxSpec so the error-bound assertions exercise the EXACT
    * query text the gate ships.
    */
  private[graft] def hlApproxSparkSql(view: String): String =
    s"""WITH vals AS (
       |  SELECT c_nationkey AS nation,
       |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
       |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
       |           ORDER BY c_acctbal, c_custkey) AS i,
       |         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
       |  FROM $view),
       |samp AS (
       |  SELECT nation, c,
       |         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY i) AS j
       |  FROM vals
       |  WHERE (i - 1) % GREATEST(1L, CAST(FLOOR(n / 40.0) AS BIGINT)) = 0),
       |walsh AS (
       |  SELECT a.nation, a.c + b.c AS s2
       |  FROM samp a JOIN samp b ON a.nation = b.nation AND a.j <= b.j),
       |ranked AS (
       |  SELECT nation, s2,
       |         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY s2) AS r,
       |         COUNT(*) OVER (PARTITION BY nation) AS np
       |  FROM walsh)
       |SELECT nation, CAST(MAX(np) AS BIGINT) AS n_pairs,
       |       CAST(MAX(CASE WHEN r = CAST(FLOOR((np + 1) / 2) AS BIGINT) THEN s2 END) AS DOUBLE)
       |         / 200 AS hl_estimate
       |FROM ranked
       |GROUP BY nation
       |ORDER BY nation""".stripMargin

  /** The exact (O(n²)-per-group) walk over the same column contract —
    * spec-side ground truth for the bound assertions.
    */
  private[graft] def hlExactSparkSql(view: String): String =
    s"""WITH vals AS (
       |  SELECT c_nationkey AS nation,
       |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
       |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
       |           ORDER BY c_acctbal, c_custkey) AS i
       |  FROM $view),
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
       |ORDER BY nation""".stripMargin

  val a54_hl_approx = OpQuery(
    "a54_hl_approx",
    """WITH vals AS (
      |  SELECT c_nationkey AS nation,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |           ORDER BY c_acctbal, c_custkey) AS i,
      |         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      |  FROM customer),
      |samp AS (
      |  SELECT nation, c,
      |         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY i) AS j
      |  FROM vals
      |  WHERE (i - 1) % GREATEST(1, CAST(FLOOR(n / 40.0) AS BIGINT)) = 0),
      |walsh AS (
      |  SELECT a.nation, a.c + b.c AS s2
      |  FROM samp a JOIN samp b ON a.nation = b.nation AND a.j <= b.j),
      |ranked AS (
      |  SELECT nation, s2,
      |         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY s2) AS r,
      |         COUNT(*) OVER (PARTITION BY nation) AS np
      |  FROM walsh)
      |SELECT nation, CAST(MAX(np) AS BIGINT) AS n_pairs,
      |       CAST(MAX(CASE WHEN r = CAST(FLOOR((np + 1) / 2) AS BIGINT) THEN s2 END) AS DOUBLE)
      |         / 200 AS hl_estimate
      |FROM ranked
      |GROUP BY nation
      |ORDER BY nation""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "customer").createOrReplaceTempView("graft_hla_customer")
    spark.sql(hlApproxSparkSql("graft_hla_customer"))
  }

  /** Harrell's C-index via [[graft.operators.Concordance]] — the
    * scalable EXACT path the bounded ground-truth gate
    * (`a93_harrell_cindex`, orderkey < 2000) points at: the cohort here
    * is a fixed FRACTION of lineitem (grows with sf; the 1/12 cohort —
    * 1/3 until round 12, trimmed per VERDICT r11 item 4 — still crosses
    * ~8M pairs at sf0.01 and ~1G at sf0.1), counted by the bucket-grid
    * decomposition instead of the O(n²) pair join. The oracle IS the
    * quadratic definition (DuckDB's IEJoin crunches the inequality
    * pair join directly), so the gate proves decomposition ≡ definition
    * on real data at a pair count no row-level Spark join should touch.
    */
  val a93_cindex_scalable = OpQuery(
    "a93_cindex_scalable",
    """WITH obs AS (
      |  SELECT CAST(FLOOR(epoch(l.l_shipdate) / 86400)
      |           - FLOOR(epoch(o.o_orderdate) / 86400) AS INT) AS dur,
      |         CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END AS ev,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS score
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_orderkey % 12 = 0),
      |pairs AS (
      |  SELECT a.score AS sa, b.score AS sb
      |  FROM obs a JOIN obs b ON a.dur < b.dur AND a.ev = 1),
      |m AS (
      |  SELECT COUNT(*) AS comparable,
      |         SUM(CASE WHEN sa > sb THEN 1 ELSE 0 END) AS conc,
      |         SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS tied
      |  FROM pairs)
      |SELECT CAST(comparable AS BIGINT) AS comparable,
      |       CAST(conc AS BIGINT) AS concordant,
      |       CAST(tied AS BIGINT) AS tied,
      |       CAST(ROUND((conc + 0.5 * tied) / comparable, 6) AS DOUBLE)
      |         AS c_index
      |FROM m""".stripMargin) { (spark, dir) =>
    val obs = Tables.load(spark, dir, "lineitem").as("l")
      .join(Tables.load(spark, dir, "orders").as("o"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .filter(col("l.l_orderkey") % 12 === 0)
      .select(
        (floor(unix_timestamp(col("l.l_shipdate")) / 86400)
          - floor(unix_timestamp(col("o.o_orderdate")) / 86400)).cast("int").as("dur"),
        when(col("l.l_returnflag") === "R", 0).otherwise(1).as("ev"),
        col("l.l_extendedprice").cast("decimal(18,2)").as("score"))
    graft.operators.Concordance.counts(obs, "dur", "score",
        col("ev") === 1, buckets = 1024)
      .select(
        col("comparable"), col("concordant"), col("tied"),
        round((col("concordant") + lit(0.5) * col("tied")) / col("comparable"), 6)
          .cast("double").as("c_index"))
  }

  val all: Seq[OpQuery] = Seq(
    a32_wilson_ci, a41_chi2, ab_test_analysis, a48_bootstrap_ci, a49_ks_test,
    a50_survival_km, a51_runs_test, a54_hodges_lehmann, a55_g_test,
    a57_paired_ttest, a59_odds_ratio, a61_capture_recapture, a63_ljung_box,
    a64_spearman, a65_kendall_tau, a66_hurst_exponent, a67_poisson_rate_test,
    a72_weibull_fit, a73_beta_binomial, a74_srm_check, a75_mann_whitney,
    a76_cramers_v, a77_cohens_d, a80_anova, a81_grubbs, a83_jarque_bera,
    a84_welch_ttest, stat_bh_fdr, a86_kruskal_wallis, a87_levene_bf,
    a88_durbin_watson, surv_nelson_aalen, stat_good_turing, stat_hellinger,
    a91_gumbel_fit, a92_cochran_armitage, a93_harrell_cindex,
    a96_permutation_test, surv_logrank, stat_breusch_pagan, stat_fleiss_kappa,
    stat_engle_granger, stat_qq_normal, stat_tost_equivalence, stat_deming,
    stat_median_polish, stat_wilcoxon_signed_rank, a54_hl_approx,
    a93_cindex_scalable)
}
