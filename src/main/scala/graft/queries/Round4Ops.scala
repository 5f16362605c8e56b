package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Bpe, Curation, TimeSeries, TotalOrder}
import graft.expressions.BpeEncode

/** Round-4 gate queries: distributed total ordering, recursive CTEs,
  * time-series regularization, IGNORE NULLS value windows, corpus
  * boilerplate removal, C4-style quality filtering, winsorized
  * aggregation, null-safe joins, FILTER-clause aggregates, and BPE
  * tokenizer training/encoding.
  */
object Round4Ops {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Global row numbering WITHOUT a single-reducer window —
    * [[TotalOrder.rowNumber]]'s two-phase prefix count, oracled against
    * the literal `ROW_NUMBER() OVER (ORDER BY ...)`. Bit-equality here
    * IS the scale story: the distributed plan produces exactly the
    * sequential assignment.
    */
  val o4_global_rownum = OpQuery(
    "o4_global_rownum",
    """SELECT o_orderkey,
      |       CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    TotalOrder.rowNumber(
        t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), "rn")
      .select(col("o_orderkey"), col("rn").cast("long").as("rn"))
      .orderBy(col("o_orderkey"))
  }

  /** Recursive CTE (Spark 4 UnionLoop): generate the full month spine of
    * the order history recursively, then left-join order counts — months
    * with no orders survive with 0 (the classic gap-free calendar).
    */
  val recursive_cte = OpQuery(
    "recursive_cte",
    """WITH RECURSIVE bounds AS (
      |  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
      |         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
      |  FROM orders
      |), months(m) AS (
      |  SELECT lo FROM bounds
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      |  WHERE m < (SELECT hi FROM bounds)
      |)
      |SELECT strftime(m, '%Y-%m-%d') AS month_start,
      |       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
      |FROM months LEFT JOIN orders
      |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
      |GROUP BY m
      |ORDER BY month_start""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders").createOrReplaceTempView("graft_rc_orders")
    // the recursion CARRIES hi as a column instead of re-evaluating a
    // correlated `(SELECT hi FROM bounds)` each step — UnionLoop
    // re-executes the recursive term's subplan every iteration, so the
    // correlated form re-scanned orders once per generated month
    // (measured 16 s at sf0.1; carried form ~1 s)
    spark.sql(
      """WITH RECURSIVE months(m, hi) AS (
        |  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
        |         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
        |  FROM graft_rc_orders
        |  UNION ALL
        |  SELECT add_months(m, 1), hi FROM months
        |  WHERE m < hi
        |)
        |SELECT date_format(m, 'yyyy-MM-dd') AS month_start,
        |       COUNT(o_orderkey) AS n_orders
        |FROM months LEFT JOIN graft_rc_orders
        |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        |GROUP BY m
        |ORDER BY month_start""".stripMargin)
  }

  /** Daily resample + forward fill over the event stream —
    * [[TimeSeries.resampleDailyFfill]], oracled by generate_series +
    * `last_value(... IGNORE NULLS)`. Values pass through DECIMAL(18,2)
    * before the sum so both engines aggregate exactly.
    */
  val ts_gapfill = OpQuery(
    "ts_gapfill",
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1
      |), spine AS (
      |  SELECT user_id, CAST(u.d AS DATE) AS d
      |  FROM span, unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)
      |), j AS (
      |  SELECT s.user_id, s.d, daily.v
      |  FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
      |)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
      |       CAST(v AS DOUBLE) AS v,
      |       CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_ffill,
      |       v IS NULL AS is_gap
      |FROM j
      |ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    val daily = t(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("v"))
    TimeSeries.resampleDailyFfill(daily, "user_id", "d", "v")
      .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("v").cast("double").as("v"),
        col("v_ffill").cast("double").as("v_ffill"), col("is_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  /** IGNORE NULLS value windows: lag / lead / running last over a
    * sparse (mostly-null) measure — the gap-bridging form of the value
    * window family.
    */
  val w7_ignore_nulls = OpQuery(
    "w7_ignore_nulls",
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |         MAX(CASE WHEN l_quantity > 25 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS v
      |  FROM lineitem
      |  GROUP BY l_orderkey, l_linenumber
      |)
      |SELECT l_orderkey, l_linenumber, CAST(v AS DOUBLE) AS v,
      |       CAST(lag(v IGNORE NULLS) OVER w AS DOUBLE) AS prev_v,
      |       CAST(lead(v IGNORE NULLS) OVER w AS DOUBLE) AS next_v,
      |       CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS carry_v
      |FROM li
      |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    val carry = w.rowsBetween(Window.unboundedPreceding, 0)
    t(spark, dir, "lineitem")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // pre-aggregate so the window order is total (ties would make
      // lag/lead nondeterministic)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(max(when(col("l_quantity") > 25,
        col("l_extendedprice").cast("decimal(18,2)"))).as("v"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("v").cast("double").as("v"),
        lag(col("v"), 1, null, ignoreNulls = true).over(w).cast("double").as("prev_v"),
        lead(col("v"), 1, null, ignoreNulls = true).over(w).cast("double").as("next_v"),
        last(col("v"), ignoreNulls = true).over(carry).cast("double").as("carry_v"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Corpus boilerplate-line removal (C4/RefinedWeb line dedup): lines
    * appearing verbatim in ≥ 10 distinct documents are dropped
    * everywhere, documents reassembled in original line order. The
    * documents table has no newlines, so the gate manufactures a
    * deterministic multi-line corpus by splitting on the literal
    * delimiter " the " — both engines see the identical segmentation.
    */
  val text_boilerplate = OpQuery(
    "text_boilerplate",
    """WITH src AS (
      |  SELECT doc_id, string_split(text, ' the ') AS ls FROM documents
      |), lines AS (
      |  SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, ls[u.i] AS line
      |  FROM src, unnest(generate_series(1, len(ls))) AS u(i)
      |), boiler AS (
      |  SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 10
      |), kept AS (
      |  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM boiler)
      |), totals AS (
      |  SELECT doc_id, CAST(coalesce(len(ls), 0) AS BIGINT) AS n_total FROM src
      |)
      |SELECT s.doc_id,
      |       COALESCE(string_agg(k.line, ' the ' ORDER BY k.pos), '') AS text,
      |       CAST(COUNT(k.line) AS BIGINT) AS n_lines_kept,
      |       t.n_total - COUNT(k.line) AS n_lines_dropped
      |FROM src s
      |LEFT JOIN kept k ON s.doc_id = k.doc_id
      |JOIN totals t ON s.doc_id = t.doc_id
      |GROUP BY s.doc_id, t.n_total
      |ORDER BY s.doc_id""".stripMargin) { (spark, dir) =>
    Curation.removeBoilerplateLines(
        t(spark, dir, "documents"), "doc_id", "text",
        minDocs = 10, sep = " the ")
      .orderBy(col("doc_id"))
  }

  /** C4-style heuristic quality filter: word count, mean word length
    * band, brace exclusion — the cheap scan-speed prefilter every web
    * corpus runs before the expensive model-based scoring. Full audit
    * output (every doc with its features + verdict).
    */
  val text_c4_filter = OpQuery(
    "text_c4_filter",
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |         ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS INT) AS n_words,
      |    length(regexp_replace(coalesce(text, ''), '\s', '', 'g')) AS n_word_chars,
      |    coalesce(contains(text, '{'), FALSE) AS has_brace
      |  FROM documents
      |)
      |SELECT doc_id, n_words,
      |       CAST(ROUND(n_word_chars * 1.0 / NULLIF(n_words, 0), 6) AS DOUBLE) AS mean_word_len,
      |       (n_words >= 10
      |         AND n_word_chars * 1.0 / NULLIF(n_words, 0) BETWEEN 3 AND 12
      |         AND NOT has_brace) AS keep
      |FROM f
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val nWords = graft.functions.TextFunctions.tokenCount(col("text"))
    val nWordChars = length(regexp_replace(coalesce(col("text"), lit("")), "\\s", ""))
    val meanLen = nWordChars * 1.0 / nullif(col("n_words"), lit(0))
    t(spark, dir, "documents")
      .select(col("doc_id"), nWords.as("n_words"), nWordChars.as("__c"),
        coalesce(col("text").contains("{"), lit(false)).as("__brace"))
      .select(col("doc_id"), col("n_words"),
        round(col("__c") * 1.0 / nullif(col("n_words"), lit(0)), 6)
          .cast("double").as("mean_word_len"),
        (col("n_words") >= 10 &&
          (col("__c") * 1.0 / nullif(col("n_words"), lit(0))).between(3, 12) &&
          !col("__brace")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Winsorized aggregation: per-group exact p05/p95 (over cents — the
    * a16 integer-domain trick, so interpolation is exact in both
    * engines), values clipped to the band, then the robust mean.
    */
  val a17_winsorize = OpQuery(
    "a17_winsorize",
    """WITH c AS (
      |  SELECT l_returnflag, CAST(TRUNC(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem
      |), p AS (
      |  SELECT l_returnflag,
      |         quantile_cont(cents, 0.05) AS p05,
      |         quantile_cont(cents, 0.95) AS p95
      |  FROM c GROUP BY l_returnflag
      |)
      |SELECT c.l_returnflag,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(ROUND(p05, 4) AS DOUBLE) AS p05_cents,
      |       CAST(ROUND(p95, 4) AS DOUBLE) AS p95_cents,
      |       CAST(ROUND(AVG(LEAST(GREATEST(cents, p05), p95)), 4) AS DOUBLE) AS winsor_mean_cents
      |FROM c JOIN p USING (l_returnflag)
      |GROUP BY c.l_returnflag, p05, p95
      |ORDER BY c.l_returnflag""".stripMargin) { (spark, dir) =>
    val cents = t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        (col("l_extendedprice") * 100).cast("long").as("cents"))
    // ONE percentile buffer per group, not two: each percentile(...)
    // aggregate keeps its own full value-count map per partition; the
    // array form computes both quantiles from a single shared buffer
    // (identical interpolation per element — results bit-equal) and
    // halves the ObjectHashAggregate's per-row and merge cost (r13-opt)
    val p = cents.groupBy(col("l_returnflag"))
      .agg(percentile(col("cents"), lit(Array(0.05, 0.95))).as("pb"))
      .select(col("l_returnflag"),
        element_at(col("pb"), 1).as("p05"),
        element_at(col("pb"), 2).as("p95"))
    cents.join(broadcast(p), "l_returnflag")
      .groupBy(col("l_returnflag"), col("p05"), col("p95"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(least(greatest(col("cents"), col("p05")), col("p95"))), 4)
          .cast("double").as("winsor_mean_cents"))
      .select(col("l_returnflag"), col("n"),
        round(col("p05"), 4).cast("double").as("p05_cents"),
        round(col("p95"), 4).cast("double").as("p95_cents"),
        col("winsor_mean_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): null keys
    * MATCH each other instead of vanishing — the semantics MERGE keys
    * and SCD handling rely on.
    */
  val j12_nullsafe_join = OpQuery(
    "j12_nullsafe_join",
    """SELECT c_custkey, s_suppkey
      |FROM customer JOIN supplier
      |  ON nullif(c_nationkey, 3) IS NOT DISTINCT FROM nullif(s_nationkey, 3)
      |ORDER BY c_custkey, s_suppkey""".stripMargin) { (spark, dir) =>
    val c = t(spark, dir, "customer")
      .select(col("c_custkey"), nullif(col("c_nationkey"), lit(3)).as("ck"))
    val s = t(spark, dir, "supplier")
      .select(col("s_suppkey"), nullif(col("s_nationkey"), lit(3)).as("sk"))
    c.join(s, c("ck") <=> s("sk"))
      .select(col("c_custkey"), col("s_suppkey"))
      .orderBy(col("c_custkey"), col("s_suppkey"))
  }

  /** FILTER-clause aggregates: per-aggregate predicates in one pass —
    * the SQL-standard form of the conditional-aggregate family (A5's
    * CASE WHEN shape, stated declaratively).
    */
  val a18_filter_clause = OpQuery.sql("a18_filter_clause", "lineitem")(
    """SELECT l_returnflag,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DECIMAL(18,2)) AS rev_disc,
      |       CAST(ROUND(AVG(l_quantity) FILTER (WHERE l_linestatus = 'F'), 6) AS DOUBLE) AS avg_qty_f
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin)

  /** BPE tokenizer: train 20 merges on a corpus slice (distributed pair
    * counting over the vocabulary), then tokenize EVERY document with
    * the learned table. Rows-only gate (BPE is not SQL-expressible);
    * the algorithmic contract — greedy rank-ordered merging, exhaustive
    * left-to-right application, reconstruction invariant — is pinned in
    * BpeSpec.
    */
  val bpe_tokenize = OpQuery.noOracle("bpe_tokenize") { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val merges = Bpe.train(
      docs.filter(col("doc_id") % 7 === 0), "text", numMerges = 20)
    BpeEncode.register(spark)
    docs.select(
        col("doc_id"),
        Bpe.encode(lower(col("text")), merges).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_bpe_tokens"),
        array_join(slice(col("toks"), 1, 5), " ").as("head_tokens"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[OpQuery] = Seq(
    o4_global_rownum, recursive_cte, ts_gapfill, w7_ignore_nulls,
    text_boilerplate, text_c4_filter, a17_winsorize, j12_nullsafe_join,
    a18_filter_clause, bpe_tokenize)
}
