package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Freeze, Similarity}

/** Machine learning: feature encoding, model fits, clustering,
  * recommendations, market baskets, hard-negative mining and model
  * evaluation metrics.
  */
object MlGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Equal-frequency feature binning (the bucketizer every feature
    * pipeline runs before hashing/embedding): decile bounds from EXACT
    * interpolated percentiles over integer cents (the a16 trick — both
    * engines interpolate identically in the integer domain), bucket
    * assignment by codegen'd array filter against the broadcast bounds,
    * then a per-bucket audit. Equal counts per bucket in the output ARE
    * the equal-frequency property.
    *
    * Scale note: exact `percentile` funnels the single group through one
    * aggregation buffer — that is the price of exactness and the gate's
    * point (engine-identical bounds). The 100 TB path swaps in
    * `approx_percentile` bounds (same assignment plan; a8 covers the
    * approx contract).
    */
  val feature_bucketize = OpQuery(
    "feature_bucketize",
    """WITH c AS (
      |  SELECT CAST(TRUNC(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
      |), b AS (
      |  SELECT quantile_cont(cents, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bounds FROM c
      |)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(MIN(cents) AS BIGINT) AS lo_cents,
      |       CAST(MAX(cents) AS BIGINT) AS hi_cents
      |FROM (SELECT c.cents, CAST(1 + len(list_filter(b.bounds, x -> c.cents > x)) AS INT) AS bucket
      |      FROM c, b)
      |GROUP BY bucket ORDER BY bucket""".stripMargin) { (spark, dir) =>
    val cents = t(spark, dir, "lineitem")
      .select((col("l_extendedprice") * 100).cast("long").as("cents"))
    val qs = (1 to 9).map(_ / 10.0)
    val bounds = cents.agg(
      percentile(col("cents"), lit(qs.toArray)).as("bounds"))
    // bucket = 1 + #(bounds below cents), written as 9 unrolled
    // element_at comparisons instead of size(filter(bounds, λ)):
    // higher-order functions are CodegenFallback (interpreted per row
    // over the whole fact table), the unrolled form whole-stage-codegens
    // — same integer count, bounds is sorted either way (r13-opt §4)
    cents.crossJoin(broadcast(bounds))
      .select(col("cents"),
        qs.indices.map(i =>
            when(col("cents") > element_at(col("bounds"), i + 1), 1)
              .otherwise(0))
          .reduce[org.apache.spark.sql.Column](_ + _)
          .+(lit(1)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
      .orderBy(col("bucket"))
  }

  /** Market-basket co-occurrence: pairs of part types bought in the same
    * order, counted across orders — the support-counting core of
    * association-rule mining. The part dimension joins broadcast; the
    * pair join is per-order (each order contributes |types-in-order|²
    * pairs, a handful), keyed on the uniform order key. Deterministic
    * top-25 via full tie-break.
    */
  val market_basket = OpQuery(
    "market_basket",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, p_type
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |)
      |SELECT a.p_type AS type_a, b.p_type AS type_b, CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM items a JOIN items b
      |  ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, type_a, type_b
      |LIMIT 25""".stripMargin) { (spark, dir) =>
    val items = t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_type"))
      .distinct()
    val a = items.toDF("l_orderkey", "type_a")
    val b = items.toDF("l_orderkey", "type_b")
    a.join(b, Seq("l_orderkey"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("type_a"), col("type_b"))
      .limit(25)
  }

  /** Winsorization: clamp per-group outliers at the exact interpolated
    * p05/p95 (computed over cents, bounds snapped to integers so the
    * clamped sum stays in exact BIGINT arithmetic — zero float variance
    * in the output).
    */
  val feature_winsorize = OpQuery(
    "feature_winsorize",
    """WITH c AS (
      |  SELECT l_returnflag AS g,
      |         CAST(TRUNC(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem
      |), b AS (
      |  SELECT g,
      |         CAST(CEIL(ROUND(quantile_cont(cents, 0.05), 4)) AS BIGINT) AS lo,
      |         CAST(FLOOR(ROUND(quantile_cont(cents, 0.95), 4)) AS BIGINT) AS hi
      |  FROM c GROUP BY g
      |)
      |SELECT c.g, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
      |       CAST(SUM(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
      |       CAST(SUM(LEAST(GREATEST(cents, lo), hi)) AS BIGINT) AS sum_wins_cents
      |FROM c JOIN b ON c.g = b.g
      |GROUP BY c.g
      |ORDER BY c.g""".stripMargin) { (spark, dir) =>
    val c = t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice") * 100).cast("long").as("cents"))
    val b = c.groupBy(col("g"))
      .agg(
        ceil(round(percentile(col("cents"), lit(0.05)), 4)).cast("long").as("lo"),
        floor(round(percentile(col("cents"), lit(0.95)), 4)).cast("long").as("hi"))
    c.join(broadcast(b), "g")
      .groupBy(col("g"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("cents") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(least(greatest(col("cents"), col("lo")), col("hi"))).as("sum_wins_cents"))
      .orderBy(col("g"))
  }

  /** Association rules on top of the basket pairs: support, directional
    * confidence, and lift, thresholded and ranked. All ratios divide in
    * DOUBLE after exact integer counts, rounded before the ORDER BY so
    * the ranking itself is reproducible.
    */
  val basket_lift = OpQuery(
    "basket_lift",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, p_type
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), n AS (
      |  SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM items
      |), freq AS (
      |  SELECT p_type, CAST(COUNT(*) AS DOUBLE) AS f FROM items GROUP BY 1
      |), pairs AS (
      |  SELECT a.p_type AS type_a, b.p_type AS type_b, COUNT(*) AS n_ab
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
      |  GROUP BY 1, 2
      |)
      |SELECT type_a, type_b, CAST(n_ab AS BIGINT) AS n_ab,
      |       CAST(ROUND(n_ab / fa.f, 6) AS DOUBLE) AS conf_a_b,
      |       CAST(ROUND(n_ab * n_orders / (fa.f * fb.f), 6) AS DOUBLE) AS lift
      |FROM pairs
      |JOIN freq fa ON type_a = fa.p_type
      |JOIN freq fb ON type_b = fb.p_type, n
      |WHERE n_ab >= 20
      |ORDER BY lift DESC, type_a, type_b
      |LIMIT 25""".stripMargin) { (spark, dir) =>
    // items is referenced 4x (n, freq, both pair sides) — freeze it so
    // the join+distinct runs once instead of four times (r13-opt §3.3)
    val items = t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_type"))
      .distinct()
      .transform(Freeze.lazily)
    val nOrders = items.agg(
      countDistinct(col("l_orderkey")).cast("double").as("n_orders"))
    val freq = items.groupBy(col("p_type"))
      .agg(count(lit(1)).cast("double").as("f"))
    val a = items.toDF("l_orderkey", "type_a")
    val b = items.toDF("l_orderkey", "type_b")
    a.join(b, Seq("l_orderkey"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 20)
      .join(broadcast(freq.toDF("type_a", "fa")), "type_a")
      .join(broadcast(freq.toDF("type_b", "fb")), "type_b")
      .crossJoin(broadcast(nOrders))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        round(col("n_ab") / col("fa"), 6).as("conf_a_b"),
        round(col("n_ab") * col("n_orders") / (col("fa") * col("fb")), 6).as("lift"))
      .orderBy(col("lift").desc, col("type_a"), col("type_b"))
      .limit(25)
  }

  /** One-hot encoding of a low-cardinality categorical (the classical
    * ML-feature expansion). Fixed vocabulary, map-only codegen CASE
    * chain — no shuffle at all; identical SQL both engines.
    */
  val feature_onehot = OpQuery.sql("feature_onehot", "documents")(
    """SELECT doc_id,
      |       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lang_en,
      |       CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS lang_de,
      |       CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS lang_es,
      |       CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS lang_fr,
      |       CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS lang_zh
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  /** Smoothed mean target encoding: encode(seg) = (sum_y + m·µ)/(n + m)
    * with prior weight m=20 — the leakage-safe categorical encoder for
    * gradient-boosted models. Sums stay DECIMAL-exact until the single
    * final division; the category table is dimension-sized so every
    * stage after the first aggregate is broadcast-scale.
    */
  val feature_target_encode = OpQuery.sql("feature_target_encode", "orders", "customer")(
    """WITH joined AS (
      |  SELECT c_mktsegment AS seg, CAST(o_totalprice AS DECIMAL(18,2)) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |stats AS (
      |  SELECT seg, COUNT(*) AS n, SUM(y) AS s FROM joined GROUP BY seg),
      |overall AS (
      |  SELECT CAST(SUM(s) AS DOUBLE) / SUM(n) AS mu FROM stats)
      |SELECT seg, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND((CAST(s AS DOUBLE) + 20.0 * mu) / (n + 20.0), 4) AS DOUBLE) AS seg_encoded
      |FROM stats, overall
      |ORDER BY seg""".stripMargin)

  /** Feature hashing (the hashing trick): terms map to a fixed 32-bucket
    * signed feature space via md5 — no vocabulary pass, no dictionary to
    * ship, collisions absorbed by the sign bit. Sums are exact BIGINT;
    * the only shuffle is the (doc, bucket) aggregate. This is the
    * vectorizer that works on a 100 TB corpus precisely because it is
    * stateless.
    */
  val feature_hashing = OpQuery(
    "feature_hashing",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |hashed AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 32 AS bucket,
      |         CASE WHEN substr(md5(term), 9, 1) IN ('0','1','2','3','4','5','6','7')
      |              THEN 1 ELSE -1 END AS sign
      |  FROM toks WHERE term <> '')
      |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
      |       CAST(SUM(sign) AS BIGINT) AS weight,
      |       CAST(COUNT(*) AS BIGINT) AS n_terms
      |FROM hashed
      |GROUP BY doc_id, bucket
      |ORDER BY doc_id, bucket""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_fh_docs")
    spark.sql(
      """WITH toks AS (
        |  SELECT doc_id, explode(split(lower(trim(text)), '\\s+')) AS term
        |  FROM graft_fh_docs),
        |hashed AS (
        |  SELECT doc_id,
        |         pmod(CAST(conv(substring(md5(term), 1, 8), 16, 10) AS BIGINT), 32) AS bucket,
        |         CASE WHEN substring(md5(term), 9, 1) IN ('0','1','2','3','4','5','6','7')
        |              THEN 1 ELSE -1 END AS sign
        |  FROM toks WHERE term <> '')
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |       CAST(SUM(sign) AS BIGINT) AS weight,
        |       CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM hashed
        |GROUP BY doc_id, bucket
        |ORDER BY doc_id, bucket""".stripMargin)
  }

  private val scoredView =
    """SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
      |       CAST(label % 2 AS INT) AS y
      |FROM embeddings""".stripMargin

  /** Confusion matrix + derived metrics at threshold 0: a single
    * aggregation pass (four conditional counts), no shuffle beyond the
    * one global reduce — the evaluation loop you run after every
    * training epoch.
    */
  val eval_confusion = OpQuery(
    "eval_confusion",
    s"""WITH scored AS ($scoredView),
       |m AS (
       |  SELECT SUM(CASE WHEN score > 0 AND y = 1 THEN 1 ELSE 0 END) AS tp,
       |         SUM(CASE WHEN score > 0 AND y = 0 THEN 1 ELSE 0 END) AS fp,
       |         SUM(CASE WHEN score <= 0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
       |         SUM(CASE WHEN score <= 0 AND y = 0 THEN 1 ELSE 0 END) AS tn
       |  FROM scored)
       |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       |       CAST(ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS DOUBLE) AS precision,
       |       CAST(ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) AS DOUBLE) AS recall,
       |       CAST(ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS DOUBLE) AS f1
       |FROM m""".stripMargin) { (spark, dir) =>
    val scored = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") % 2).cast("int").as("y"))
    scored.agg(
        sum(when(col("score") > 0 && col("y") === 1, 1).otherwise(0)).as("tp"),
        sum(when(col("score") > 0 && col("y") === 0, 1).otherwise(0)).as("fp"),
        sum(when(col("score") <= 0 && col("y") === 1, 1).otherwise(0)).as("fn"),
        sum(when(col("score") <= 0 && col("y") === 0, 1).otherwise(0)).as("tn"))
      .select(col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
        col("fn").cast("long").as("fn"), col("tn").cast("long").as("tn"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
          .cast("double").as("precision"),
        round(col("tp").cast("double") / (col("tp") + col("fn")), 6)
          .cast("double").as("recall"),
        round(lit(2.0) * col("tp") / (lit(2.0) * col("tp") + col("fp") + col("fn")), 6)
          .cast("double").as("f1"))
  }

  /** ROC AUC via the Mann–Whitney rank formula: AUC = (Σ rank⁺ −
    * n⁺(n⁺+1)/2) / (n⁺·n⁻), ranks by (score, vec_id) so the value is
    * pinned even under score ties. One global sort (the rank window) +
    * one reduce — integer arithmetic until the final division, no O(n²)
    * pair join.
    */
  val eval_auc = OpQuery(
    "eval_auc",
    s"""WITH scored AS ($scoredView),
       |ranked AS (
       |  SELECT y, ROW_NUMBER() OVER (ORDER BY score, vec_id) AS r FROM scored),
       |m AS (
       |  SELECT SUM(CASE WHEN y = 1 THEN r ELSE 0 END) AS rpos,
       |         SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
       |         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
       |  FROM ranked)
       |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       |       CAST(ROUND((CAST(rpos AS DOUBLE) - CAST(np AS DOUBLE) * (np + 1) / 2)
       |                  / (CAST(np AS DOUBLE) * nn), 6) AS DOUBLE) AS auc
       |FROM m""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_auc_emb")
    val scored = spark.sql(
      """SELECT vec_id, CAST(element_at(embedding, 1) AS DOUBLE) AS score,
        |       CAST(label % 2 AS INT) AS y
        |FROM graft_auc_emb""".stripMargin)
    // global rank via TotalOrder's two-phase range ranks — bit-equal to
    // ROW_NUMBER() OVER (ORDER BY score, vec_id) without funnelling the
    // scored table through one reducer (winscan r9: this was a RAW
    // table-sized global window)
    graft.operators.TotalOrder
      .rowNumber(scored, Seq(col("score"), col("vec_id")), "r")
      .createOrReplaceTempView("graft_auc_ranked")
    spark.sql(
      """WITH m AS (
        |  SELECT SUM(CASE WHEN y = 1 THEN r ELSE 0 END) AS rpos,
        |         SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
        |         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
        |  FROM graft_auc_ranked)
        |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |       CAST(ROUND((CAST(rpos AS DOUBLE) - CAST(np AS DOUBLE) * (np + 1) / 2)
        |                  / (CAST(np AS DOUBLE) * nn), 6) AS DOUBLE) AS auc
        |FROM m""".stripMargin)
  }

  /** Calibration bins: scores bucketed into 10 equal-width bins over
    * [-1, 1); per bin the count, positive rate, and mean score — mean
    * via DECIMAL(18,6) so the sum is order-independent. Reading the
    * table once and shuffling 10 groups is the whole cost.
    */
  val eval_calibration = OpQuery(
    "eval_calibration",
    s"""WITH scored AS ($scoredView),
       |binned AS (
       |  SELECT CAST(LEAST(GREATEST(FLOOR((score + 1.0) / 0.2), 0), 9) AS INT) AS bin,
       |         CAST(CAST(score AS DECIMAL(18,6)) AS DECIMAL(28,6)) AS s6, y
       |  FROM scored)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |       CAST(SUM(y) AS BIGINT) AS positives,
       |       CAST(ROUND(CAST(SUM(s6) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS mean_score,
       |       CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS pos_rate
       |FROM binned
       |GROUP BY bin
       |ORDER BY bin""".stripMargin) { (spark, dir) =>
    val scored = Tables.load(spark, dir, "embeddings")
      .select(element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") % 2).cast("int").as("y"))
    scored
      .select(
        least(greatest(floor((col("score") + 1.0) / 0.2), lit(0)), lit(9))
          .cast("int").as("bin"),
        col("score").cast("decimal(18,6)").cast("decimal(28,6)").as("s6"),
        col("y"))
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast("long").as("positives"),
        round(sum(col("s6")).cast("double") / count(lit(1)), 6)
          .cast("double").as("mean_score"),
        round(sum(col("y")).cast("double") / count(lit(1)), 6)
          .cast("double").as("pos_rate"))
      .orderBy("bin")
  }

  /** Z-score standardization of order value within each market
    * segment — the feature-scaling step before any distance-based
    * model. Moments come from integer-cents sums carried as
    * DECIMAL(38,0) (order-independent, and wide enough that a 100 TB
    * sum still fits where a BIGINT would overflow); one broadcast of
    * the 5-row stats table back onto the fact.
    */
  val feature_standardize = OpQuery(
    "feature_standardize",
    """WITH base AS (
      |  SELECT o.o_orderkey, c.c_mktsegment AS seg,
      |         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |stats AS (
      |  SELECT seg, COUNT(*) AS n,
      |         SUM(CAST(cents AS DECIMAL(38,0))) AS s,
      |         SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS sq
      |  FROM base GROUP BY seg)
      |SELECT b.o_orderkey, b.seg,
      |       CAST(ROUND((b.cents - CAST(st.s AS DOUBLE) / st.n) /
      |            sqrt(CAST(st.sq AS DOUBLE) / st.n -
      |                 POW(CAST(st.s AS DOUBLE) / st.n, 2)), 6) AS DOUBLE) AS z
      |FROM base b JOIN stats st ON b.seg = st.seg
      |WHERE b.o_orderkey < 4000
      |ORDER BY b.o_orderkey""".stripMargin) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    val base = orders.join(cust, orders("o_custkey") === cust("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("seg"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val stats = base.groupBy("seg").agg(
      count(lit(1)).as("n"),
      sum(col("cents").cast("decimal(38,0)")).as("s"),
      sum(col("cents").cast("decimal(38,0)") * col("cents").cast("decimal(38,0)"))
        .as("sq"))
    base.join(broadcast(stats), "seg")
      .select(col("o_orderkey"), col("seg"),
        round((col("cents") - stats("s").cast("double") / col("n")) /
          sqrt(stats("sq").cast("double") / col("n") -
            pow(stats("s").cast("double") / col("n"), 2)), 6)
          .cast("double").as("z"))
      .filter(col("o_orderkey") < 4000)
      .orderBy("o_orderkey")
  }

  /** Stratified 5-fold assignment: within each language stratum,
    * documents are shuffled by md5(doc_id) and dealt round-robin into
    * folds, so folds are balanced per stratum and identical on every
    * engine/run. The gate reports per-(lang, fold) counts and an id
    * checksum; the assignment itself is one window pass.
    */
  val ml_kfold_assign = OpQuery(
    "ml_kfold_assign",
    """WITH assigned AS (
      |  SELECT lang, doc_id,
      |         CAST((ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 5 AS INT) AS fold
      |  FROM documents)
      |SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
      |FROM assigned
      |GROUP BY lang, fold
      |ORDER BY lang, fold""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.load(spark, dir, "documents")
      .select(col("lang"), col("doc_id"))
      .withColumn("fold", ((row_number().over(w) - 1) % 5).cast("int"))
      .groupBy("lang", "fold")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("lang", "fold")
  }

  /** Cohen's kappa between two deterministic "annotators" (a
    * language-based and a length-based labeling rule over documents):
    * observed agreement vs chance agreement from the marginals. All
    * counts integer; one pass for the confusion counts plus a tiny
    * marginal cross — the standard agreement check before trusting a
    * labeling pipeline.
    */
  val eval_cohens_kappa = OpQuery(
    "eval_cohens_kappa",
    """WITH labeled AS (
      |  SELECT CASE WHEN lang = 'en' THEN 'good'
      |              WHEN lang IN ('de', 'fr') THEN 'ok' ELSE 'bad' END AS a1,
      |         CASE WHEN n_chars >= 800 THEN 'good'
      |              WHEN n_chars >= 300 THEN 'ok' ELSE 'bad' END AS a2
      |  FROM documents),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN a1 = a2 THEN 1 ELSE 0 END) AS agree,
      |         SUM(CASE WHEN a1 = 'good' THEN 1 ELSE 0 END) AS g1,
      |         SUM(CASE WHEN a1 = 'ok' THEN 1 ELSE 0 END) AS o1,
      |         SUM(CASE WHEN a1 = 'bad' THEN 1 ELSE 0 END) AS b1,
      |         SUM(CASE WHEN a2 = 'good' THEN 1 ELSE 0 END) AS g2,
      |         SUM(CASE WHEN a2 = 'ok' THEN 1 ELSE 0 END) AS o2,
      |         SUM(CASE WHEN a2 = 'bad' THEN 1 ELSE 0 END) AS b2
      |  FROM labeled)
      |SELECT CAST(n AS BIGINT) AS n_docs,
      |       CAST(ROUND(CAST(agree AS DOUBLE) / n, 6) AS DOUBLE) AS po,
      |       CAST(ROUND(CAST(g1 * g2 + o1 * o2 + b1 * b2 AS DOUBLE) / (n * n), 6)
      |            AS DOUBLE) AS pe,
      |       CAST(ROUND((CAST(agree AS DOUBLE) / n -
      |                   CAST(g1 * g2 + o1 * o2 + b1 * b2 AS DOUBLE) / (n * n)) /
      |                  (1 - CAST(g1 * g2 + o1 * o2 + b1 * b2 AS DOUBLE) / (n * n)), 6)
      |            AS DOUBLE) AS kappa
      |FROM m""".stripMargin) { (spark, dir) =>
    val labeled = Tables.load(spark, dir, "documents")
      .select(
        when(col("lang") === "en", "good")
          .when(col("lang").isin("de", "fr"), "ok")
          .otherwise("bad").as("a1"),
        when(col("n_chars") >= 800, "good")
          .when(col("n_chars") >= 300, "ok")
          .otherwise("bad").as("a2"))
    val m = labeled.agg(
      count(lit(1)).as("n"),
      sum(when(col("a1") === col("a2"), 1).otherwise(0)).as("agree"),
      sum(when(col("a1") === "good", 1).otherwise(0)).as("g1"),
      sum(when(col("a1") === "ok", 1).otherwise(0)).as("o1"),
      sum(when(col("a1") === "bad", 1).otherwise(0)).as("b1"),
      sum(when(col("a2") === "good", 1).otherwise(0)).as("g2"),
      sum(when(col("a2") === "ok", 1).otherwise(0)).as("o2"),
      sum(when(col("a2") === "bad", 1).otherwise(0)).as("b2"))
    val pe = (col("g1") * col("g2") + col("o1") * col("o2") + col("b1") * col("b2"))
      .cast("double") / (col("n") * col("n"))
    val po = col("agree").cast("double") / col("n")
    m.select(col("n").cast("long").as("n_docs"),
      round(po, 6).cast("double").as("po"),
      round(pe, 6).cast("double").as("pe"),
      round((po - pe) / (lit(1) - pe), 6).cast("double").as("kappa"))
  }

  /** One k-means iteration over the embedding corpus: assign every
    * vector to its nearest of 8 seed centroids (vec_id < 8), recompute
    * the centroids, and report the per-cluster shift. Distances fold
    * left-to-right inside higher-order functions (bit-identical across
    * engines); centroid means and the shift sum go through quantized
    * DECIMAL so the cross-row reduction is order-independent — the
    * pattern that makes iterative ML refinement hash-reproducible on a
    * cluster.
    */
  val kmeans_step = OpQuery(
    "kmeans_step",
    """WITH seeds AS (
      |  SELECT vec_id AS seed, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
      |  FROM embeddings WHERE vec_id < 8),
      |pts AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |dists AS (
      |  SELECT p.vec_id, s.seed,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (e[i] - c[i]) * (e[i] - c[i]))) AS d2
      |  FROM pts p, seeds s),
      |assigned AS (
      |  SELECT vec_id, seed, e FROM (
      |    SELECT d.vec_id, d.seed, p.e,
      |           ROW_NUMBER() OVER (PARTITION BY d.vec_id
      |             ORDER BY d.d2, d.seed) AS rk
      |    FROM dists d JOIN pts p ON d.vec_id = p.vec_id) t
      |  WHERE rk = 1),
      |comps AS (
      |  SELECT seed, i.i AS dim,
      |         CAST(ROUND(e[i.i], 12) AS DECIMAL(28,12)) AS v
      |  FROM assigned, (SELECT unnest(range(1, 65)) AS i) i),
      |centroids AS (
      |  SELECT seed, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS nc,
      |         COUNT(*) AS n
      |  FROM comps GROUP BY seed, dim),
      |shifts AS (
      |  SELECT c.seed, MAX(c.n) AS n,
      |         SUM(CAST(ROUND((c.nc - s.c[c.dim]) * (c.nc - s.c[c.dim]), 12)
      |             AS DECIMAL(28,12))) AS ss
      |  FROM centroids c JOIN seeds s ON c.seed = s.seed
      |  GROUP BY c.seed)
      |SELECT seed, CAST(n AS BIGINT) AS n_points,
      |       CAST(ROUND(sqrt(CAST(ss AS DOUBLE)), 6) AS DOUBLE) AS shift
      |FROM shifts
      |ORDER BY seed""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_km8_emb")
    spark.sql(
      """WITH seeds AS (
        |  SELECT vec_id AS seed, transform(embedding, x -> CAST(x AS DOUBLE)) AS c
        |  FROM graft_km8_emb WHERE vec_id < 8),
        |pts AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM graft_km8_emb),
        |dists AS (
        |  SELECT p.vec_id, s.seed,
        |         aggregate(transform(sequence(1, 64),
        |           i -> (e[i - 1] - c[i - 1]) * (e[i - 1] - c[i - 1])),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d2
        |  FROM pts p CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, seed, e FROM (
        |    SELECT d.vec_id, d.seed, p.e,
        |           ROW_NUMBER() OVER (PARTITION BY d.vec_id
        |             ORDER BY d.d2, d.seed) AS rk
        |    FROM dists d JOIN pts p ON d.vec_id = p.vec_id) t
        |  WHERE rk = 1),
        |comps AS (
        |  SELECT seed, i.i AS dim,
        |         CAST(ROUND(e[i.i - 1], 12) AS DECIMAL(28,12)) AS v
        |  FROM assigned, (SELECT explode(sequence(1, 64)) AS i) i),
        |centroids AS (
        |  SELECT seed, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS nc,
        |         COUNT(*) AS n
        |  FROM comps GROUP BY seed, dim),
        |shifts AS (
        |  SELECT c.seed, MAX(c.n) AS n,
        |         SUM(CAST(ROUND((c.nc - s.c[c.dim - 1]) * (c.nc - s.c[c.dim - 1]), 12)
        |             AS DECIMAL(28,12))) AS ss
        |  FROM centroids c JOIN seeds s ON c.seed = s.seed
        |  GROUP BY c.seed)
        |SELECT seed, CAST(n AS BIGINT) AS n_points,
        |       CAST(ROUND(sqrt(CAST(ss AS DOUBLE)), 6) AS DOUBLE) AS shift
        |FROM shifts
        |ORDER BY seed""".stripMargin)
  }

  /** Pinball loss of the seasonal-naive forecast (ŷₜ = yₜ₋₇) at
    * q ∈ {0.1, 0.5, 0.9} — the metric that scores quantile forecasts
    * the way they are consumed. Daily totals and diffs stay in integer
    * cents; each quantile's mean loss is one conditional aggregate over
    * the lag-joined series.
    */
  val eval_pinball_loss = OpQuery(
    "eval_pinball_loss",
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |paired AS (
      |  SELECT a.d, a.y, f.y AS yhat
      |  FROM daily a JOIN daily f ON f.d = a.d - 7),
      |qs AS (SELECT unnest([0.1, 0.5, 0.9]) AS q),
      |losses AS (
      |  SELECT q.q, p.d,
      |         GREATEST(q.q * (p.y - p.yhat), (q.q - 1) * (p.y - p.yhat)) AS loss
      |  FROM paired p, qs q)
      |SELECT CAST(q AS DOUBLE) AS q, CAST(COUNT(*) AS BIGINT) AS n_days,
      |       CAST(ROUND(SUM(loss) / COUNT(*) / 100, 4) AS DOUBLE) AS mean_pinball
      |FROM losses
      |GROUP BY q
      |ORDER BY q""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_pin_events")
    spark.sql(
      """WITH daily AS (
        |  SELECT CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT) AS d,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
        |  FROM graft_pin_events WHERE event_type = 'purchase' GROUP BY 1),
        |paired AS (
        |  SELECT a.d, a.y, f.y AS yhat
        |  FROM daily a JOIN daily f ON f.d = a.d - 7),
        |qs AS (SELECT explode(array(0.1D, 0.5D, 0.9D)) AS q),
        |losses AS (
        |  SELECT q.q, p.d,
        |         GREATEST(q.q * (p.y - p.yhat), (q.q - 1) * (p.y - p.yhat)) AS loss
        |  FROM paired p CROSS JOIN qs q)
        |SELECT CAST(q AS DOUBLE) AS q, CAST(COUNT(*) AS BIGINT) AS n_days,
        |       CAST(ROUND(SUM(loss) / COUNT(*) / 100, 4) AS DOUBLE) AS mean_pinball
        |FROM losses
        |GROUP BY q
        |ORDER BY q""".stripMargin)
  }

  /** Point-in-time feature backfill: at every purchase (label) event,
    * the user's trailing 1-hour and 1-day activity counts and spend —
    * computed with RANGE frames over epoch seconds so only STRICTLY
    * PRIOR events contribute. This is the feature-store backfill that
    * must not leak the label row itself; one shuffle on user_id serves
    * every horizon.
    */
  val ml_feature_backfill = OpQuery(
    "ml_feature_backfill",
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |         TRUNC(epoch(ts))::BIGINT AS t,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |feat AS (
      |  SELECT user_id, event_id, event_type, t,
      |         COUNT(*) OVER (PARTITION BY user_id ORDER BY t
      |           RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING) AS n_1h,
      |         COUNT(*) OVER (PARTITION BY user_id ORDER BY t
      |           RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING) AS n_1d,
      |         SUM(cents) OVER (PARTITION BY user_id ORDER BY t
      |           RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING) AS spend_1d
      |  FROM ev)
      |SELECT user_id, event_id, t,
      |       CAST(n_1h AS BIGINT) AS n_1h, CAST(n_1d AS BIGINT) AS n_1d,
      |       CAST(COALESCE(spend_1d, 0) AS BIGINT) AS spend_1d_cents
      |FROM feat
      |WHERE event_type = 'purchase' AND user_id < 40
      |ORDER BY user_id, t, event_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val h1 = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-3600, -1)
    val d1 = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-86400, -1)
    ev.withColumn("n_1h", count(lit(1)).over(h1))
      .withColumn("n_1d", count(lit(1)).over(d1))
      .withColumn("spend_1d", sum(col("cents")).over(d1))
      .filter(col("event_type") === "purchase" && col("user_id") < 40)
      .select(col("user_id"), col("event_id"), col("t"),
        col("n_1h").cast("long").as("n_1h"),
        col("n_1d").cast("long").as("n_1d"),
        coalesce(col("spend_1d"), lit(0)).cast("long").as("spend_1d_cents"))
      .orderBy("user_id", "t", "event_id")
  }

  /** McNemar's test between the two deterministic document classifiers
    * from the kappa gate (language rule vs length rule, binarized on
    * "good"): the paired test that asks whether they DISAGREE
    * asymmetrically. Only the discordant cells matter — integer counts,
    * continuity-corrected statistic.
    */
  val eval_mcnemar = OpQuery.sql("eval_mcnemar", "documents")(
    """WITH labeled AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS c1,
      |         CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END AS c2
      |  FROM documents),
      |m AS (
      |  SELECT SUM(CASE WHEN c1 = 1 AND c2 = 0 THEN 1 ELSE 0 END) AS b,
      |         SUM(CASE WHEN c1 = 0 AND c2 = 1 THEN 1 ELSE 0 END) AS c,
      |         COUNT(*) AS n
      |  FROM labeled)
      |SELECT CAST(n AS BIGINT) AS n_docs,
      |       CAST(b AS BIGINT) AS only_lang_good,
      |       CAST(c AS BIGINT) AS only_length_good,
      |       CAST(ROUND(POW(ABS(CAST(b AS DOUBLE) - c) - 1, 2) / (b + c), 6)
      |            AS DOUBLE) AS mcnemar_chi2
      |FROM m""".stripMargin)

  /** Deterministic negative sampling for recommendation training: for
    * each observed (customer, part) purchase, three LCG-drawn candidate
    * parts, anti-joined against the customer's true purchases so no
    * negative is secretly positive. The draw is pure integer
    * arithmetic — reproducible across engines, runs, and cluster
    * sizes — and the anti-join is the same shuffle the positives
    * already need.
    */
  val ml_negative_sampling = OpQuery(
    "ml_negative_sampling",
    """WITH pos AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderkey < 1000),
      |maxp AS (SELECT MAX(p_partkey) AS mp FROM part),
      |draws AS (
      |  SELECT p.cust, p.part, k.k,
      |         ((p.cust * 48271 + p.part * 16807 + k.k * 69621) % 2147483647)
      |           % m.mp + 1 AS neg
      |  FROM pos p, (SELECT unnest(range(1, 4)) AS k) k, maxp m),
      |clean AS (
      |  SELECT d.cust, d.part, d.k, d.neg
      |  FROM draws d LEFT JOIN pos p2 ON d.cust = p2.cust AND d.neg = p2.part
      |  WHERE p2.cust IS NULL)
      |SELECT cust, part, CAST(k AS INT) AS k, neg
      |FROM clean
      |ORDER BY cust, part, k""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ns_orders")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_ns_lineitem")
    Tables.load(spark, dir, "part").createOrReplaceTempView("graft_ns_part")
    spark.sql(
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        |  FROM graft_ns_orders o JOIN graft_ns_lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey < 1000),
        |maxp AS (SELECT MAX(p_partkey) AS mp FROM graft_ns_part),
        |draws AS (
        |  SELECT p.cust, p.part, k.k,
        |         ((p.cust * 48271 + p.part * 16807 + k.k * 69621) % 2147483647)
        |           % m.mp + 1 AS neg
        |  FROM pos p CROSS JOIN (SELECT explode(sequence(1, 3)) AS k) k
        |  CROSS JOIN maxp m),
        |clean AS (
        |  SELECT d.cust, d.part, d.k, d.neg
        |  FROM draws d LEFT JOIN pos p2 ON d.cust = p2.cust AND d.neg = p2.part
        |  WHERE p2.cust IS NULL)
        |SELECT cust, part, CAST(k AS INT) AS k, neg
        |FROM clean
        |ORDER BY cust, part, k""".stripMargin)
  }

  /** NDCG@10 per order-priority segment: each order is a "query", its
    * lineitems ranked by extended price (the system order) with quantity
    * as graded relevance; the ideal order re-sorts by relevance. Two
    * row_number windows over the SAME partition key → one shuffle, two
    * local sorts. Per-query NDCG is rounded to 9 digits before the
    * segment mean so cross-engine float-sum ordering can't leak into the
    * 6-digit gate.
    */
  val eval_ndcg = OpQuery(
    "eval_ndcg",
    """WITH r AS (
      |  SELECT o.o_orderpriority, l.l_orderkey,
      |         CAST(l.l_quantity AS DOUBLE) AS rel,
      |         ROW_NUMBER() OVER (PARTITION BY l.l_orderkey
      |             ORDER BY l.l_extendedprice DESC, l.l_linenumber) AS rn,
      |         ROW_NUMBER() OVER (PARTITION BY l.l_orderkey
      |             ORDER BY l.l_quantity DESC, l.l_linenumber) AS irn
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), g AS (
      |  SELECT o_orderpriority, l_orderkey,
      |         ROUND(SUM(CASE WHEN rn <= 10 THEN rel / LOG2(rn + 1) END) /
      |               SUM(CASE WHEN irn <= 10 THEN rel / LOG2(irn + 1) END), 9)
      |           AS ndcg
      |  FROM r GROUP BY 1, 2
      |)
      |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_queries,
      |       CAST(ROUND(AVG(ndcg), 6) AS DOUBLE) AS mean_ndcg
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val li = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
    val wSys = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
    val wIdeal = Window.partitionBy("l_orderkey")
      .orderBy(col("l_quantity").desc, col("l_linenumber"))
    val r = li.select(col("o_orderpriority"), col("l_orderkey"),
      col("l_quantity").cast("double").as("rel"),
      row_number().over(wSys).as("rn"),
      row_number().over(wIdeal).as("irn"))
    val g = r.groupBy("o_orderpriority", "l_orderkey").agg(
      round(sum(when(col("rn") <= 10, col("rel") / log2(col("rn") + 1))) /
        sum(when(col("irn") <= 10, col("rel") / log2(col("irn") + 1))), 9)
        .as("ndcg"))
    g.groupBy("o_orderpriority").agg(
        count(lit(1)).as("n_queries"),
        round(avg(col("ndcg")), 6).cast("double").as("mean_ndcg"))
      .orderBy("o_orderpriority")
  }

  /** Mean reciprocal rank: rank position of the first returned-flag item
    * in each order's price-ranked list; orders with no hit contribute 0.
    * Same one-shuffle window shape as eval_ndcg — the per-query reduction
    * is MIN over a conditional, not a sort-and-pick.
    */
  val eval_mrr = OpQuery(
    "eval_mrr",
    """WITH r AS (
      |  SELECT o.o_orderpriority, l.l_orderkey,
      |         ROW_NUMBER() OVER (PARTITION BY l.l_orderkey
      |             ORDER BY l.l_extendedprice DESC, l.l_linenumber) AS rn,
      |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS hit
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), q AS (
      |  SELECT o_orderpriority, l_orderkey,
      |         MIN(CASE WHEN hit = 1 THEN rn END) AS fh
      |  FROM r GROUP BY 1, 2
      |)
      |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_queries,
      |       CAST(SUM(CASE WHEN fh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_hit,
      |       CAST(ROUND(AVG(CASE WHEN fh IS NULL THEN 0.0 ELSE 1.0 / fh END), 6)
      |         AS DOUBLE) AS mrr
      |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val li = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
    val wSys = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
    val r = li.select(col("o_orderpriority"), col("l_orderkey"),
      row_number().over(wSys).as("rn"),
      when(col("l_returnflag") === "R", 1).otherwise(0).as("hit"))
    val q = r.groupBy("o_orderpriority", "l_orderkey").agg(
      min(when(col("hit") === 1, col("rn"))).as("fh"))
    q.groupBy("o_orderpriority").agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("fh").isNotNull, 1L).otherwise(0L)).cast("long")
          .as("n_hit"),
        round(avg(when(col("fh").isNull, 0.0)
          .otherwise(lit(1.0) / col("fh"))), 6).cast("double").as("mrr"))
      .orderBy("o_orderpriority")
  }

  /** Weight-of-evidence / information-value scorecard: market segment as
    * the predictor bin, "high-value order" (> 150k) as the target. WoE
    * per bin plus the shared total IV (a windowed sum over the 5-row bin
    * table — the fact scan happens once). The credit-scoring feature
    * screen at lakehouse scale: one join, one groupBy, tiny tail.
    */
  val ml_woe_iv = OpQuery(
    "ml_woe_iv",
    """WITH j AS (
      |  SELECT c.c_mktsegment AS seg,
      |         CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS pos
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |), b AS (
      |  SELECT seg, COUNT(*) AS n, SUM(pos) AS ng, SUM(1 - pos) AS nb
      |  FROM j GROUP BY 1
      |), tt AS (SELECT SUM(ng) AS tg, SUM(nb) AS tb FROM b)
      |SELECT seg, CAST(n AS BIGINT) AS n,
      |       CAST(ng AS BIGINT) AS n_good, CAST(nb AS BIGINT) AS n_bad,
      |       CAST(ROUND(LN((ng * 1.0 / tg) / (nb * 1.0 / tb)), 6) AS DOUBLE)
      |         AS woe,
      |       CAST(ROUND(SUM((ng * 1.0 / tg - nb * 1.0 / tb) *
      |            LN((ng * 1.0 / tg) / (nb * 1.0 / tb))) OVER (), 6) AS DOUBLE)
      |         AS iv
      |FROM b CROSS JOIN tt ORDER BY seg""".stripMargin) { (spark, dir) =>
    val j = t(spark, dir, "orders")
      .join(t(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        when(col("o_totalprice") > 150000, 1).otherwise(0).as("pos"))
    val b = j.groupBy("seg").agg(count(lit(1)).as("n"),
      sum(col("pos")).as("ng"), sum(lit(1) - col("pos")).as("nb"))
    val tt = b.agg(sum(col("ng")).as("tg"), sum(col("nb")).as("tb"))
    val gShare = col("ng") * lit(1.0) / col("tg")
    val bShare = col("nb") * lit(1.0) / col("tb")
    val woe = log(gShare / bShare)
    b.crossJoin(tt).select(col("seg"), col("n").cast("long").as("n"),
        col("ng").cast("long").as("n_good"), col("nb").cast("long").as("n_bad"),
        round(woe, 6).cast("double").as("woe"),
        round(sum((gShare - bShare) * woe)
          .over(Window.partitionBy()), 6).cast("double").as("iv"))
      .orderBy("seg")
  }

  /** Multiclass F1 report: per-class precision/recall/F1 from a
    * deterministic synthetic classifier (nation bucket, perturbed on
    * every 7th customer), plus the three aggregation conventions —
    * macro (unweighted class mean), micro (global accuracy), weighted
    * (support-weighted) — as windowed sums over the 5-row class table.
    */
  val eval_f1_multi = OpQuery(
    "eval_f1_multi",
    """WITH p AS (
      |  SELECT c_nationkey % 5 AS y,
      |         (c_nationkey + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END)
      |           % 5 AS yh
      |  FROM customer
      |), tcnt AS (SELECT y AS cls, COUNT(*) AS n_true FROM p GROUP BY 1),
      |pcnt AS (SELECT yh AS cls, COUNT(*) AS n_pred FROM p GROUP BY 1),
      |tpos AS (SELECT y AS cls, COUNT(*) AS tp FROM p WHERE y = yh GROUP BY 1),
      |f AS (
      |  SELECT tcnt.cls, tcnt.n_true,
      |         COALESCE(pcnt.n_pred, 0) AS n_pred,
      |         COALESCE(tpos.tp, 0) AS tp,
      |         COALESCE(tpos.tp, 0) * 1.0 / COALESCE(pcnt.n_pred, 1) AS prec,
      |         COALESCE(tpos.tp, 0) * 1.0 / tcnt.n_true AS rec
      |  FROM tcnt LEFT JOIN pcnt ON tcnt.cls = pcnt.cls
      |  LEFT JOIN tpos ON tcnt.cls = tpos.cls
      |), f2 AS (
      |  SELECT cls, n_true, n_pred, tp, prec, rec,
      |         CASE WHEN prec + rec = 0 THEN 0.0
      |              ELSE 2 * prec * rec / (prec + rec) END AS f1
      |  FROM f
      |)
      |SELECT CAST(cls AS INT) AS cls,
      |       CAST(n_true AS BIGINT) AS n_true,
      |       CAST(n_pred AS BIGINT) AS n_pred,
      |       CAST(tp AS BIGINT) AS tp,
      |       CAST(ROUND(prec, 6) AS DOUBLE) AS precision,
      |       CAST(ROUND(rec, 6) AS DOUBLE) AS recall,
      |       CAST(ROUND(f1, 6) AS DOUBLE) AS f1,
      |       CAST(ROUND(AVG(f1) OVER (), 6) AS DOUBLE) AS macro_f1,
      |       CAST(ROUND(SUM(tp) OVER () * 1.0 / SUM(n_true) OVER (), 6)
      |         AS DOUBLE) AS micro_f1,
      |       CAST(ROUND(SUM(f1 * n_true) OVER () / SUM(n_true) OVER (), 6)
      |         AS DOUBLE) AS weighted_f1
      |FROM f2 ORDER BY cls""".stripMargin) { (spark, dir) =>
    val p = t(spark, dir, "customer").select(
      (col("c_nationkey") % 5).as("y"),
      ((col("c_nationkey") +
        when(col("c_custkey") % 7 === 0, 1).otherwise(0)) % 5).as("yh"))
    val tcnt = p.groupBy(col("y").as("cls")).agg(count(lit(1)).as("n_true"))
    val pcnt = p.groupBy(col("yh").as("cls")).agg(count(lit(1)).as("n_pred"))
    val tpos = p.filter(col("y") === col("yh"))
      .groupBy(col("y").as("cls")).agg(count(lit(1)).as("tp"))
    val f = tcnt.join(pcnt, Seq("cls"), "left").join(tpos, Seq("cls"), "left")
      .select(col("cls"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("tp"), lit(0L)) * lit(1.0) /
          coalesce(col("n_pred"), lit(1L))).as("prec"),
        (coalesce(col("tp"), lit(0L)) * lit(1.0) / col("n_true")).as("rec"))
    val f2 = f.withColumn("f1",
      when(col("prec") + col("rec") === 0, 0.0)
        .otherwise(lit(2) * col("prec") * col("rec") /
          (col("prec") + col("rec"))))
    val w = Window.partitionBy()
    f2.select(col("cls").cast("int").as("cls"),
        col("n_true").cast("long").as("n_true"),
        col("n_pred").cast("long").as("n_pred"),
        col("tp").cast("long").as("tp"),
        round(col("prec"), 6).cast("double").as("precision"),
        round(col("rec"), 6).cast("double").as("recall"),
        round(col("f1"), 6).cast("double").as("f1"),
        round(avg(col("f1")).over(w), 6).cast("double").as("macro_f1"),
        round(sum(col("tp")).over(w) * lit(1.0) /
          sum(col("n_true")).over(w), 6).cast("double").as("micro_f1"),
        round(sum(col("f1") * col("n_true")).over(w) /
          sum(col("n_true")).over(w), 6).cast("double").as("weighted_f1"))
      .orderBy("cls")
  }

  /** DeLong AUC variance via the fast midrank formulation: each
    * positive's placement value V10 = (#negatives below)/n_neg falls out
    * of two ROW_NUMBERs (combined rank − within-class rank), so the
    * whole O(mn) pairwise ψ-matrix collapses into one sort. SE and the
    * 95% Wald interval come from the placement-value variances — the
    * standard answer to "is this AUC significantly better than 0.5".
    */
  val ml_delong_auc = OpQuery(
    "ml_delong_auc",
    """WITH scored AS (
      |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
      |         CAST(label % 2 AS INT) AS y
      |  FROM embeddings
      |), ranked AS (
      |  SELECT y, ROW_NUMBER() OVER (ORDER BY score, vec_id) AS r,
      |         ROW_NUMBER() OVER (PARTITION BY y ORDER BY score, vec_id) AS rg
      |  FROM scored
      |), m AS (
      |  SELECT SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
      |         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
      |  FROM ranked
      |), v10 AS (
      |  SELECT CAST(r - rg AS DOUBLE) / nn AS v FROM ranked CROSS JOIN m WHERE y = 1
      |), v01 AS (
      |  SELECT CAST(r - rg AS DOUBLE) / np AS v FROM ranked CROSS JOIN m WHERE y = 0
      |), a10 AS (SELECT COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2 FROM v10),
      |a01 AS (SELECT COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2 FROM v01)
      |SELECT CAST(a10.n AS BIGINT) AS n_pos, CAST(a01.n AS BIGINT) AS n_neg,
      |       CAST(ROUND(a10.s1 / a10.n, 6) AS DOUBLE) AS auc,
      |       CAST(ROUND(SQRT(
      |         (a10.s2 - a10.s1 * a10.s1 / a10.n) / (a10.n - 1) / a10.n +
      |         (a01.s2 - a01.s1 * a01.s1 / a01.n) / (a01.n - 1) / a01.n), 6)
      |         AS DOUBLE) AS se,
      |       CAST(ROUND(a10.s1 / a10.n - 1.96 * SQRT(
      |         (a10.s2 - a10.s1 * a10.s1 / a10.n) / (a10.n - 1) / a10.n +
      |         (a01.s2 - a01.s1 * a01.s1 / a01.n) / (a01.n - 1) / a01.n), 6)
      |         AS DOUBLE) AS ci_lo,
      |       CAST(ROUND(a10.s1 / a10.n + 1.96 * SQRT(
      |         (a10.s2 - a10.s1 * a10.s1 / a10.n) / (a10.n - 1) / a10.n +
      |         (a01.s2 - a01.s1 * a01.s1 / a01.n) / (a01.n - 1) / a01.n), 6)
      |         AS DOUBLE) AS ci_hi
      |FROM a10 CROSS JOIN a01""".stripMargin) { (spark, dir) =>
    t(spark, dir, "embeddings").createOrReplaceTempView("graft_delong_emb")
    val scored = spark.sql(
      """SELECT vec_id, CAST(element_at(embedding, 1) AS DOUBLE) AS score,
        |       CAST(label % 2 AS INT) AS y
        |FROM graft_delong_emb""".stripMargin)
    // BOTH DeLong ranks from ONE TotalOrder range pass (winscan r9: the
    // global r and the PARTITION BY y rank were table-/class-sized
    // single-reducer windows): r is the distributed row number and the
    // inclusive prefix sum of y gives the within-class rank directly —
    // for a positive row rg = (# positives ≤ it) = cpos; for a negative
    // row rg = r − cpos. Bit-equal because the order (score, vec_id) is
    // total.
    graft.operators.TotalOrder
      .prefixAggs(scored, Seq(col("score"), col("vec_id")),
        sums = Seq("y" -> "cpos"), rnCol = Some("r"))
      .select(col("y"), col("r"),
        when(col("y") === 1, col("cpos")).otherwise(col("r") - col("cpos"))
          .cast("long").as("rg"))
      .createOrReplaceTempView("graft_delong_ranked")
    spark.sql(
      """WITH ranked AS (
        |  SELECT y, r, rg FROM graft_delong_ranked
        |), m AS (
        |  SELECT SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
        |         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
        |  FROM ranked
        |), v10 AS (
        |  SELECT CAST(r - rg AS DOUBLE) / nn AS v FROM ranked CROSS JOIN m WHERE y = 1
        |), v01 AS (
        |  SELECT CAST(r - rg AS DOUBLE) / np AS v FROM ranked CROSS JOIN m WHERE y = 0
        |), a10 AS (SELECT COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2 FROM v10),
        |a01 AS (SELECT COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2 FROM v01)
        |SELECT CAST(a10.n AS BIGINT) AS n_pos, CAST(a01.n AS BIGINT) AS n_neg,
        |       CAST(ROUND(a10.s1 / a10.n, 6) AS DOUBLE) AS auc,
        |       CAST(ROUND(SQRT(
        |         (a10.s2 - a10.s1 * a10.s1 / a10.n) / (a10.n - 1) / a10.n +
        |         (a01.s2 - a01.s1 * a01.s1 / a01.n) / (a01.n - 1) / a01.n), 6)
        |         AS DOUBLE) AS se,
        |       CAST(ROUND(a10.s1 / a10.n - 1.96 * SQRT(
        |         (a10.s2 - a10.s1 * a10.s1 / a10.n) / (a10.n - 1) / a10.n +
        |         (a01.s2 - a01.s1 * a01.s1 / a01.n) / (a01.n - 1) / a01.n), 6)
        |         AS DOUBLE) AS ci_lo,
        |       CAST(ROUND(a10.s1 / a10.n + 1.96 * SQRT(
        |         (a10.s2 - a10.s1 * a10.s1 / a10.n) / (a10.n - 1) / a10.n +
        |         (a01.s2 - a01.s1 * a01.s1 / a01.n) / (a01.n - 1) / a01.n), 6)
        |         AS DOUBLE) AS ci_hi
        |FROM a10 CROSS JOIN a01""".stripMargin)
  }

  /** k-fold assignment audit: customers deterministically folded by a
    * Knuth multiplicative hash, then each (fold, segment) cell compared
    * against its expected count from the margins — the pre-training
    * check that a hash split didn't skew any stratum. One scan, two
    * 5-row margin aggregates joined back.
    */
  val ml_kfold = OpQuery(
    "ml_kfold",
    """WITH a AS (
      |  SELECT (c_custkey * 2654435761) % 5 AS fold, c_mktsegment AS seg
      |  FROM customer
      |), cnt AS (SELECT fold, seg, COUNT(*) AS n FROM a GROUP BY 1, 2),
      |fm AS (SELECT fold, SUM(n) AS nf FROM cnt GROUP BY 1),
      |sm AS (SELECT seg, SUM(n) AS ns FROM cnt GROUP BY 1),
      |tot AS (SELECT SUM(n) AS nn FROM cnt)
      |SELECT CAST(cnt.fold AS INT) AS fold, cnt.seg,
      |       CAST(cnt.n AS BIGINT) AS n,
      |       CAST(ROUND(CAST(fm.nf AS DOUBLE) * sm.ns / tot.nn, 4) AS DOUBLE)
      |         AS expected,
      |       CAST(ROUND(cnt.n / (CAST(fm.nf AS DOUBLE) * sm.ns / tot.nn), 6)
      |         AS DOUBLE) AS ratio
      |FROM cnt JOIN fm ON cnt.fold = fm.fold JOIN sm ON cnt.seg = sm.seg
      |CROSS JOIN tot
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val a = t(spark, dir, "customer").select(
      ((col("c_custkey") * 2654435761L) % 5).as("fold"),
      col("c_mktsegment").as("seg"))
    val cnt = a.groupBy("fold", "seg").agg(count(lit(1)).as("n"))
    val fm = cnt.groupBy("fold").agg(sum(col("n")).as("nf"))
    val sm = cnt.groupBy("seg").agg(sum(col("n")).as("ns"))
    val tot = cnt.agg(sum(col("n")).as("nn"))
    val expected = col("nf").cast("double") * col("ns") / col("nn")
    cnt.join(fm, "fold").join(sm, "seg").crossJoin(tot)
      .select(col("fold").cast("int").as("fold"), col("seg"),
        col("n").cast("long").as("n"),
        round(expected, 4).cast("double").as("expected"),
        round(col("n") / expected, 6).cast("double").as("ratio"))
      .orderBy("fold", "seg")
  }

  /** Matthews correlation coefficient plus balanced accuracy, Youden's
    * J, and Fowlkes–Mallows, on the same pinned scorer as
    * eval_confusion (score = embedding[1], label = label % 2, threshold
    * 0). Integer cell counts; products go through doubles so no BIGINT
    * overflow at any SF. Single aggregation pass.
    */
  val eval_mcc = OpQuery(
    "eval_mcc",
    """WITH scored AS (
      |  SELECT CAST(embedding[1] AS DOUBLE) AS score,
      |         CAST(label % 2 AS INT) AS y
      |  FROM embeddings),
      |m AS (
      |  SELECT SUM(CASE WHEN score > 0 AND y = 1 THEN 1 ELSE 0 END) AS tp,
      |         SUM(CASE WHEN score > 0 AND y = 0 THEN 1 ELSE 0 END) AS fp,
      |         SUM(CASE WHEN score <= 0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
      |         SUM(CASE WHEN score <= 0 AND y = 0 THEN 1 ELSE 0 END) AS tn
      |  FROM scored),
      |r AS (
      |  SELECT tp, fp, fn, tn,
      |         CAST(tp AS DOUBLE) / (tp + fn) AS tpr,
      |         CAST(tn AS DOUBLE) / (tn + fp) AS tnr,
      |         CAST(tp AS DOUBLE) / (tp + fp) AS ppv
      |  FROM m)
      |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
      |       CAST(ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) /
      |         SQRT(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn)),
      |         6) AS DOUBLE) AS mcc,
      |       CAST(ROUND((tpr + tnr) / 2, 6) AS DOUBLE) AS balanced_acc,
      |       CAST(ROUND(tpr + tnr - 1, 6) AS DOUBLE) AS youden_j,
      |       CAST(ROUND(SQRT(ppv * tpr), 6) AS DOUBLE) AS fowlkes_mallows
      |FROM r""".stripMargin) { (spark, dir) =>
    val m = Tables.load(spark, dir, "embeddings")
      .select(element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") % 2).cast("int").as("y"))
      .agg(
        sum(when(col("score") > 0 && col("y") === 1, 1).otherwise(0)).as("tp"),
        sum(when(col("score") > 0 && col("y") === 0, 1).otherwise(0)).as("fp"),
        sum(when(col("score") <= 0 && col("y") === 1, 1).otherwise(0)).as("fn"),
        sum(when(col("score") <= 0 && col("y") === 0, 1).otherwise(0)).as("tn"))
    val tpr = col("tp").cast("double") / (col("tp") + col("fn"))
    val tnr = col("tn").cast("double") / (col("tn") + col("fp"))
    val ppv = col("tp").cast("double") / (col("tp") + col("fp"))
    m.select(col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
      col("fn").cast("long").as("fn"), col("tn").cast("long").as("tn"),
      round((col("tp").cast("double") * col("tn") -
          col("fp").cast("double") * col("fn")) /
        sqrt((col("tp") + col("fp")).cast("double") * (col("tp") + col("fn")) *
          (col("tn") + col("fp")) * (col("tn") + col("fn"))), 6)
        .cast("double").as("mcc"),
      round((tpr + tnr) / 2, 6).cast("double").as("balanced_acc"),
      round(tpr + tnr - 1, 6).cast("double").as("youden_j"),
      round(sqrt(ppv * tpr), 6).cast("double").as("fowlkes_mallows"))
  }

  /** Multinomial naive Bayes trained IN SQL: split customers 80/20 by
    * key hash, learn Laplace-smoothed log-likelihoods of (nation,
    * balance band) per market segment on the train split, score the
    * holdout by joining the two likelihood tables plus the prior, and
    * report the confusion matrix. Scores are quantized to 8 decimals
    * before the argmax window so tie-breaks (then by class name) are
    * engine-stable. Three aggregates + two broadcast-size joins.
    */
  val ml_naive_bayes = OpQuery.sql("ml_naive_bayes", "customer")(
    """WITH base AS (
      |  SELECT c_custkey AS id, c_mktsegment AS cls, c_nationkey AS f1,
      |         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000) AS INT) AS f2,
      |         c_custkey % 5 = 4 AS is_test
      |  FROM customer),
      |pri AS (
      |  SELECT cls, COUNT(*) AS nc FROM base WHERE NOT is_test GROUP BY cls),
      |tot AS (SELECT SUM(nc) AS n, COUNT(*) AS k FROM pri),
      |l1 AS (
      |  SELECT cls, f1, COUNT(*) AS c FROM base WHERE NOT is_test GROUP BY cls, f1),
      |l2 AS (
      |  SELECT cls, f2, COUNT(*) AS c FROM base WHERE NOT is_test GROUP BY cls, f2),
      |v1 AS (SELECT COUNT(DISTINCT f1) AS v FROM base),
      |v2 AS (SELECT COUNT(DISTINCT f2) AS v FROM base),
      |scored AS (
      |  SELECT b.id, b.cls AS actual, pri.cls AS cand,
      |         ROUND(
      |           LN(CAST(pri.nc AS DOUBLE) / tot.n) +
      |           LN((COALESCE(l1.c, 0) + 1.0) / (pri.nc + v1.v)) +
      |           LN((COALESCE(l2.c, 0) + 1.0) / (pri.nc + v2.v)), 8) AS s
      |  FROM base b
      |  CROSS JOIN pri CROSS JOIN tot CROSS JOIN v1 CROSS JOIN v2
      |  LEFT JOIN l1 ON l1.cls = pri.cls AND l1.f1 = b.f1
      |  LEFT JOIN l2 ON l2.cls = pri.cls AND l2.f2 = b.f2
      |  WHERE b.is_test),
      |pred AS (
      |  SELECT id, actual, cand,
      |         ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cand) AS rk
      |  FROM scored)
      |SELECT actual, cand AS predicted, COUNT(*) AS n
      |FROM pred WHERE rk = 1
      |GROUP BY actual, cand
      |ORDER BY actual, predicted""".stripMargin)

  /** Two-feature OLS by normal equations: daily revenue regressed on
    * the day index and a weekend indicator (weekday from pure epoch-day
    * arithmetic — no engine calendar involved). The 3×3 system is
    * solved by Cramer's rule on EXACT integer/decimal sums, so the
    * coefficients are bit-identical; R² comes from quantized residual
    * sums. One aggregation over the daily series.
    */
  val ml_ols2 = OpQuery.sql("ml_ols2", "orders")(
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS e,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders GROUP BY 1),
      |xy AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY e) AS t,
      |         CASE WHEN (e + 3) % 7 IN (5, 6) THEN 1 ELSE 0 END AS w, y
      |  FROM daily),
      |s AS (
      |  SELECT COUNT(*) AS n, SUM(t) AS st, SUM(w) AS sw,
      |         SUM(t * t) AS stt, SUM(t * w) AS stw, SUM(w * w) AS sww,
      |         SUM(y) AS sy, SUM(CAST(t AS DECIMAL(18,0)) * y) AS sty,
      |         SUM(CAST(w AS DECIMAL(18,0)) * y) AS swy
      |  FROM xy),
      |d AS (
      |  SELECT n, st, sw, stt, stw, sww,
      |         CAST(sy AS DOUBLE) AS sy, CAST(sty AS DOUBLE) AS sty,
      |         CAST(swy AS DOUBLE) AS swy,
      |         CAST(n AS DOUBLE) * (CAST(stt AS DOUBLE) * sww - CAST(stw AS DOUBLE) * stw)
      |           - CAST(st AS DOUBLE) * (CAST(st AS DOUBLE) * sww - CAST(stw AS DOUBLE) * sw)
      |           + CAST(sw AS DOUBLE) * (CAST(st AS DOUBLE) * stw - CAST(stt AS DOUBLE) * sw)
      |           AS det
      |  FROM s),
      |coef AS (
      |  SELECT n,
      |    (sy * (CAST(stt AS DOUBLE) * sww - CAST(stw AS DOUBLE) * stw)
      |     - CAST(st AS DOUBLE) * (sty * sww - CAST(stw AS DOUBLE) * swy)
      |     + CAST(sw AS DOUBLE) * (sty * CAST(stw AS DOUBLE) - CAST(stt AS DOUBLE) * swy))
      |      / det AS a,
      |    (CAST(n AS DOUBLE) * (sty * sww - CAST(stw AS DOUBLE) * swy)
      |     - sy * (CAST(st AS DOUBLE) * sww - CAST(stw AS DOUBLE) * sw)
      |     + CAST(sw AS DOUBLE) * (CAST(st AS DOUBLE) * swy - sty * sw))
      |      / det AS b1,
      |    (CAST(n AS DOUBLE) * (CAST(stt AS DOUBLE) * swy - sty * CAST(stw AS DOUBLE))
      |     - CAST(st AS DOUBLE) * (CAST(st AS DOUBLE) * swy - sty * sw)
      |     + sy * (CAST(st AS DOUBLE) * stw - CAST(stt AS DOUBLE) * sw))
      |      / det AS b2,
      |    sy
      |  FROM d),
      |errs AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND(
      |      (CAST(xy.y AS DOUBLE) - (c.a + c.b1 * xy.t + c.b2 * xy.w))
      |      * (CAST(xy.y AS DOUBLE) - (c.a + c.b1 * xy.t + c.b2 * xy.w)), 4)
      |      AS DECIMAL(38,4))) AS DOUBLE) AS sse,
      |    CAST(SUM(CAST(ROUND(
      |      (CAST(xy.y AS DOUBLE) - c.sy / c.n)
      |      * (CAST(xy.y AS DOUBLE) - c.sy / c.n), 4)
      |      AS DECIMAL(38,4))) AS DOUBLE) AS sst
      |  FROM xy CROSS JOIN coef c)
      |SELECT CAST(coef.n AS BIGINT) AS n_days,
      |       CAST(ROUND(coef.a, 4) AS DOUBLE) AS intercept,
      |       CAST(ROUND(coef.b1, 6) AS DOUBLE) AS slope_t,
      |       CAST(ROUND(coef.b2, 4) AS DOUBLE) AS weekend_effect,
      |       CAST(ROUND(1 - errs.sse / errs.sst, 6) AS DOUBLE) AS r2
      |FROM coef CROSS JOIN errs""".stripMargin,
    "epoch(" -> "unix_timestamp(")

  /** Average precision of the pinned scorer (score = embedding[1],
    * relevant = label%2): AP = Σₖ P(k)·rel(k) / n⁺ down the full
    * ranking, plus precision@10 and precision@100. One sort window; the
    * per-rank precision terms are exact rationals quantized to 10
    * decimals before the DECIMAL sum.
    */
  val eval_average_precision = OpQuery(
    "eval_average_precision",
    """WITH scored AS (
      |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
      |         CAST(label % 2 AS INT) AS y
      |  FROM embeddings),
      |ranked AS (
      |  SELECT y, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS k,
      |         SUM(y) OVER (ORDER BY score DESC, vec_id
      |                      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM scored),
      |m AS (
      |  SELECT SUM(y) AS npos, COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(CASE WHEN y = 1
      |             THEN CAST(cum AS DOUBLE) / k ELSE 0 END, 10)
      |           AS DECIMAL(28,10))) AS DOUBLE) AS apsum,
      |         MAX(CASE WHEN k = 10 THEN cum END) AS hit10,
      |         MAX(CASE WHEN k = 100 THEN cum END) AS hit100
      |  FROM ranked)
      |SELECT CAST(npos AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(apsum / npos, 6) AS DOUBLE) AS avg_precision,
      |       CAST(hit10 AS DOUBLE) / 10 AS p_at_10,
      |       CAST(hit100 AS DOUBLE) / 100 AS p_at_100
      |FROM m""".stripMargin) { (spark, dir) =>
    // The rank index and running-positives prefix both come from ONE
    // TotalOrder range shuffle — the embeddings frame is table-sized, so
    // no un-partitioned row_number/SUM window.
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") % 2).cast("int").as("y"))
    val ranked = graft.operators.TotalOrder.prefixAggs(
        base, Seq(col("score").desc, col("vec_id")),
        sums = Seq("y" -> "cum"), rnCol = Some("k"))
      .select(col("y"), col("k"), col("cum"))
    ranked.agg(
        sum(col("y")).as("npos"), count(lit(1)).as("n"),
        sum(round(when(col("y") === 1, col("cum").cast("double") / col("k"))
            .otherwise(0), 10).cast("decimal(28,10)"))
          .cast("double").as("apsum"),
        max(when(col("k") === 10, col("cum"))).as("hit10"),
        max(when(col("k") === 100, col("cum"))).as("hit100"))
      .select(col("npos").cast("long").as("n_pos"), col("n").cast("long").as("n"),
        round(col("apsum") / col("npos"), 6).cast("double").as("avg_precision"),
        (col("hit10").cast("double") / 10).as("p_at_10"),
        (col("hit100").cast("double") / 100).as("p_at_100"))
  }

  private val pcaSql: String =
    """WITH f AS (
      |  SELECT CAST(l_quantity AS DECIMAL(18,6)) AS x,
      |         CAST(l_extendedprice / 1000 AS DECIMAL(18,6)) AS y,
      |         CAST(l_discount * 100 AS DECIMAL(18,6)) AS z
      |  FROM lineitem),
      |s AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
      |         SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
      |         SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
      |         SUM(CAST(x * z AS DECIMAL(38,12))) AS sxz,
      |         SUM(CAST(y * y AS DECIMAL(38,12))) AS syy,
      |         SUM(CAST(y * z AS DECIMAL(38,12))) AS syz,
      |         SUM(CAST(z * z AS DECIMAL(38,12))) AS szz
      |  FROM f),
      |c AS (
      |  SELECT n,
      |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS c11,
      |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1) AS c12,
      |    (CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * sz / n) / (n - 1) AS c13,
      |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS c22,
      |    (CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * sz / n) / (n - 1) AS c23,
      |    (CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz / n) / (n - 1) AS c33
      |  FROM s),
      |i1 AS (
      |  SELECT n, c11, c12, c13, c22, c23, c33,
      |         c11 + c12 + c13 AS w1, c12 + c22 + c23 AS w2,
      |         c13 + c23 + c33 AS w3
      |  FROM c),
      |v1 AS (
      |  SELECT *, w1 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a1,
      |         w2 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a2,
      |         w3 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a3
      |  FROM i1),
      |i2 AS (
      |  SELECT n, c11, c12, c13, c22, c23, c33,
      |         c11 * a1 + c12 * a2 + c13 * a3 AS w1,
      |         c12 * a1 + c22 * a2 + c23 * a3 AS w2,
      |         c13 * a1 + c23 * a2 + c33 * a3 AS w3
      |  FROM v1),
      |v2 AS (
      |  SELECT *, w1 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a1,
      |         w2 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a2,
      |         w3 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a3
      |  FROM i2),
      |i3 AS (
      |  SELECT n, c11, c12, c13, c22, c23, c33,
      |         c11 * a1 + c12 * a2 + c13 * a3 AS w1,
      |         c12 * a1 + c22 * a2 + c23 * a3 AS w2,
      |         c13 * a1 + c23 * a2 + c33 * a3 AS w3
      |  FROM v2),
      |v3 AS (
      |  SELECT *, w1 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a1,
      |         w2 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a2,
      |         w3 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a3
      |  FROM i3),
      |i4 AS (
      |  SELECT n, c11, c12, c13, c22, c23, c33,
      |         c11 * a1 + c12 * a2 + c13 * a3 AS w1,
      |         c12 * a1 + c22 * a2 + c23 * a3 AS w2,
      |         c13 * a1 + c23 * a2 + c33 * a3 AS w3
      |  FROM v3),
      |v4 AS (
      |  SELECT n, c11, c12, c13, c22, c23, c33,
      |         w1 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a1,
      |         w2 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a2,
      |         w3 / SQRT(w1 * w1 + w2 * w2 + w3 * w3) AS a3
      |  FROM i4),
      |fin AS (
      |  SELECT n,
      |         CASE WHEN a1 < 0 THEN -a1 ELSE a1 END AS e1,
      |         CASE WHEN a1 < 0 THEN -a2 ELSE a2 END AS e2,
      |         CASE WHEN a1 < 0 THEN -a3 ELSE a3 END AS e3,
      |         a1 * (c11 * a1 + c12 * a2 + c13 * a3)
      |         + a2 * (c12 * a1 + c22 * a2 + c23 * a3)
      |         + a3 * (c13 * a1 + c23 * a2 + c33 * a3) AS lam
      |  FROM v4)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(ROUND(lam, 6) AS DOUBLE) AS eigenvalue,
      |       CAST(ROUND(e1, 6) AS DOUBLE) AS v_quantity,
      |       CAST(ROUND(e2, 6) AS DOUBLE) AS v_price,
      |       CAST(ROUND(e3, 6) AS DOUBLE) AS v_discount
      |FROM fin""".stripMargin

  /** First principal component of three lineitem features (quantity,
    * price/1000, discount×100) by FOUR unrolled power-iteration steps
    * on the 3×3 covariance matrix. The covariance comes from EXACT
    * DECIMAL cross-product sums — the only data-sized pass — and the
    * iteration is a fixed scalar op sequence on one row, so the result
    * is bit-identical on any engine. Sign pinned by forcing v₁ ≥ 0.
    */
  val ml_pca_power = OpQuery(
    "ml_pca_power",
    pcaSql) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_pca_li")
    spark.sql(pcaSql.replace("FROM lineitem", "FROM graft_pca_li"))
  }

  /** Murphy decomposition of the Brier score — reliability −
    * resolution + uncertainty — for the pinned scorer with forecast
    * probability = exact percent-rank of the score (rational, so decile
    * binning never straddles a float boundary). Each component is a
    * quantized DECIMAL fold; the identity brier = rel − res + unc is
    * reported as a residual column the gate pins near zero.
    */
  val eval_brier_decomp = OpQuery(
    "eval_brier_decomp",
    """WITH scored AS (
      |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
      |         CAST(label % 2 AS INT) AS y
      |  FROM embeddings),
      |pr AS (
      |  SELECT y,
      |         CAST(ROW_NUMBER() OVER (ORDER BY score, vec_id) - 1 AS BIGINT)
      |           AS rk,
      |         COUNT(*) OVER () AS n
      |  FROM scored),
      |p AS (
      |  SELECT y, rk, n, CAST((rk * 10) // (n - 1) AS INT) AS bin,
      |         CAST(rk AS DOUBLE) / (n - 1) AS prob
      |  FROM pr),
      |bins AS (
      |  SELECT LEAST(bin, 9) AS bin, COUNT(*) AS nk,
      |         CAST(SUM(CAST(ROUND(prob, 10) AS DECIMAL(28,10))) AS DOUBLE)
      |           / COUNT(*) AS pbar,
      |         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybar
      |  FROM p GROUP BY 1),
      |tot AS (
      |  SELECT SUM(nk) AS n,
      |         CAST(SUM(CAST(nk AS DECIMAL(18,0)) *
      |           CAST(ROUND(ybar, 10) AS DECIMAL(28,10))) AS DOUBLE) / SUM(nk)
      |           AS ybar_all
      |  FROM bins),
      |comps AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND(nk * (pbar - ybar) * (pbar - ybar), 8)
      |      AS DECIMAL(38,8))) AS DOUBLE) / MAX(tot.n) AS reliability,
      |    CAST(SUM(CAST(ROUND(nk * (ybar - tot.ybar_all) * (ybar - tot.ybar_all),
      |      8) AS DECIMAL(38,8))) AS DOUBLE) / MAX(tot.n) AS resolution,
      |    MAX(tot.ybar_all) * (1 - MAX(tot.ybar_all)) AS uncertainty
      |  FROM bins CROSS JOIN tot),
      |brier AS (
      |  SELECT CAST(SUM(CAST(ROUND((prob - y) * (prob - y), 10)
      |           AS DECIMAL(28,10))) AS DOUBLE) / MAX(n) AS bs
      |  FROM p)
      |SELECT CAST(ROUND(brier.bs, 6) AS DOUBLE) AS brier,
      |       CAST(ROUND(comps.reliability, 6) AS DOUBLE) AS reliability,
      |       CAST(ROUND(comps.resolution, 6) AS DOUBLE) AS resolution,
      |       CAST(ROUND(comps.uncertainty, 6) AS DOUBLE) AS uncertainty,
      |       CAST(ROUND(brier.bs - (comps.reliability - comps.resolution
      |         + comps.uncertainty), 4) AS DOUBLE) AS residual
      |FROM brier CROSS JOIN comps""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_bd_emb")
    val scored = spark.sql(
      """SELECT vec_id, CAST(element_at(embedding, 1) AS DOUBLE) AS score,
        |       CAST(label % 2 AS INT) AS y
        |FROM graft_bd_emb""".stripMargin)
    // ECDF position + total count via TotalOrder's range-shuffle pair
    // (winscan r9: RAW table-sized global window) — bit-equal, the
    // order (score, vec_id) is total
    graft.operators.TotalOrder
      .rowNumberWithCount(scored, Seq(col("score"), col("vec_id")),
        rnCol = "rn1", nCol = "n")
      .createOrReplaceTempView("graft_bd_ranked")
    spark.sql(
      """WITH pr AS (
        |  SELECT y, CAST(rn1 - 1 AS BIGINT) AS rk, n FROM graft_bd_ranked),
        |p AS (
        |  SELECT y, rk, n, CAST((rk * 10) DIV (n - 1) AS INT) AS bin,
        |         CAST(rk AS DOUBLE) / (n - 1) AS prob
        |  FROM pr),
        |bins AS (
        |  SELECT LEAST(bin, 9) AS bin, COUNT(*) AS nk,
        |         CAST(SUM(CAST(ROUND(prob, 10) AS DECIMAL(28,10))) AS DOUBLE)
        |           / COUNT(*) AS pbar,
        |         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybar
        |  FROM p GROUP BY 1),
        |tot AS (
        |  SELECT SUM(nk) AS n,
        |         CAST(SUM(CAST(nk AS DECIMAL(18,0)) *
        |           CAST(ROUND(ybar, 10) AS DECIMAL(28,10))) AS DOUBLE) / SUM(nk)
        |           AS ybar_all
        |  FROM bins),
        |comps AS (
        |  SELECT
        |    CAST(SUM(CAST(ROUND(nk * (pbar - ybar) * (pbar - ybar), 8)
        |      AS DECIMAL(38,8))) AS DOUBLE) / MAX(tot.n) AS reliability,
        |    CAST(SUM(CAST(ROUND(nk * (ybar - tot.ybar_all) * (ybar - tot.ybar_all),
        |      8) AS DECIMAL(38,8))) AS DOUBLE) / MAX(tot.n) AS resolution,
        |    MAX(tot.ybar_all) * (1 - MAX(tot.ybar_all)) AS uncertainty
        |  FROM bins CROSS JOIN tot),
        |brier AS (
        |  SELECT CAST(SUM(CAST(ROUND((prob - y) * (prob - y), 10)
        |           AS DECIMAL(28,10))) AS DOUBLE) / MAX(n) AS bs
        |  FROM p)
        |SELECT CAST(ROUND(brier.bs, 6) AS DOUBLE) AS brier,
        |       CAST(ROUND(comps.reliability, 6) AS DOUBLE) AS reliability,
        |       CAST(ROUND(comps.resolution, 6) AS DOUBLE) AS resolution,
        |       CAST(ROUND(comps.uncertainty, 6) AS DOUBLE) AS uncertainty,
        |       CAST(ROUND(brier.bs - (comps.reliability - comps.resolution
        |         + comps.uncertainty), 4) AS DOUBLE) AS residual
        |FROM brier CROSS JOIN comps""".stripMargin)
  }

  /** Decision-stump training in one sorted pass: rank orders by total
    * price with a running positive count (target = urgent priority),
    * evaluate the Gini gain of the 19 vigintile cut points from the
    * prefix sums alone (no per-candidate rescan), and return the best
    * split. This is the inner loop of tree building, expressed as a
    * window + 19-row reduce — O(n log n), not O(n·candidates).
    */
  val ml_tree_stump = OpQuery(
    "ml_tree_stump",
    """WITH base AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
      |         o_orderkey
      |  FROM orders),
      |ranked AS (
      |  SELECT x, y, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS r,
      |         SUM(y) OVER (ORDER BY x, o_orderkey
      |                      ROWS UNBOUNDED PRECEDING) AS cpos,
      |         COUNT(*) OVER () AS n, SUM(y) OVER () AS pos
      |  FROM base),
      |cand AS (
      |  SELECT r, x AS threshold, cpos, n, pos FROM ranked
      |  WHERE r IN (SELECT (n * k) // 20 FROM
      |              (SELECT DISTINCT n FROM (SELECT COUNT(*) AS n FROM base) z) nn
      |              CROSS JOIN (SELECT unnest(generate_series(1, 19)) AS k) ks)),
      |gain AS (
      |  SELECT threshold, r AS n_left, n - r AS n_right, cpos AS pos_left,
      |         pos - cpos AS pos_right,
      |         ROUND(
      |           (1 - POW(CAST(pos AS DOUBLE) / n, 2)
      |              - POW(1 - CAST(pos AS DOUBLE) / n, 2))
      |           - (CAST(r AS DOUBLE) / n) *
      |             (1 - POW(CAST(cpos AS DOUBLE) / r, 2)
      |                - POW(1 - CAST(cpos AS DOUBLE) / r, 2))
      |           - (CAST(n - r AS DOUBLE) / n) *
      |             (1 - POW(CAST(pos - cpos AS DOUBLE) / (n - r), 2)
      |                - POW(1 - CAST(pos - cpos AS DOUBLE) / (n - r), 2)),
      |           8) AS gini_gain
      |  FROM cand),
      |best AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY gini_gain DESC, threshold) AS rk
      |  FROM gain)
      |SELECT CAST(threshold AS DOUBLE) AS threshold,
      |       CAST(n_left AS BIGINT) AS n_left,
      |       CAST(n_right AS BIGINT) AS n_right,
      |       CAST(pos_left AS BIGINT) AS pos_left,
      |       CAST(pos_right AS BIGINT) AS pos_right,
      |       CAST(gini_gain AS DOUBLE) AS gini_gain
      |FROM best WHERE rk = 1""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_stump_orders")
    // global rank + running positive count in ONE TotalOrder.prefixAggs
    // pass (two-phase range ranks); the scalar totals broadcast — the
    // window form pushed every raw order row through a single reducer
    val stumpBase = spark.sql(
      """SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
        |       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
        |       o_orderkey
        |FROM graft_stump_orders""".stripMargin)
    graft.operators.TotalOrder
      .prefixAggs(stumpBase, Seq(col("x"), col("o_orderkey")),
        sums = Seq("y" -> "cpos"), rnCol = Some("r"))
      .crossJoin(broadcast(stumpBase.agg(
        count(lit(1)).as("n"), sum(col("y")).as("pos"))))
      .select(col("x"), col("y"), col("r"), col("cpos"), col("n"), col("pos"))
      .createOrReplaceTempView("graft_stump_ranked")
    spark.sql(
      """WITH ranked AS (
        |  SELECT x, y, r, cpos, n, pos FROM graft_stump_ranked),
        |cand AS (
        |  SELECT r, x AS threshold, cpos, n, pos FROM ranked
        |  WHERE r IN (SELECT (n * k) DIV 20 FROM
        |              (SELECT DISTINCT n FROM ranked) nn
        |              CROSS JOIN (SELECT explode(sequence(1, 19)) AS k) ks)),
        |gain AS (
        |  SELECT threshold, r AS n_left, n - r AS n_right, cpos AS pos_left,
        |         pos - cpos AS pos_right,
        |         ROUND(
        |           (1 - POW(CAST(pos AS DOUBLE) / n, 2)
        |              - POW(1 - CAST(pos AS DOUBLE) / n, 2))
        |           - (CAST(r AS DOUBLE) / n) *
        |             (1 - POW(CAST(cpos AS DOUBLE) / r, 2)
        |                - POW(1 - CAST(cpos AS DOUBLE) / r, 2))
        |           - (CAST(n - r AS DOUBLE) / n) *
        |             (1 - POW(CAST(pos - cpos AS DOUBLE) / (n - r), 2)
        |                - POW(1 - CAST(pos - cpos AS DOUBLE) / (n - r), 2)),
        |           8) AS gini_gain
        |  FROM cand)
        |SELECT CAST(threshold AS DOUBLE) AS threshold,
        |       CAST(n_left AS BIGINT) AS n_left,
        |       CAST(n_right AS BIGINT) AS n_right,
        |       CAST(pos_left AS BIGINT) AS pos_left,
        |       CAST(pos_right AS BIGINT) AS pos_right,
        |       CAST(gini_gain AS DOUBLE) AS gini_gain
        |FROM gain
        |ORDER BY gini_gain DESC, threshold
        |LIMIT 1""".stripMargin)
    // top-1-by-order as ORDER BY + LIMIT (TakeOrderedAndProject) instead
    // of a ROW_NUMBER window — same row, no unpartitioned WindowExec
    // (winscan r9; cand is ≤19 rows, but the plan could not prove it)
  }

  /** Item-item cosine similarity from order co-occurrence: parts
    * appearing in the same order are a co-purchase signal; cosine =
    * co/√(n₁·n₂) over binary incidence. The self-join is keyed on
    * orderkey (bounded fan-out per order), never on part pairs — the
    * standard scalable shape for co-occurrence mining. Top 20 pairs
    * with support ≥ 3.
    */
  val rec_item_cosine = OpQuery.sql("rec_item_cosine", "lineitem")(
    """WITH inc AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |np AS (SELECT p, COUNT(*) AS n FROM inc GROUP BY p),
      |co AS (
      |  SELECT a.p AS p1, b.p AS p2, COUNT(*) AS c
      |  FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p
      |  GROUP BY a.p, b.p
      |  HAVING COUNT(*) >= 3),
      |sim AS (
      |  SELECT co.p1, co.p2, co.c,
      |         ROUND(co.c / SQRT(CAST(n1.n AS DOUBLE) * n2.n), 6) AS cosine
      |  FROM co JOIN np n1 ON n1.p = co.p1 JOIN np n2 ON n2.p = co.p2)
      |SELECT CAST(p1 AS BIGINT) AS part1, CAST(p2 AS BIGINT) AS part2,
      |       CAST(c AS BIGINT) AS co_orders,
      |       CAST(cosine AS DOUBLE) AS cosine
      |FROM sim
      |ORDER BY cosine DESC, part1, part2
      |LIMIT 20""".stripMargin)

  /** Logistic regression, one exact Newton–Raphson step from β = 0:
    * at the origin the IRLS weights are ¼ and the update has the
    * closed form β₁ = 4·(XᵀX)⁻¹ Xᵀ(y − ½) — a 2×2 solve on five
    * quantized moment sums (intercept + ln-price predicting order
    * urgency). The reported log-loss at β₁ is a second quantized fold.
    * One distributed pass for the moments, scalar algebra for the
    * solve — the same shape an L-BFGS driver would run per iteration.
    */
  val ml_logistic_newton = OpQuery.sql("ml_logistic_newton", "orders")(
    """WITH base AS (
      |  SELECT LN(CAST(o_totalprice AS DOUBLE)) AS x,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y
      |  FROM orders),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(ROUND(x, 8) AS DECIMAL(38,8))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(ROUND(x * x, 8) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
      |         CAST(SUM(CAST(ROUND(y - 0.5, 1) AS DECIMAL(38,1))) AS DOUBLE) AS g0,
      |         CAST(SUM(CAST(ROUND(x * (y - 0.5), 8) AS DECIMAL(38,8))) AS DOUBLE) AS g1
      |  FROM base),
      |step AS (
      |  SELECT n,
      |         ROUND(4.0 * (sxx * g0 - sx * g1) / (n * sxx - sx * sx), 10) AS b0,
      |         ROUND(4.0 * (n * g1 - sx * g0) / (n * sxx - sx * sx), 10) AS b1
      |  FROM m),
      |loss AS (
      |  SELECT step.b0, step.b1, step.n,
      |         CAST(SUM(CAST(ROUND(
      |           LN(1.0 + EXP(step.b0 + step.b1 * base.x))
      |             - base.y * (step.b0 + step.b1 * base.x), 8)
      |           AS DECIMAL(38,8))) AS DOUBLE) AS nll
      |  FROM base CROSS JOIN step
      |  GROUP BY step.b0, step.b1, step.n)
      |SELECT CAST(n AS BIGINT) AS n_obs,
      |       CAST(ROUND(b0, 6) AS DOUBLE) AS beta0,
      |       CAST(ROUND(b1, 6) AS DOUBLE) AS beta1,
      |       CAST(ROUND(nll / n, 6) AS DOUBLE) AS avg_logloss
      |FROM loss""".stripMargin)

  /** DBSCAN's density classification (eps = 0.05, minPts = 8,
    * self-inclusive) on the first two embedding dimensions. The
    * neighbor join NEVER compares all pairs: each point is exploded
    * into its 3×3 surrounding grid cells and the candidate join is an
    * EQUI-join on cell — the standard way a spatial self-join scales
    * out (work ∝ local density, shuffle on cell key). Core points have
    * ≥ minPts eps-neighbors; border points are non-core within eps of
    * a core; the rest is noise. Output is the per-label census.
    */
  val cluster_dbscan_core = OpQuery(
    "cluster_dbscan_core",
    """WITH p AS (
      |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
      |         CAST(embedding[2] AS DOUBLE) AS y,
      |         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) / 0.05) AS BIGINT) AS cx,
      |         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) / 0.05) AS BIGINT) AS cy
      |  FROM embeddings),
      |spread AS (
      |  SELECT p.vec_id, p.x, p.y, p.cx + dx.d AS cx, p.cy + dy.d AS cy
      |  FROM p
      |  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS d) dx
      |  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS d) dy),
      |nb AS (
      |  SELECT a.vec_id, COUNT(*) AS n
      |  FROM p a JOIN spread b ON a.cx = b.cx AND a.cy = b.cy
      |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.0025
      |  GROUP BY a.vec_id),
      |core AS (SELECT vec_id FROM nb WHERE n >= 8),
      |border AS (
      |  SELECT DISTINCT a.vec_id
      |  FROM p a
      |  JOIN spread b ON a.cx = b.cx AND a.cy = b.cy
      |  JOIN core ON core.vec_id = b.vec_id
      |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.0025
      |    AND a.vec_id NOT IN (SELECT vec_id FROM core)),
      |labeled AS (
      |  SELECT nb.vec_id, nb.n,
      |         CASE WHEN core.vec_id IS NOT NULL THEN 'core'
      |              WHEN border.vec_id IS NOT NULL THEN 'border'
      |              ELSE 'noise' END AS label
      |  FROM nb
      |  LEFT JOIN core ON core.vec_id = nb.vec_id
      |  LEFT JOIN border ON border.vec_id = nb.vec_id)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS points,
      |       CAST(MIN(n) AS BIGINT) AS min_neighbors,
      |       CAST(MAX(n) AS BIGINT) AS max_neighbors,
      |       CAST(ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)
      |         AS avg_neighbors
      |FROM labeled
      |GROUP BY label
      |ORDER BY label""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_db_emb")
    spark.sql(
      """WITH p AS (
        |  SELECT vec_id, CAST(embedding[0] AS DOUBLE) AS x,
        |         CAST(embedding[1] AS DOUBLE) AS y,
        |         CAST(FLOOR(CAST(embedding[0] AS DOUBLE) / 0.05) AS BIGINT) AS cx,
        |         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) / 0.05) AS BIGINT) AS cy
        |  FROM graft_db_emb),
        |spread AS (
        |  SELECT p.vec_id, p.x, p.y, p.cx + dx.d AS cx, p.cy + dy.d AS cy
        |  FROM p
        |  CROSS JOIN (SELECT explode(sequence(-1, 1)) AS d) dx
        |  CROSS JOIN (SELECT explode(sequence(-1, 1)) AS d) dy),
        |nb AS (
        |  SELECT a.vec_id, COUNT(*) AS n
        |  FROM p a JOIN spread b ON a.cx = b.cx AND a.cy = b.cy
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.0025
        |  GROUP BY a.vec_id),
        |core AS (SELECT vec_id FROM nb WHERE n >= 8),
        |border AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM p a
        |  JOIN spread b ON a.cx = b.cx AND a.cy = b.cy
        |  JOIN core ON core.vec_id = b.vec_id
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.0025
        |    AND a.vec_id NOT IN (SELECT vec_id FROM core)),
        |labeled AS (
        |  SELECT nb.vec_id, nb.n,
        |         CASE WHEN core.vec_id IS NOT NULL THEN 'core'
        |              WHEN border.vec_id IS NOT NULL THEN 'border'
        |              ELSE 'noise' END AS label
        |  FROM nb
        |  LEFT JOIN core ON core.vec_id = nb.vec_id
        |  LEFT JOIN border ON border.vec_id = nb.vec_id)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS points,
        |       CAST(MIN(n) AS BIGINT) AS min_neighbors,
        |       CAST(MAX(n) AS BIGINT) AS max_neighbors,
        |       CAST(ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)
        |         AS avg_neighbors
        |FROM labeled
        |GROUP BY label
        |ORDER BY label""".stripMargin)
  }

  /** Farthest-first traversal (Gonzalez k-center seeding) on the
    * first four embedding dimensions: start from the lowest vec_id,
    * then three times pick the point farthest from the chosen set.
    * Each step is one aggregation + one argmax with a vec_id
    * tie-break, unrolled as CTEs; the reported radius is the k-center
    * covering radius after each pick — the 2-approximation guarantee
    * in one column. This is the deterministic seeding k-means++
    * randomizes.
    */
  val cluster_farthest_first = OpQuery(
    "cluster_farthest_first",
    """WITH p AS (
      |  SELECT vec_id,
      |         CAST(embedding[1] AS DOUBLE) AS x1, CAST(embedding[2] AS DOUBLE) AS x2,
      |         CAST(embedding[3] AS DOUBLE) AS x3, CAST(embedding[4] AS DOUBLE) AS x4
      |  FROM embeddings),
      |c1 AS (SELECT * FROM p WHERE vec_id = (SELECT MIN(vec_id) FROM p)),
      |d1 AS (
      |  SELECT p.vec_id,
      |         SQRT(POW(p.x1 - c1.x1, 2) + POW(p.x2 - c1.x2, 2)
      |            + POW(p.x3 - c1.x3, 2) + POW(p.x4 - c1.x4, 2)) AS md
      |  FROM p CROSS JOIN c1),
      |c2 AS (SELECT vec_id, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1),
      |d2 AS (
      |  SELECT d1.vec_id,
      |         LEAST(d1.md,
      |           (SELECT SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
      |                      + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))
      |            FROM p q WHERE q.vec_id = (SELECT vec_id FROM c2))) AS md
      |  FROM d1 JOIN p ON p.vec_id = d1.vec_id),
      |c3 AS (SELECT vec_id, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
      |d3 AS (
      |  SELECT d2.vec_id,
      |         LEAST(d2.md,
      |           (SELECT SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
      |                      + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))
      |            FROM p q WHERE q.vec_id = (SELECT vec_id FROM c3))) AS md
      |  FROM d2 JOIN p ON p.vec_id = d2.vec_id),
      |c4 AS (SELECT vec_id, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1),
      |d4 AS (
      |  SELECT d3.vec_id,
      |         LEAST(d3.md,
      |           (SELECT SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
      |                      + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))
      |            FROM p q WHERE q.vec_id = (SELECT vec_id FROM c4))) AS md
      |  FROM d3 JOIN p ON p.vec_id = d3.vec_id)
      |SELECT 1 AS k, CAST((SELECT vec_id FROM c1) AS BIGINT) AS center,
      |       CAST(ROUND((SELECT MAX(md) FROM d1), 6) AS DOUBLE) AS radius
      |UNION ALL
      |SELECT 2, CAST((SELECT vec_id FROM c2) AS BIGINT),
      |       CAST(ROUND((SELECT MAX(md) FROM d2), 6) AS DOUBLE)
      |UNION ALL
      |SELECT 3, CAST((SELECT vec_id FROM c3) AS BIGINT),
      |       CAST(ROUND((SELECT MAX(md) FROM d3), 6) AS DOUBLE)
      |UNION ALL
      |SELECT 4, CAST((SELECT vec_id FROM c4) AS BIGINT),
      |       CAST(ROUND((SELECT MAX(md) FROM d4), 6) AS DOUBLE)
      |ORDER BY k""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_ff_emb")
    spark.sql(
      """WITH p AS (
        |  SELECT vec_id,
        |         CAST(embedding[0] AS DOUBLE) AS x1, CAST(embedding[1] AS DOUBLE) AS x2,
        |         CAST(embedding[2] AS DOUBLE) AS x3, CAST(embedding[3] AS DOUBLE) AS x4
        |  FROM graft_ff_emb),
        |c1 AS (SELECT * FROM p WHERE vec_id = (SELECT MIN(vec_id) FROM p)),
        |d1 AS (
        |  SELECT p.vec_id,
        |         SQRT(POW(p.x1 - c1.x1, 2) + POW(p.x2 - c1.x2, 2)
        |            + POW(p.x3 - c1.x3, 2) + POW(p.x4 - c1.x4, 2)) AS md
        |  FROM p CROSS JOIN c1),
        |c2 AS (SELECT vec_id, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1),
        |d2 AS (
        |  SELECT d1.vec_id,
        |         LEAST(d1.md, SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
        |                         + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))) AS md
        |  FROM d1 JOIN p ON p.vec_id = d1.vec_id
        |  CROSS JOIN (SELECT p.* FROM p JOIN c2 ON c2.vec_id = p.vec_id) q),
        |c3 AS (SELECT vec_id, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
        |d3 AS (
        |  SELECT d2.vec_id,
        |         LEAST(d2.md, SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
        |                         + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))) AS md
        |  FROM d2 JOIN p ON p.vec_id = d2.vec_id
        |  CROSS JOIN (SELECT p.* FROM p JOIN c3 ON c3.vec_id = p.vec_id) q),
        |c4 AS (SELECT vec_id, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1),
        |d4 AS (
        |  SELECT d3.vec_id,
        |         LEAST(d3.md, SQRT(POW(p.x1 - q.x1, 2) + POW(p.x2 - q.x2, 2)
        |                         + POW(p.x3 - q.x3, 2) + POW(p.x4 - q.x4, 2))) AS md
        |  FROM d3 JOIN p ON p.vec_id = d3.vec_id
        |  CROSS JOIN (SELECT p.* FROM p JOIN c4 ON c4.vec_id = p.vec_id) q)
        |SELECT 1 AS k, CAST((SELECT vec_id FROM c1) AS BIGINT) AS center,
        |       CAST(ROUND((SELECT MAX(md) FROM d1), 6) AS DOUBLE) AS radius
        |UNION ALL
        |SELECT 2, CAST((SELECT vec_id FROM c2) AS BIGINT),
        |       CAST(ROUND((SELECT MAX(md) FROM d2), 6) AS DOUBLE)
        |UNION ALL
        |SELECT 3, CAST((SELECT vec_id FROM c3) AS BIGINT),
        |       CAST(ROUND((SELECT MAX(md) FROM d3), 6) AS DOUBLE)
        |UNION ALL
        |SELECT 4, CAST((SELECT vec_id FROM c4) AS BIGINT),
        |       CAST(ROUND((SELECT MAX(md) FROM d4), 6) AS DOUBLE)
        |ORDER BY k""".stripMargin)
  }

  /** Two rounds of AdaBoost over decision stumps on ln(order price)
    * predicting urgency. Candidate thresholds are the nine internal
    * decile cut points (NTILE maxima — deterministic); round 1 picks
    * the stump minimizing 0/1 error; because AdaBoost's reweighting
    * after one stump takes only TWO distinct values (e^{±α}), round
    * 2's weighted error reduces to four joint misclassification
    * counts per candidate — integer counts scaled by two scalars. The
    * final row reports the 2-stump ensemble's training accuracy. A
    * boosting loop expressed as two grouped aggregates.
    */
  val ml_adaboost_stumps = OpQuery(
    "ml_adaboost_stumps",
    """WITH base AS (
      |  SELECT LN(CAST(o_totalprice AS DOUBLE)) AS x,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE -1 END AS y
      |  FROM orders),
      |n_all AS (SELECT COUNT(*) AS n FROM base),
      |tiles AS (
      |  SELECT NTILE(10) OVER (ORDER BY x) AS tile, x FROM base),
      |cuts AS (
      |  SELECT ROUND(MAX(x), 8) AS th FROM tiles WHERE tile < 10 GROUP BY tile),
      |cand AS (
      |  SELECT th, pol FROM cuts CROSS JOIN (SELECT 1 AS pol UNION ALL SELECT -1) p),
      |r1 AS (
      |  SELECT cand.th, cand.pol,
      |         SUM(CASE WHEN cand.pol * (CASE WHEN base.x <= cand.th
      |                    THEN 1 ELSE -1 END) <> base.y THEN 1 ELSE 0 END) AS mis
      |  FROM base CROSS JOIN cand GROUP BY cand.th, cand.pol),
      |best1 AS (
      |  SELECT th, pol, mis,
      |         CAST(mis AS DOUBLE) / (SELECT n FROM n_all) AS e1
      |  FROM r1 ORDER BY mis, th, pol LIMIT 1),
      |alpha1 AS (
      |  SELECT th, pol, e1, ROUND(0.5 * LN((1 - e1) / e1), 8) AS a FROM best1),
      |marked AS (
      |  SELECT base.x, base.y,
      |         CASE WHEN alpha1.pol * (CASE WHEN base.x <= alpha1.th
      |                THEN 1 ELSE -1 END) <> base.y THEN 1 ELSE 0 END AS m1
      |  FROM base CROSS JOIN alpha1),
      |r2 AS (
      |  SELECT cand.th, cand.pol,
      |         SUM(CASE WHEN marked.m1 = 1 AND cand.pol * (CASE WHEN marked.x <= cand.th
      |                    THEN 1 ELSE -1 END) <> marked.y THEN 1 ELSE 0 END) AS n_mm,
      |         SUM(CASE WHEN marked.m1 = 0 AND cand.pol * (CASE WHEN marked.x <= cand.th
      |                    THEN 1 ELSE -1 END) <> marked.y THEN 1 ELSE 0 END) AS n_cm,
      |         SUM(marked.m1) AS n_m
      |  FROM marked CROSS JOIN cand GROUP BY cand.th, cand.pol),
      |w2 AS (
      |  SELECT r2.th, r2.pol, r2.n_mm, r2.n_cm,
      |         ROUND((EXP(alpha1.a) * r2.n_mm + EXP(-alpha1.a) * r2.n_cm)
      |           / (EXP(alpha1.a) * r2.n_m
      |              + EXP(-alpha1.a) * ((SELECT n FROM n_all) - r2.n_m)), 10) AS e2
      |  FROM r2 CROSS JOIN alpha1),
      |best2 AS (
      |  SELECT th, pol, e2 FROM w2 ORDER BY e2, th, pol LIMIT 1),
      |alpha2 AS (
      |  SELECT th, pol, e2, ROUND(0.5 * LN((1 - e2) / e2), 8) AS a FROM best2),
      |ens AS (
      |  SELECT SUM(CASE WHEN
      |           SIGN(alpha1.a * (alpha1.pol * (CASE WHEN base.x <= alpha1.th
      |                  THEN 1 ELSE -1 END))
      |              + alpha2.a * (alpha2.pol * (CASE WHEN base.x <= alpha2.th
      |                  THEN 1 ELSE -1 END))) = base.y
      |           THEN 1 ELSE 0 END) AS correct
      |  FROM base CROSS JOIN alpha1 CROSS JOIN alpha2)
      |SELECT (SELECT CAST(ROUND(th, 6) AS DOUBLE) FROM alpha1) AS stump1_threshold,
      |       (SELECT CAST(pol AS INT) FROM alpha1) AS stump1_polarity,
      |       (SELECT CAST(ROUND(e1, 6) AS DOUBLE) FROM alpha1) AS stump1_error,
      |       (SELECT CAST(ROUND(a, 6) AS DOUBLE) FROM alpha1) AS alpha1,
      |       (SELECT CAST(ROUND(th, 6) AS DOUBLE) FROM alpha2) AS stump2_threshold,
      |       (SELECT CAST(pol AS INT) FROM alpha2) AS stump2_polarity,
      |       (SELECT CAST(ROUND(e2, 6) AS DOUBLE) FROM alpha2) AS stump2_error,
      |       (SELECT CAST(ROUND(a, 6) AS DOUBLE) FROM alpha2) AS alpha2,
      |       CAST(ROUND(CAST(ens.correct AS DOUBLE)
      |         / (SELECT n FROM n_all), 6) AS DOUBLE) AS train_accuracy
      |FROM ens""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_ab_orders")
    // the decile cut points come from TotalOrder.ntile (two-phase range
    // partition + broadcast offsets), NOT a partition-less NTILE window
    // — a global single-reducer sort over every raw order row was the
    // one remaining violation of the "global sorts go through
    // TotalOrder" invariant. Cut VALUES are identical: the max of tile
    // t is the x at a fixed global rank, the same value under any tie
    // permutation, so the NTILE-based oracle still hash-matches.
    val base = spark.sql(
      """SELECT LN(CAST(o_totalprice AS DOUBLE)) AS x,
        |       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE -1 END AS y
        |FROM graft_ab_orders""".stripMargin)
    base.createOrReplaceTempView("graft_ab_base")
    // ...and the 9-row cut table is frozen once (lazily): the boosting
    // SQL references the candidate set in two fanout aggregates and eight
    // scalar subqueries, which a view would each re-plan and re-execute.
    // An eager freeze's measured size flips the cross joins' build side,
    // and their identical subtrees stop sharing exchanges (+4 shuffles,
    // +6 broadcasts at sf0.001)
    import org.apache.spark.sql.functions.{col => c, round => rnd, max => mx}
    graft.operators.TotalOrder
      .ntile(base.select(c("x")), Seq(c("x")), 10, "tile")
      .filter(c("tile") < 10)
      .groupBy(c("tile")).agg(rnd(mx(c("x")), 8).as("th"))
      .select(c("th"))
      .transform(Freeze.lazily)
      .createOrReplaceTempView("graft_ab_cuts")
    spark.sql(
      """WITH base AS (SELECT * FROM graft_ab_base),
        |n_all AS (SELECT COUNT(*) AS n FROM base),
        |cuts AS (SELECT th FROM graft_ab_cuts),
        |cand AS (
        |  SELECT th, pol FROM cuts CROSS JOIN (SELECT 1 AS pol UNION ALL SELECT -1) p),
        |r1 AS (
        |  SELECT cand.th, cand.pol,
        |         SUM(CASE WHEN cand.pol * (CASE WHEN base.x <= cand.th
        |                    THEN 1 ELSE -1 END) <> base.y THEN 1 ELSE 0 END) AS mis
        |  FROM base CROSS JOIN cand GROUP BY cand.th, cand.pol),
        |best1 AS (
        |  SELECT th, pol, mis,
        |         CAST(mis AS DOUBLE) / (SELECT n FROM n_all) AS e1
        |  FROM r1 ORDER BY mis, th, pol LIMIT 1),
        |alpha1 AS (
        |  SELECT th, pol, e1, ROUND(0.5 * LN((1 - e1) / e1), 8) AS a FROM best1),
        |marked AS (
        |  SELECT base.x, base.y,
        |         CASE WHEN alpha1.pol * (CASE WHEN base.x <= alpha1.th
        |                THEN 1 ELSE -1 END) <> base.y THEN 1 ELSE 0 END AS m1
        |  FROM base CROSS JOIN alpha1),
        |r2 AS (
        |  SELECT cand.th, cand.pol,
        |         SUM(CASE WHEN marked.m1 = 1 AND cand.pol * (CASE WHEN marked.x <= cand.th
        |                    THEN 1 ELSE -1 END) <> marked.y THEN 1 ELSE 0 END) AS n_mm,
        |         SUM(CASE WHEN marked.m1 = 0 AND cand.pol * (CASE WHEN marked.x <= cand.th
        |                    THEN 1 ELSE -1 END) <> marked.y THEN 1 ELSE 0 END) AS n_cm,
        |         SUM(marked.m1) AS n_m
        |  FROM marked CROSS JOIN cand GROUP BY cand.th, cand.pol),
        |w2 AS (
        |  SELECT r2.th, r2.pol, r2.n_mm, r2.n_cm,
        |         ROUND((EXP(alpha1.a) * r2.n_mm + EXP(-alpha1.a) * r2.n_cm)
        |           / (EXP(alpha1.a) * r2.n_m
        |              + EXP(-alpha1.a) * ((SELECT n FROM n_all) - r2.n_m)), 10) AS e2
        |  FROM r2 CROSS JOIN alpha1),
        |best2 AS (
        |  SELECT th, pol, e2 FROM w2 ORDER BY e2, th, pol LIMIT 1),
        |alpha2 AS (
        |  SELECT th, pol, e2, ROUND(0.5 * LN((1 - e2) / e2), 8) AS a FROM best2),
        |ens AS (
        |  SELECT SUM(CASE WHEN
        |           SIGN(alpha1.a * (alpha1.pol * (CASE WHEN base.x <= alpha1.th
        |                  THEN 1 ELSE -1 END))
        |              + alpha2.a * (alpha2.pol * (CASE WHEN base.x <= alpha2.th
        |                  THEN 1 ELSE -1 END))) = base.y
        |           THEN 1 ELSE 0 END) AS correct
        |  FROM base CROSS JOIN alpha1 CROSS JOIN alpha2)
        |SELECT (SELECT CAST(ROUND(th, 6) AS DOUBLE) FROM alpha1) AS stump1_threshold,
        |       (SELECT CAST(pol AS INT) FROM alpha1) AS stump1_polarity,
        |       (SELECT CAST(ROUND(e1, 6) AS DOUBLE) FROM alpha1) AS stump1_error,
        |       (SELECT CAST(ROUND(a, 6) AS DOUBLE) FROM alpha1) AS alpha1,
        |       (SELECT CAST(ROUND(th, 6) AS DOUBLE) FROM alpha2) AS stump2_threshold,
        |       (SELECT CAST(pol AS INT) FROM alpha2) AS stump2_polarity,
        |       (SELECT CAST(ROUND(e2, 6) AS DOUBLE) FROM alpha2) AS stump2_error,
        |       (SELECT CAST(ROUND(a, 6) AS DOUBLE) FROM alpha2) AS alpha2,
        |       CAST(ROUND(CAST(ens.correct AS DOUBLE)
        |         / (SELECT n FROM n_all), 6) AS DOUBLE) AS train_accuracy
        |FROM ens""".stripMargin)
  }

  /** Hard-negative mining for contrastive training data: per query
    * vector, the top-3 most-cosine-similar vectors of a DIFFERENT
    * label. The gate runs the definitional exact form
    * ([[graft.operators.Similarity.hardNegatives]] with no shortlist);
    * the 1-bit-Hamming-shortlisted 100 TB path's recall and
    * full-shortlist equality are SimilaritySpec territory. Queries are
    * every 8th vector so the pair count scales with the corpus, not a
    * fixed slice.
    */
  val mine_hard_negatives: OpQuery = OpQuery("mine_hard_negatives",
    """WITH q AS (
      |  SELECT vec_id AS query_id, label AS qlabel, embedding::DOUBLE[] AS qvec
      |  FROM embeddings WHERE vec_id % 8 = 0
      |), scored AS (
      |  SELECT q.query_id, e.vec_id AS corpus_id,
      |         list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) AS score
      |  FROM embeddings e, q
      |  WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |              ORDER BY score DESC, corpus_id ASC) AS INT) AS rank,
      |         score
      |  FROM scored
      |)
      |SELECT query_id, corpus_id, rank, CAST(ROUND(score, 6) AS DOUBLE) AS score
      |FROM ranked WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = Tables.load(spark, dir, "embeddings")
    graft.operators.Similarity.hardNegatives(
        emb, emb.filter(col("vec_id") % 8 === 0), k = 3)
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Adaptive hard-negative mining on the gate surface: the engine
    * turns the shortlist knob itself (starved queries retry alone at
    * 4× until satisfied or the exact tail fires), so found_k < k can
    * only mean the corpus lacks candidates. Rows-only (the 1-bit
    * signature rounds are not SQL-replayable — the `sim_lsh_neardup`
    * impossibility class; the exact twin is `mine_hard_negatives`);
    * the gate's teeth are two in-gate REQUIREs: every query ends with
    * exactly k negatives (the fixed-s operator measurably starves on
    * label-dense corpora, SCALE.md), and no same-label pair survives
    * any round.
    */
  val mine_hard_negatives_adaptive: OpQuery =
    OpQuery.noOracle("mine_hard_negatives_adaptive") { (spark, dir) =>
      import graft.operators.Similarity
      val emb = Tables.load(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 8 === 0)
      val out = Similarity.hardNegativesAdaptive(emb, queries, k = 3,
        initialShortlist = 3).transform(Freeze.eager)
      val nq = queries.count()
      val short = out.groupBy(col("query_id"))
        .agg(count(lit(1)).as("c")).filter(col("c") =!= 3).count()
      val covered = out.select(col("query_id")).distinct().count()
      require(short == 0 && covered == nq,
        s"adaptive mining left starvation behind: $short short queries, " +
          s"$covered/$nq covered")
      val sameLabel = out
        .join(emb.select(col("vec_id").as("query_id"), col("label").as("ql")),
          "query_id")
        .join(emb.select(col("vec_id").as("corpus_id"), col("label").as("cl")),
          "corpus_id")
        .filter(col("ql") === col("cl")).count()
      require(sameLabel == 0, s"$sameLabel same-label pairs mined")
      out.withColumn("score", round(col("score"), 6).cast("double"))
        .orderBy(col("query_id"), col("rank"))
    }

  val all: Seq[OpQuery] = Seq(
    feature_bucketize, market_basket, feature_winsorize, basket_lift,
    feature_onehot, feature_target_encode, feature_hashing, eval_confusion,
    eval_auc, eval_calibration, feature_standardize, ml_kfold_assign,
    eval_cohens_kappa, kmeans_step, eval_pinball_loss, ml_feature_backfill,
    eval_mcnemar, ml_negative_sampling, eval_ndcg, eval_mrr, ml_woe_iv,
    eval_f1_multi, ml_delong_auc, ml_kfold, eval_mcc, ml_naive_bayes, ml_ols2,
    eval_average_precision, ml_pca_power, eval_brier_decomp, ml_tree_stump,
    rec_item_cosine, ml_logistic_newton, cluster_dbscan_core,
    cluster_farthest_first, ml_adaboost_stumps, mine_hard_negatives,
    mine_hard_negatives_adaptive)
}
