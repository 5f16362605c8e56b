package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Similarity

/** Round-4 batch 22: the hashing-trick vectorizer, multi-touch
  * attribution, CUSUM changepoint detection, XML xpath extraction, and
  * distributed power-iteration PCA.
  */
object Round4Ops22 {

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

  /** Linear multi-touch attribution: each purchase's value splits evenly
    * (integer cents, floor division — exact and engine-agnostic) across
    * the user's view/click touches in the preceding 24 h. The touch⋈
    * purchase join is equi-keyed on user_id with a time-range residual,
    * so it shuffles once on the uniform user key; per-purchase credit
    * counting is a window over purchase-sized partitions.
    */
  val event_attribution = OpQuery.sql("event_attribution", "events")(
    """WITH touches AS (
      |  SELECT user_id, ts, event_type FROM events WHERE event_type IN ('view','click')),
      |purchases AS (
      |  SELECT event_id, user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT p.event_id, p.cents, t.event_type AS touch_type
      |  FROM purchases p JOIN touches t
      |    ON p.user_id = t.user_id AND t.ts <= p.ts AND t.ts > p.ts - INTERVAL 24 HOUR),
      |counted AS (
      |  SELECT event_id, cents, touch_type,
      |         COUNT(*) OVER (PARTITION BY event_id) AS n_touch
      |  FROM pairs)
      |SELECT touch_type,
      |       CAST(SUM(cents // n_touch) AS BIGINT) AS attributed_cents,
      |       CAST(COUNT(*) AS BIGINT) AS n_credits
      |FROM counted
      |GROUP BY touch_type
      |ORDER BY touch_type""".stripMargin,
    "//" -> "DIV")

  /** CUSUM changepoint detection per event type, entirely in integer
    * arithmetic: with daily counts c_i, total T over N days, the scaled
    * cumulative sum Σ(c_i·N − T) needs no float mean and is bit-exact on
    * both engines; its extremum marks the day the rate regime shifts.
    * One window per event type over day-sized partitions.
    */
  val ts_cusum = OpQuery.sql("ts_cusum", "events")(
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |tot AS (
      |  SELECT event_type, SUM(c) AS t, COUNT(*) AS nd FROM daily GROUP BY event_type),
      |cus AS (
      |  SELECT daily.event_type, daily.d,
      |         SUM(daily.c * tot.nd - tot.t)
      |           OVER (PARTITION BY daily.event_type ORDER BY daily.d) AS cusum
      |  FROM daily JOIN tot ON daily.event_type = tot.event_type),
      |ranked AS (
      |  SELECT event_type, d, cusum,
      |         ROW_NUMBER() OVER (PARTITION BY event_type
      |           ORDER BY abs(cusum) DESC, d) AS rn
      |  FROM cus)
      |SELECT event_type, strftime(d, '%Y-%m-%d') AS changepoint_day,
      |       CAST(cusum AS BIGINT) AS peak_cusum
      |FROM ranked WHERE rn = 1
      |ORDER BY event_type""".stripMargin,
    "strftime(" -> "date_format(",
    "'%Y-%m-%d'" -> "'yyyy-MM-dd'")

  /** XPath extraction over XML fragments (the xpath_* scalar family —
    * the semi-structured long tail beyond JSON/VARIANT). The oracle
    * derives every extracted value straight from the source columns, so
    * what's verified is that xpath round-trips the document structure.
    */
  val f_xpath = OpQuery(
    "f_xpath",
    """SELECT doc_id,
      |       lang AS xlang,
      |       CAST(n_chars AS BIGINT) AS xchars,
      |       concat(lang, '|', CAST(n_chars AS VARCHAR), '|', source) AS all_vals
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_xp_docs")
    spark.sql(
      """WITH xml AS (
        |  SELECT doc_id,
        |         concat('<doc><lang>', lang, '</lang><chars>', CAST(n_chars AS STRING),
        |                '</chars><src>', source, '</src></doc>') AS x
        |  FROM graft_xp_docs)
        |SELECT doc_id,
        |       xpath_string(x, '/doc/lang') AS xlang,
        |       CAST(xpath_long(x, '/doc/chars') AS BIGINT) AS xchars,
        |       array_join(xpath(x, '/doc/*/text()'), '|') AS all_vals
        |FROM xml
        |ORDER BY doc_id""".stripMargin)
  }

  /** Distributed PCA (top component) by power iteration — see
    * [[Similarity.topPrincipalComponent]]. Rows-only gate (float
    * eigenvector; exactness is spec-pinned on a planted-direction
    * corpus in SimilaritySpec): emits the component with its eigenvalue
    * and whether the ‖XᵀXv−λv‖/λ residual is inside the percent-range
    * plateau a gap-free random spectrum allows.
    */
  val emb_pca_power = OpQuery.noOracle("emb_pca_power") { (spark, dir) =>
    val emb = Tables.load(spark, dir, "embeddings")
    val Seq((lambda, v, resid)) = Similarity.topPrincipalComponentsMultiPass(
      emb, "embedding", r = 1, iterations = 25)
    import spark.implicits._
    v.zipWithIndex.toSeq.toDF("component", "dim")
      .select(
        col("dim").cast("int").as("dim"),
        round(col("component"), 6).as("component"),
        round(lit(lambda), 3).as("eigenvalue"),
        lit(resid < 0.05).as("converged"))
      .orderBy("dim")
  }

  val all: Seq[OpQuery] = Seq(
    feature_hashing, event_attribution, ts_cusum, f_xpath, emb_pca_power)
}
