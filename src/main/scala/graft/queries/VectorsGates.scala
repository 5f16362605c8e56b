package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.VectorExprs
import graft.operators.{AnnIndex, Freeze, Pq, RandomProjection, Similarity,
  TableStore}

/** Vector search and embeddings: brute-force, IVF, PQ and LSH top-k,
  * re-ranking, recall reports, projections, PCA and quantization.
  */
object VectorsGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Brute-force cosine top-k: exact ANN baseline. Query set broadcast;
    * corpus streams map-side; the only shuffle is the per-query top-k.
    */
  val sim_topk_bruteforce = OpQuery(
    "sim_topk_bruteforce",
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 8
      |), scored AS (
      |  SELECT q.query_id, e.vec_id AS corpus_id,
      |         list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) AS score
      |  FROM embeddings e, q
      |  WHERE e.vec_id <> q.query_id
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id ASC) AS INT) AS rank,
      |         score
      |  FROM scored
      |)
      |SELECT query_id, corpus_id, rank, CAST(ROUND(score, 6) AS DOUBLE) AS score
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding near-dup pairs ≥ 0.45 cosine over a deterministic 50%
    * slice (exact, the ground truth the cell-bucketed variant
    * approximates — the n² pair join is intentionally the expensive
    * baseline; [[Similarity.cellBucketedNearDups]] is the scale path).
    */
  val sim_neardup_embedding = OpQuery(
    "sim_neardup_embedding",
    """WITH half AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |       CAST(ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS DOUBLE) AS score
      |FROM half a JOIN half b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
      |ORDER BY id1, id2""".stripMargin) { (spark, dir) =>
    Similarity.bruteForceNearDups(
        t(spark, dir, "embeddings").filter(col("vec_id") % 2 === 0),
        threshold = 0.45)
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("id1"), col("id2"))
  }

  /** IVF approximate top-k — fully deterministic (first-16-by-id
    * centroids, cosine assignment with explicit tie-breaks), so the
    * whole probe path is oracled in SQL: DuckDB replays centroid
    * selection, cell assignment, nprobe probing, and in-cell ranking
    * bit-for-bit (recall vs brute force additionally pinned in
    * SimilaritySpec).
    */
  val sim_ivf_topk = OpQuery(
    "sim_ivf_topk",
    """WITH cents AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cell_id,
      |         embedding::DOUBLE[] AS centroid
      |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
      |), assigned AS (
      |  SELECT vec_id, embedding, cell_id FROM (
      |    SELECT e.vec_id, e.embedding, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |             ORDER BY -list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT query_id, qvec, cell_id FROM (
      |    SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qvec, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |             ORDER BY -list_cosine_similarity(q.embedding::DOUBLE[], c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 8)
      |  WHERE rn <= 4
      |), scored AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id,
      |         list_cosine_similarity(a.embedding::DOUBLE[], p.qvec) AS score
      |  FROM assigned a JOIN probes p ON p.cell_id = a.cell_id
      |  WHERE a.vec_id <> p.query_id
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |              ORDER BY score DESC, corpus_id ASC) AS INT) AS rank,
      |         score
      |  FROM scored)
      |SELECT query_id, corpus_id, rank, CAST(ROUND(score, 6) AS DOUBLE) AS score
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
        numCells = 16, nprobe = 4)
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Random-hyperplane LSH near-dups (rows-only: seeded-Gaussian sign
    * bits aren't DuckDB-expressible; found ⊆ exact and recall vs the
    * brute-force pairs pinned in SimilaritySpec). Tuning: the corpus's
    * near-dup band sits at cosine ≈ 0.45-0.6 (θ ≈ 55-63°, per-bit
    * collision ≈ 0.65), so 6-bit tables collide true pairs at ≈ 7% each
    * and 32 tables lift recall past 0.9 while keeping 64 buckets/table
    * of candidate granularity.
    */
  val sim_lsh_neardup = OpQuery.noOracle("sim_lsh_neardup") { (spark, dir) =>
    Similarity.lshNearDups(
        t(spark, dir, "embeddings"), threshold = 0.45,
        numTables = 32, bitsPerTable = 6)
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("id1"), col("id2"))
  }

  /** int8-quantized top-k — the quantization is pure deterministic
    * arithmetic (normalize → scale by 127/maxAbs → Math.round →
    * integer dot → rescale), so the oracle replays it in SQL:
    * `FLOOR(x + 0.5)` is exactly Java's `Math.round` (half-up toward
    * +inf, unlike SQL ROUND's half-away-from-zero on negatives).
    * Recall ≥ 0.9 of exact plus error bounds stay pinned in
    * QuantizeSpec.
    */
  val sim_topk_quantized = OpQuery(
    "sim_topk_quantized",
    """WITH u AS (
      |  SELECT vec_id,
      |         list_transform(embedding::DOUBLE[],
      |           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
      |                                          embedding::DOUBLE[]))) AS u
      |  FROM embeddings
      |), mx AS (
      |  SELECT vec_id, u,
      |         list_max(list_transform(u, x -> abs(x))) AS m
      |  FROM u
      |), qz AS (
      |  SELECT vec_id, m,
      |         list_transform(u,
      |           x -> CAST(FLOOR(x * (127.0 / m) + 0.5) AS BIGINT)) AS q
      |  FROM mx WHERE m > 0
      |), scored AS (
      |  SELECT q2.vec_id AS query_id, c.vec_id AS corpus_id,
      |         list_dot_product(c.q, q2.q) * (c.m / 127.0) * (q2.m / 127.0)
      |           AS score
      |  FROM qz c JOIN qz q2 ON q2.vec_id < 8 AND c.vec_id <> q2.vec_id
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |              ORDER BY score DESC, corpus_id ASC) AS INT) AS rank,
      |         score
      |  FROM scored)
      |SELECT query_id, corpus_id, rank, CAST(ROUND(score, 6) AS DOUBLE) AS score
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    Similarity.bruteForceTopKQuantized(emb, emb.filter(col("vec_id") < 8), k = 5)
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-label embedding centroid diagnostics
    * ([[Similarity.labelCentroidStats]]): member count, centroid norm,
    * mean member→centroid cosine. The oracle replays the two-stage
    * relational shape with unnest + parallel generate_series as the
    * dimension ordinal.
    */
  val emb_class_stats = OpQuery(
    "emb_class_stats",
    """WITH e AS (
      |  SELECT vec_id, label, unnest(embedding) AS v,
      |         unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings
      |), c AS (
      |  SELECT label, i, AVG(CAST(v AS DOUBLE)) AS cv FROM e GROUP BY 1, 2
      |), cn AS (
      |  SELECT label, SQRT(SUM(cv * cv)) AS cnorm FROM c GROUP BY 1
      |), m AS (
      |  SELECT e.vec_id, e.label,
      |         SUM(CAST(e.v AS DOUBLE) * c.cv) AS dot,
      |         SQRT(SUM(CAST(e.v AS DOUBLE) * CAST(e.v AS DOUBLE))) AS vnorm
      |  FROM e JOIN c ON e.label = c.label AND e.i = c.i
      |  GROUP BY 1, 2
      |)
      |SELECT m.label, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(ROUND(ANY_VALUE(cn.cnorm), 6) AS DOUBLE) AS centroid_norm,
      |       CAST(ROUND(AVG(m.dot / (m.vnorm * cn.cnorm)), 6) AS DOUBLE) AS mean_cos
      |FROM m JOIN cn ON m.label = cn.label
      |GROUP BY m.label
      |ORDER BY m.label""".stripMargin) { (spark, dir) =>
    Similarity.labelCentroidStats(t(spark, dir, "embeddings"))
      .select(col("label"), col("n"),
        round(col("centroid_norm"), 6).as("centroid_norm"),
        round(col("mean_cos"), 6).as("mean_cos"))
      .orderBy(col("label"))
  }

  /** Embedding outliers: members whose cosine to their LABEL CENTROID
    * falls below a threshold — mislabeled-example mining over labeled
    * embeddings. Same two-stage shape as emb_class_stats ((label, dim)
    * partial agg, centroids broadcast back); the oracle replays it with
    * unnest + parallel generate_series.
    */
  val emb_outliers = OpQuery(
    "emb_outliers",
    """WITH e AS (
      |  SELECT vec_id, label, unnest(embedding) AS v,
      |         unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings
      |), c AS (
      |  SELECT label, i, AVG(CAST(v AS DOUBLE)) AS cv FROM e GROUP BY 1, 2
      |), cn AS (
      |  SELECT label, SQRT(SUM(cv * cv)) AS cnorm FROM c GROUP BY 1
      |), m AS (
      |  SELECT e.vec_id, e.label,
      |         SUM(CAST(e.v AS DOUBLE) * c.cv) AS dot,
      |         SQRT(SUM(CAST(e.v AS DOUBLE) * CAST(e.v AS DOUBLE))) AS vnorm
      |  FROM e JOIN c ON e.label = c.label AND e.i = c.i
      |  GROUP BY 1, 2
      |)
      |SELECT m.vec_id, m.label,
      |       CAST(ROUND(m.dot / (m.vnorm * cn.cnorm), 6) AS DOUBLE) AS cos_to_centroid
      |FROM m JOIN cn ON m.label = cn.label
      |WHERE m.dot / (m.vnorm * cn.cnorm) < 0.1
      |ORDER BY m.vec_id""".stripMargin) { (spark, dir) =>
    VectorExprs.register(spark)
    val emb = t(spark, dir, "embeddings")
    val comps = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("__dim", "__v")))
      .groupBy(col("label"), col("__dim"))
      .agg(avg(col("__v").cast("double")).as("__c"))
    val centroids = comps.groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("__dim"), col("__c")))),
        s => s.getField("__c")).as("__centroid"))
    emb.join(broadcast(centroids), Seq("label"))
      .select(col("vec_id"), col("label"),
        VectorExprs.vecCosine(col("embedding"), col("__centroid")).as("__cos"))
      .filter(col("__cos") < 0.1)
      .select(col("vec_id"), col("label"),
        round(col("__cos"), 6).as("cos_to_centroid"))
      .orderBy(col("vec_id"))
  }

  /** Johnson-Lindenstrauss random projection 64→8 dims with a
    * deterministic ±1 sign matrix derived from md5(i_j) — reproducible
    * across engines, partitionings, and runs (no RNG state to ship).
    * Coordinates are fixed-point-quantized (micro units, truncated) so
    * the per-(vec_id, j) reduction is exact BIGINT arithmetic — order-
    * independent under any shuffle. One explode + one aggregate, both
    * on uniform keys.
    */
  val emb_random_projection = OpQuery(
    "emb_random_projection",
    """WITH e AS (
      |  SELECT vec_id, unnest(embedding) AS v,
      |         unnest(generate_series(0, len(embedding) - 1)) AS i
      |  FROM embeddings),
      |proj AS (
      |  SELECT vec_id, j,
      |         SUM(CAST(TRUNC(CAST(v AS DOUBLE) * 1000000) AS BIGINT) *
      |             CASE WHEN substring(md5(concat(CAST(i AS VARCHAR), '_', CAST(j AS VARCHAR))), 1, 1)
      |                       IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END) AS p
      |  FROM e, unnest(generate_series(0, 7)) AS t(j)
      |  GROUP BY vec_id, j)
      |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(j AS INT) AS j,
      |       CAST(p AS BIGINT) AS projected_micro
      |FROM proj
      |ORDER BY vec_id, j""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_rp_emb")
    spark.sql(
      """WITH e AS (
        |  SELECT vec_id, posexplode(embedding) AS (i, v) FROM graft_rp_emb),
        |proj AS (
        |  SELECT vec_id, j,
        |         SUM(CAST(CAST(v AS DOUBLE) * 1000000 AS BIGINT) *
        |             CASE WHEN substring(md5(concat(CAST(i AS STRING), '_', CAST(j AS STRING))), 1, 1)
        |                       IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END) AS p
        |  FROM e LATERAL VIEW explode(sequence(0, 7)) t AS j
        |  GROUP BY vec_id, j)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(j AS INT) AS j,
        |       CAST(p AS BIGINT) AS projected_micro
        |FROM proj
        |ORDER BY vec_id, j""".stripMargin)
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

  /** MIPS → cosine reduction (the norm trick): augment every corpus
    * vector with √(M²−‖x‖²) (M = max corpus norm) and queries with 0;
    * cosine ranking in the augmented space IS inner-product ranking in
    * the original. The gate ranks by the augmented cosine while the
    * oracle ranks by the raw dot product — a hash match proves the
    * reduction, not just the arithmetic. Corpus-side work is map-only
    * against broadcast queries + the broadcast scalar M; ranking uses
    * per-query partitions.
    */
  val sim_mips_topk = OpQuery(
    "sim_mips_topk",
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.qid, e.vec_id,
      |         list_dot_product(
      |           list_transform(q.qe, x -> CAST(x AS DOUBLE)),
      |           list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS dot
      |  FROM embeddings e, q),
      |ranked AS (
      |  SELECT qid, vec_id, dot,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS INT) AS rk,
      |       CAST(vec_id AS BIGINT) AS vec_id,
      |       CAST(ROUND(dot, 5) AS DOUBLE) AS dot
      |FROM ranked WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin) { (spark, dir) =>
    VectorExprs.register(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      VectorExprs.vecNorm(col("embedding")).as("nrm"))
    val mDf = withNorm.agg(max(col("nrm")).as("m"))
    // augmented corpus: [x, sqrt(M^2 - ||x||^2)]
    val aug = withNorm.crossJoin(broadcast(mDf))
      .select(col("vec_id"), col("embedding"),
        concat(
          transform(col("embedding"), x => x.cast("double")),
          array(sqrt(col("m") * col("m") - col("nrm") * col("nrm"))))
          .as("aug"))
    val queries = aug.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        concat(transform(col("embedding"), x => x.cast("double")),
          array(lit(0.0))).as("qaug"))
    val scored = aug.join(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        VectorExprs.vecCosine(col("aug"), col("qaug")).as("cos_aug"),
        VectorExprs.vecDot(col("embedding"), col("qe")).as("dot"))
    // rank by the AUGMENTED cosine (the trick); emit the raw dot —
    // the oracle's dot-ranked answer only matches if the reduction holds
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_aug").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid").cast("long").as("qid"), col("rk").cast("int").as("rk"),
        col("vec_id").cast("long").as("vec_id"),
        round(col("dot"), 5).cast("double").as("dot"))
      .orderBy("qid", "rk")
  }

  /** Exact-duplicate embedding detection: fingerprint the fixed-point
    * rendering of each vector (micro-unit truncation — the same
    * quantization the JL gate uses), group on the fingerprint. Catches
    * the bit-identical copies that plague scraped embedding corpora
    * at one uniform-key shuffle (planted duplicates make the gate
    * non-vacuous — random vectors alone never collide).
    */
  val emb_dedup_exact = OpQuery.sql("emb_dedup_exact", "embeddings")(
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
      |fp AS (
      |  SELECT vec_id,
      |         md5(array_to_string(list_transform(embedding,
      |               x -> CAST(TRUNC(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), ',')) AS f
      |  FROM corpus)
      |SELECT f AS fingerprint,
      |       CAST(COUNT(*) AS BIGINT) AS n_copies,
      |       CAST(MIN(vec_id) AS BIGINT) AS keeper
      |FROM fp
      |GROUP BY f
      |HAVING COUNT(*) > 1
      |ORDER BY fingerprint""".stripMargin,
    "array_to_string(list_transform(" -> "array_join(transform(",
    "CAST(TRUNC(CAST(x AS DOUBLE) * 1000000) AS BIGINT)" ->
      "CAST(CAST(x AS DOUBLE) * 1000000 AS BIGINT)")

  /** kNN graph: every vector's top-3 cosine neighbors — the input
    * structure of graph-based semantic dedup and ANN index builds.
    * Exact all-pairs at gate scale (the documented ground-truth mode;
    * the IVF/LSH paths are the corpus-scale builders); scoring is the
    * codegen'd vec_dot, ranking per-vector partitions.
    */
  val sim_knn_graph = OpQuery(
    "sim_knn_graph",
    """WITH pairs AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |         list_dot_product(
      |           list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
      |           list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
      |         / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
      |                                  list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
      |            * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
      |                                    list_transform(b.embedding, x -> CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 100),
      |ranked AS (
      |  SELECT src, dst, cos,
      |         ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
      |  FROM pairs)
      |SELECT CAST(src AS BIGINT) AS src, CAST(rk AS INT) AS rk,
      |       CAST(dst AS BIGINT) AS dst,
      |       CAST(ROUND(cos, 5) AS DOUBLE) AS cos
      |FROM ranked WHERE rk <= 3
      |ORDER BY src, rk""".stripMargin) { (spark, dir) =>
    VectorExprs.register(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("src"), col("embedding").as("qe"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        VectorExprs.vecCosine(col("qe"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("src").cast("long").as("src"), col("rk").cast("int").as("rk"),
        col("dst").cast("long").as("dst"),
        round(col("cos"), 5).cast("double").as("cos"))
      .orderBy("src", "rk")
  }

  /** ANN evaluation harness expressed IN the engine: recall@10 of the
    * IVF index against the exact brute-force answer, per query — the
    * report that gates every index deployment. Rows-only (IVF cell
    * assignment is engine-internal); SimilaritySpec pins the recall
    * floor, this gate materializes the per-query report the spec
    * summarizes.
    */
  val sim_recall_report = OpQuery(
    "sim_recall_report",
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
      |  FROM embeddings WHERE vec_id < 20
      |), exact AS (
      |  SELECT query_id, corpus_id FROM (
      |    SELECT q.query_id, e.vec_id AS corpus_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.query_id
      |             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
      |                      e.vec_id ASC) AS rank
      |    FROM embeddings e, q WHERE e.vec_id <> q.query_id)
      |  WHERE rank <= 10
      |), cents AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cell_id,
      |         embedding::DOUBLE[] AS centroid
      |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
      |), assigned AS (
      |  SELECT vec_id, embedding, cell_id FROM (
      |    SELECT e.vec_id, e.embedding, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |             ORDER BY -list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT query_id, qvec, cell_id FROM (
      |    SELECT q.query_id, q.qvec, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.query_id
      |             ORDER BY -list_cosine_similarity(q.qvec, c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM q CROSS JOIN cents c)
      |  WHERE rn <= 4
      |), approx AS (
      |  SELECT query_id, corpus_id FROM (
      |    SELECT p.query_id, a.vec_id AS corpus_id,
      |           ROW_NUMBER() OVER (PARTITION BY p.query_id
      |             ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], p.qvec) DESC,
      |                      a.vec_id ASC) AS rank
      |    FROM assigned a JOIN probes p ON p.cell_id = a.cell_id
      |    WHERE a.vec_id <> p.query_id)
      |  WHERE rank <= 10
      |)
      |SELECT e.query_id,
      |       CAST(ROUND(COUNT(a.corpus_id) / 10.0, 2) AS DOUBLE) AS recall_at_10
      |FROM exact e LEFT JOIN approx a
      |  ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
      |GROUP BY e.query_id
      |ORDER BY e.query_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select(col("query_id"), col("corpus_id"))
    val approx = Similarity.ivfTopK(emb, queries, 10, numCells = 16, nprobe = 4)
      .select(col("query_id"), col("corpus_id").as("approx_id"))
    exact.join(approx,
        exact("query_id") === approx("query_id") &&
          exact("corpus_id") === approx("approx_id"), "left")
      .groupBy(exact("query_id"))
      .agg((count(col("approx_id")) / 10.0).as("recall_at_10"))
      .select(col("query_id").cast("long").as("query_id"),
        round(col("recall_at_10"), 2).as("recall_at_10"))
      .orderBy("query_id")
  }

  /** Near-duplicate threshold curve: exact pair counts at cosine ≥
    * 0.80/0.85/0.90/0.95 over a deterministic subset — the tuning curve
    * every dedup deployment draws before picking its cut. One exact
    * pair pass feeds all four thresholds.
    */
  val sim_threshold_curve = OpQuery(
    "sim_threshold_curve",
    """WITH sub AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings WHERE vec_id % 4 = 0),
      |pairs AS (
      |  SELECT list_dot_product(a.e, b.e)
      |         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos
      |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id),
      |th AS (SELECT unnest([0.80, 0.85, 0.90, 0.95]) AS t)
      |SELECT CAST(ROUND(th.t, 2) AS DOUBLE) AS threshold,
      |       CAST(SUM(CASE WHEN pairs.cos >= th.t THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
      |FROM th, pairs
      |GROUP BY th.t
      |ORDER BY threshold""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_thc_emb")
    graft.expressions.VectorExprs.register(spark)
    spark.sql(
      """WITH sub AS (
        |  SELECT vec_id, embedding FROM graft_thc_emb WHERE vec_id % 4 = 0),
        |pairs AS (
        |  SELECT CASE WHEN vec_norm(a.embedding) * vec_norm(b.embedding) = 0.0 THEN 0.0
        |              ELSE vec_dot(a.embedding, b.embedding)
        |                   / (vec_norm(a.embedding) * vec_norm(b.embedding)) END AS cos
        |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id),
        |th AS (SELECT explode(array(0.80, 0.85, 0.90, 0.95)) AS t)
        |SELECT CAST(ROUND(th.t, 2) AS DOUBLE) AS threshold,
        |       CAST(SUM(CASE WHEN pairs.cos >= th.t THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
        |FROM th, pairs
        |GROUP BY th.t
        |ORDER BY threshold""".stripMargin)
  }

  /** Two-stage retrieval: stage 1 recalls top-50 by int8-QUANTIZED dot
    * (4× less memory traffic — the production recall stage), stage 2
    * rescores those 50 exactly and keeps top-10. The oracle is the
    * EXACT top-10 — a hash match proves the quantized recall stage
    * loses nothing at this margin, which is the whole two-stage bet.
    */
  val sim_rerank_two_stage = OpQuery(
    "sim_rerank_two_stage",
    """WITH q AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      |  FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.qid, e.vec_id,
      |         list_dot_product(q.qe, list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS dot
      |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, vec_id, dot,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS INT) AS rk,
      |       CAST(vec_id AS BIGINT) AS vec_id,
      |       CAST(ROUND(dot, 5) AS DOUBLE) AS dot
      |FROM ranked WHERE rk <= 10
      |ORDER BY qid, rk""".stripMargin) { (spark, dir) =>
    VectorExprs.register(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding"),
      VectorExprs.vecQ8(col("embedding")).as("q8"))
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("q8").as("qq8"))
    val stage1 = corpus.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("embedding"), col("qe"),
        VectorExprs.vecDotQ8(col("q8"), col("qq8")).as("adot"))
    val w1 = Window.partitionBy(col("qid")).orderBy(col("adot").desc, col("vec_id"))
    val recalled = stage1.withColumn("rk1", row_number().over(w1)).filter(col("rk1") <= 50)
    val w2 = Window.partitionBy(col("qid"))
      .orderBy(VectorExprs.vecDot(col("embedding"), col("qe")).desc, col("vec_id"))
    recalled
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= 10)
      .select(col("qid").cast("long").as("qid"), col("rk").cast("int").as("rk"),
        col("vec_id").cast("long").as("vec_id"),
        round(VectorExprs.vecDot(col("embedding"), col("qe")), 5)
          .cast("double").as("dot"))
      .orderBy("qid", "rk")
  }

  /** Product quantization: the 64-dim embedding space is split into 8
    * subspaces of 8 dims; each subvector is encoded as the nearest of 4
    * codebook entries (vectors 0–3), shrinking every vector to 8 small
    * codes. A query then scores the whole corpus through an
    * asymmetric-distance lookup table (8 × 4 entries) instead of raw
    * vectors — the memory-bandwidth trick behind billion-scale ANN. All
    * distances fold left-to-right in doubles (bit-identical across
    * engines); ties go to the smaller code. Top-10 by estimated
    * distance.
    */
  val sim_ann_pq = OpQuery(
    "sim_ann_pq",
    """WITH emb AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS c, e AS ce FROM emb WHERE vec_id < 4),
      |subs AS (SELECT unnest(range(0, 8)) AS s),
      |assign AS (
      |  SELECT v.vec_id, sub.s, ct.c,
      |         list_sum(list_transform(range(1, 9),
      |           j -> (v.e[sub.s * 8 + j] - ct.ce[sub.s * 8 + j]) *
      |                (v.e[sub.s * 8 + j] - ct.ce[sub.s * 8 + j]))) AS d2
      |  FROM emb v, subs sub, cents ct),
      |codes AS (
      |  SELECT vec_id, s, c AS code FROM (
      |    SELECT vec_id, s, c,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rk
      |    FROM assign) t WHERE rk = 1),
      |q AS (SELECT e AS qe FROM emb WHERE vec_id = 42),
      |lut AS (
      |  SELECT sub.s, ct.c,
      |         list_sum(list_transform(range(1, 9),
      |           j -> (q.qe[sub.s * 8 + j] - ct.ce[sub.s * 8 + j]) *
      |                (q.qe[sub.s * 8 + j] - ct.ce[sub.s * 8 + j]))) AS d2q
      |  FROM q, subs sub, cents ct),
      |scored AS (
      |  SELECT cd.vec_id,
      |         CAST(SUM(CAST(ROUND(l.d2q, 12) AS DECIMAL(28,12))) AS DOUBLE) AS est
      |  FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.c
      |  WHERE cd.vec_id <> 42
      |  GROUP BY cd.vec_id)
      |SELECT vec_id, CAST(ROUND(est, 6) AS DOUBLE) AS est_dist
      |FROM scored
      |ORDER BY est, vec_id
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_pq_emb")
    spark.sql(
      """WITH emb AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM graft_pq_emb),
        |cents AS (SELECT vec_id AS c, e AS ce FROM emb WHERE vec_id < 4),
        |subs AS (SELECT explode(sequence(0, 7)) AS s),
        |assign AS (
        |  SELECT v.vec_id, sub.s, ct.c,
        |         aggregate(transform(sequence(1, 8),
        |           j -> (v.e[sub.s * 8 + j - 1] - ct.ce[sub.s * 8 + j - 1]) *
        |                (v.e[sub.s * 8 + j - 1] - ct.ce[sub.s * 8 + j - 1])),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d2
        |  FROM emb v CROSS JOIN subs sub CROSS JOIN cents ct),
        |codes AS (
        |  SELECT vec_id, s, c AS code FROM (
        |    SELECT vec_id, s, c,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rk
        |    FROM assign) t WHERE rk = 1),
        |q AS (SELECT e AS qe FROM emb WHERE vec_id = 42),
        |lut AS (
        |  SELECT sub.s, ct.c,
        |         aggregate(transform(sequence(1, 8),
        |           j -> (q.qe[sub.s * 8 + j - 1] - ct.ce[sub.s * 8 + j - 1]) *
        |                (q.qe[sub.s * 8 + j - 1] - ct.ce[sub.s * 8 + j - 1])),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d2q
        |  FROM q CROSS JOIN subs sub CROSS JOIN cents ct),
        |scored AS (
        |  SELECT cd.vec_id,
        |         CAST(SUM(CAST(ROUND(l.d2q, 12) AS DECIMAL(28,12))) AS DOUBLE) AS est
        |  FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.c
        |  WHERE cd.vec_id <> 42
        |  GROUP BY cd.vec_id)
        |SELECT vec_id, CAST(ROUND(est, 6) AS DOUBLE) AS est_dist
        |FROM scored
        |ORDER BY est, vec_id
        |LIMIT 10""".stripMargin)
  }

  /** Nearest-centroid (Rocchio) classifier evaluated on its own
    * training set: per-label centroids from quantized DECIMAL component
    * means, every vector assigned to the closest centroid, and the
    * label-level confusion summary. The heavy stage is one exploded
    * (label, dim) aggregation + a broadcast-size centroid table — the
    * shape that holds when the corpus is 10⁹ vectors and labels are
    * dozens.
    */
  val sim_centroid_classifier = OpQuery(
    "sim_centroid_classifier",
    """WITH pts AS (
      |  SELECT vec_id, label % 4 AS y,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |comps AS (
      |  SELECT y, i.i AS dim, CAST(ROUND(e[i.i], 12) AS DECIMAL(28,12)) AS v
      |  FROM pts, (SELECT unnest(range(1, 65)) AS i) i),
      |cents AS (
      |  SELECT y, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS c
      |  FROM comps GROUP BY y, dim),
      |cvec AS (
      |  SELECT y, list(c ORDER BY dim) AS cv FROM cents GROUP BY y),
      |scored AS (
      |  SELECT p.vec_id, p.y, cv.y AS cand,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (p.e[i] - cv.cv[i]) * (p.e[i] - cv.cv[i]))) AS d2
      |  FROM pts p, cvec cv),
      |assigned AS (
      |  SELECT vec_id, y, cand AS yhat FROM (
      |    SELECT vec_id, y, cand,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rk
      |    FROM scored) t WHERE rk = 1)
      |SELECT CAST(y AS INT) AS label, CAST(yhat AS INT) AS predicted,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM assigned
      |GROUP BY y, yhat
      |ORDER BY label, predicted""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_nc_emb")
    spark.sql(
      """WITH pts AS (
        |  SELECT vec_id, label % 4 AS y,
        |         transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM graft_nc_emb),
        |comps AS (
        |  SELECT y, i.i AS dim, CAST(ROUND(e[i.i - 1], 12) AS DECIMAL(28,12)) AS v
        |  FROM pts, (SELECT explode(sequence(1, 64)) AS i) i),
        |cents AS (
        |  SELECT y, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS c
        |  FROM comps GROUP BY y, dim),
        |cvec AS (
        |  SELECT y, transform(array_sort(collect_list(struct(dim, c))),
        |                      s -> s.c) AS cv
        |  FROM cents GROUP BY y),
        |scored AS (
        |  SELECT p.vec_id, p.y, cv.y AS cand,
        |         aggregate(transform(sequence(1, 64),
        |           i -> (p.e[i - 1] - cv.cv[i - 1]) * (p.e[i - 1] - cv.cv[i - 1])),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d2
        |  FROM pts p CROSS JOIN cvec cv),
        |assigned AS (
        |  SELECT vec_id, y, cand AS yhat FROM (
        |    SELECT vec_id, y, cand,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rk
        |    FROM scored) t WHERE rk = 1)
        |SELECT CAST(y AS INT) AS label, CAST(yhat AS INT) AS predicted,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM assigned
        |GROUP BY y, yhat
        |ORDER BY label, predicted""".stripMargin)
  }

  /** Centroid-simplified silhouette per embedding label: a = distance to
    * the own-label centroid, b = min distance to any other centroid,
    * s = (b−a)/max(a,b). The full silhouette is O(n²); the centroid
    * variant is O(n·k) — distances come from ‖v‖², v·c, ‖c‖² so the
    * vector table is scanned once and the k-row centroid table is
    * broadcast. Per-vector s is rounded to 9 digits before the label
    * mean so float-sum ordering can't leak into the 6-digit gate.
    */
  val sim_silhouette = OpQuery(
    "sim_silhouette",
    """WITH e AS (
      |  SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i
      |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
      |               unnest(generate_series(1, len(embedding))) AS i
      |        FROM embeddings)
      |), c AS (
      |  SELECT label AS clabel, i, AVG(v) AS cv FROM e GROUP BY 1, 2
      |), vn AS (
      |  SELECT vec_id, label, SUM(v * v) AS v2 FROM e GROUP BY 1, 2
      |), cn AS (
      |  SELECT clabel, SUM(cv * cv) AS c2 FROM c GROUP BY 1
      |), d AS (
      |  SELECT e.vec_id, e.label, c.clabel,
      |         SQRT(GREATEST(0.0, ANY_VALUE(vn.v2)
      |              - 2 * SUM(e.v * c.cv) + ANY_VALUE(cn.c2))) AS dist
      |  FROM e JOIN c ON e.i = c.i
      |  JOIN vn ON e.vec_id = vn.vec_id
      |  JOIN cn ON c.clabel = cn.clabel
      |  GROUP BY e.vec_id, e.label, c.clabel
      |), s AS (
      |  SELECT vec_id, label,
      |         MAX(CASE WHEN clabel = label THEN dist END) AS a,
      |         MIN(CASE WHEN clabel <> label THEN dist END) AS b
      |  FROM d GROUP BY 1, 2
      |)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(ROUND(AVG(ROUND((b - a) / GREATEST(a, b), 9)), 6) AS DOUBLE)
      |         AS mean_silhouette
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val e = emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i0", "vf")))
      .select(col("vec_id"), col("label"), (col("i0") + 1).as("i"),
        col("vf").cast("double").as("v"))
    val c = e.groupBy(col("label").as("clabel"), col("i"))
      .agg(avg(col("v")).as("cv"))
    val vn = e.groupBy("vec_id", "label").agg(sum(col("v") * col("v")).as("v2"))
    val cn = c.groupBy("clabel").agg(sum(col("cv") * col("cv")).as("c2"))
    val d = e.join(c, "i")
      .join(vn, Seq("vec_id", "label"))
      .join(cn, "clabel")
      .groupBy("vec_id", "label", "clabel")
      .agg(sqrt(greatest(lit(0.0),
        first(col("v2")) - lit(2) * sum(col("v") * col("cv")) +
          first(col("c2")))).as("dist"))
    val s = d.groupBy("vec_id", "label").agg(
      max(when(col("clabel") === col("label"), col("dist"))).as("a"),
      min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
    s.groupBy("label").agg(
        count(lit(1)).as("n"),
        round(avg(round((col("b") - col("a")) / greatest(col("a"), col("b")), 9)),
          6).cast("double").as("mean_silhouette"))
      .orderBy("label")
  }

  /** Maximal Marginal Relevance (λ=0.7, k=4) over the top-12 cosine
    * candidates for query vector 1: each greedy step scores the
    * remainder by λ·sim(q,d) − (1−λ)·max sim(d, selected) and takes the
    * deterministic argmax. All similarities are rounded to 9 digits
    * BEFORE any comparison so the greedy path is engine-stable; the
    * oracle unrolls the same 4 steps as chained CTEs. Candidate pruning
    * (top-12) bounds the pairwise block at 12×12 regardless of corpus
    * size — the re-rank stage of a two-stage retrieval pipeline.
    */
  val sim_mmr = OpQuery(
    "sim_mmr",
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
      |base AS (
      |  SELECT e.vec_id,
      |         ROUND(list_dot_product(
      |             list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
      |             list_transform(q.qe, x -> CAST(x AS DOUBLE))) /
      |           (SQRT(list_dot_product(
      |             list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
      |             list_transform(e.embedding, x -> CAST(x AS DOUBLE)))) *
      |            SQRT(list_dot_product(
      |             list_transform(q.qe, x -> CAST(x AS DOUBLE)),
      |             list_transform(q.qe, x -> CAST(x AS DOUBLE))))), 9) AS qs
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 1
      |), cand AS (
      |  SELECT vec_id, qs FROM (
      |    SELECT vec_id, qs, ROW_NUMBER() OVER (ORDER BY qs DESC, vec_id) AS rk
      |    FROM base) WHERE rk <= 12
      |), pw AS (
      |  SELECT x.vec_id AS a, y.vec_id AS b,
      |         ROUND(list_dot_product(
      |             list_transform(ex.embedding, v -> CAST(v AS DOUBLE)),
      |             list_transform(ey.embedding, v -> CAST(v AS DOUBLE))) /
      |           (SQRT(list_dot_product(
      |             list_transform(ex.embedding, v -> CAST(v AS DOUBLE)),
      |             list_transform(ex.embedding, v -> CAST(v AS DOUBLE)))) *
      |            SQRT(list_dot_product(
      |             list_transform(ey.embedding, v -> CAST(v AS DOUBLE)),
      |             list_transform(ey.embedding, v -> CAST(v AS DOUBLE))))), 9)
      |           AS sim
      |  FROM cand x JOIN embeddings ex ON ex.vec_id = x.vec_id
      |  CROSS JOIN cand y JOIN embeddings ey ON ey.vec_id = y.vec_id
      |  WHERE x.vec_id <> y.vec_id
      |), s1 AS (
      |  SELECT vec_id, ROUND(0.7 * qs, 9) AS sc FROM cand
      |  ORDER BY qs DESC, vec_id LIMIT 1
      |), r2 AS (
      |  SELECT c.vec_id, ROUND(0.7 * c.qs - 0.3 * MAX(p.sim), 9) AS sc
      |  FROM cand c JOIN pw p ON p.a = c.vec_id
      |    AND p.b IN (SELECT vec_id FROM s1)
      |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
      |  GROUP BY c.vec_id, c.qs
      |), s2 AS (SELECT vec_id, sc FROM r2 ORDER BY sc DESC, vec_id LIMIT 1),
      |sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
      |r3 AS (
      |  SELECT c.vec_id, ROUND(0.7 * c.qs - 0.3 * MAX(p.sim), 9) AS sc
      |  FROM cand c JOIN pw p ON p.a = c.vec_id
      |    AND p.b IN (SELECT vec_id FROM sel2)
      |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
      |  GROUP BY c.vec_id, c.qs
      |), s3 AS (SELECT vec_id, sc FROM r3 ORDER BY sc DESC, vec_id LIMIT 1),
      |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
      |r4 AS (
      |  SELECT c.vec_id, ROUND(0.7 * c.qs - 0.3 * MAX(p.sim), 9) AS sc
      |  FROM cand c JOIN pw p ON p.a = c.vec_id
      |    AND p.b IN (SELECT vec_id FROM sel3)
      |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
      |  GROUP BY c.vec_id, c.qs
      |), s4 AS (SELECT vec_id, sc FROM r4 ORDER BY sc DESC, vec_id LIMIT 1)
      |SELECT CAST(step AS INT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
      |       CAST(ROUND(sc, 6) AS DOUBLE) AS mmr_score
      |FROM (
      |  SELECT 1 AS step, vec_id, sc FROM s1
      |  UNION ALL SELECT 2, vec_id, sc FROM s2
      |  UNION ALL SELECT 3, vec_id, sc FROM s3
      |  UNION ALL SELECT 4, vec_id, sc FROM s4
      |) ORDER BY step""".stripMargin) { (spark, dir) =>
    VectorExprs.register(spark)
    val emb = t(spark, dir, "embeddings")
    def cos(a: Column, b: Column): Column =
      VectorExprs.vecDot(a, b) /
        (sqrt(VectorExprs.vecDot(a, a)) * sqrt(VectorExprs.vecDot(b, b)))
    val q = emb.filter(col("vec_id") === 1).select(col("embedding").as("qe"))
    val base = emb.filter(col("vec_id") =!= 1).crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        round(cos(col("embedding"), col("qe")), 9).as("qs"))
    // Top-12 by score is a TakeOrderedAndProject (per-partition heaps +
    // driver merge), not a global row_number window over the embeddings.
    val cand = base
      .orderBy(col("qs").desc, col("vec_id")).limit(12)
      .transform(Freeze.eager)
    val pw = cand.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(cand.select(col("vec_id").as("b"), col("embedding").as("eb")))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), round(cos(col("ea"), col("eb")), 9).as("sim"))
      .transform(Freeze.eager)
    var selected = cand
      .orderBy(col("qs").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), round(col("qs") * 0.7, 9).as("sc"),
        lit(1).as("step"))
      .transform(Freeze.eager)
    for (step <- 2 to 4) {
      val selIds = selected.select("vec_id")
      val maxSim = pw
        .join(selIds.withColumnRenamed("vec_id", "b"), Seq("b"), "left_semi")
        .groupBy(col("a").as("vec_id")).agg(max(col("sim")).as("msim"))
      val next = cand.join(selIds, Seq("vec_id"), "left_anti")
        .join(maxSim, "vec_id")
        .select(col("vec_id"),
          round(col("qs") * 0.7 - col("msim") * 0.3, 9).as("sc"),
          lit(step).as("step"))
        .orderBy(col("sc").desc, col("vec_id")).limit(1)
      selected = selected.unionByName(next).transform(Freeze.eager)
    }
    selected.select(col("step").cast("int").as("step"),
        col("vec_id").cast("long").as("vec_id"),
        round(col("sc"), 6).cast("double").as("mmr_score"))
      .orderBy("step")
  }

  /** Symmetric int8 quantization of embeddings: per-vector max-abs
    * scale, q = round(x·127/scale) clamped to ±127, reconstruction
    * error measured per label group. The quantized values are exact
    * integers (float→double cast is value-preserving and ROUND on the
    * scaled double is pinned by the 6-decimal pre-round), so the
    * error aggregate is engine-stable. This is the compression step a
    * vector store applies before ANN serving — here as one lambda
    * pipeline over the embedding column.
    */
  val emb_quantize = OpQuery(
    "emb_quantize",
    """WITH base AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |sc AS (
      |  SELECT vec_id, label, e,
      |         list_max(list_transform(e, x -> ABS(x))) AS scale
      |  FROM base),
      |q AS (
      |  SELECT vec_id, label, e, scale,
      |         list_transform(e,
      |           x -> CAST(ROUND(ROUND(x / scale, 6) * 127, 0) AS INT)) AS qv
      |  FROM sc WHERE scale > 0),
      |err AS (
      |  SELECT label, vec_id, scale,
      |         list_sum(list_transform(
      |           list_zip(e, qv),
      |           p -> ABS(p[1] - p[2] * scale / 127))) AS abs_err,
      |         len(e) AS dim
      |  FROM q)
      |SELECT CAST(label AS INT) AS label, COUNT(*) AS n_vectors,
      |       CAST(ROUND(CAST(SUM(CAST(ROUND(abs_err / dim, 8)
      |         AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
      |         AS mean_abs_err,
      |       CAST(ROUND(MAX(abs_err / dim), 6) AS DOUBLE) AS max_mean_err
      |FROM err GROUP BY label
      |ORDER BY label""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("graft_q_emb")
    spark.sql(
      """WITH base AS (
        |  SELECT vec_id, label,
        |         transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM graft_q_emb),
        |sc AS (
        |  SELECT vec_id, label, e,
        |         array_max(transform(e, x -> ABS(x))) AS scale
        |  FROM base),
        |q AS (
        |  SELECT vec_id, label, e, scale,
        |         transform(e,
        |           x -> CAST(ROUND(ROUND(x / scale, 6) * 127, 0) AS INT)) AS qv
        |  FROM sc WHERE scale > 0),
        |err AS (
        |  SELECT label, vec_id, scale,
        |         aggregate(zip_with(e, qv, (a, b) -> ABS(a - b * scale / 127)),
        |           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS abs_err,
        |         size(e) AS dim
        |  FROM q)
        |SELECT CAST(label AS INT) AS label, COUNT(*) AS n_vectors,
        |       CAST(ROUND(CAST(SUM(CAST(ROUND(abs_err / dim, 8)
        |         AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
        |         AS mean_abs_err,
        |       CAST(ROUND(MAX(abs_err / dim), 6) AS DOUBLE) AS max_mean_err
        |FROM err GROUP BY label
        |ORDER BY label""".stripMargin)
  }

  /** Random-hyperplane LSH at a recall-saturating tuning: 64 tables × 4
    * bits. At the 0.45 cosine threshold (θ ≈ 63°, per-bit collision
    * ≈ 0.648) a true pair misses every table with probability
    * (1 − 0.648⁴)^64 ≈ 4e-6 — and the hyperplanes are seeded, so the
    * outcome is deterministic. Verified output = exact cosine ≥ 0.45
    * over the same 50% slice as `sim_neardup_embedding`, same oracle.
    * Fewer bits per table floods more candidates; the pipeline scores
    * before distinct'ing, so the flood stays map-side.
    */
  val sim_lsh_verified = OpQuery(
    "sim_lsh_verified",
    """WITH half AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |       CAST(ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS DOUBLE) AS score
      |FROM half a JOIN half b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
      |ORDER BY id1, id2""".stripMargin) { (spark, dir) =>
    Similarity.lshNearDups(
        Tables.load(spark, dir, "embeddings").filter(col("vec_id") % 2 === 0),
        threshold = 0.45, numTables = 64, bitsPerTable = 4)
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Distributed PCA power iteration with per-step quantization,
    * hash-green against DuckDB: the Gram-product pass (the walk's only
    * distributed sum) rounds each `x_dim·(x·v)` contribution to 9dp and
    * sums in DECIMAL, so the whole 8-iteration fixpoint is
    * order-independent; the oracle unrolls the iterations with list
    * arithmetic, every CTE MATERIALIZED (DuckDB inlines CTEs by
    * default, and an 8-deep chain whose steps are referenced 3x
    * re-evaluates exponentially otherwise) (`emb_pca_power` keeps benching the raw double path at
    * 25 iterations, rows-only).
    */
  val emb_pca_quantized: OpQuery = {
    val iters = 8
    def gram(name: String, vPrev: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT list(CAST(wd AS DOUBLE) ORDER BY dd) AS w FROM (
         |    SELECT dd, SUM(CAST(ROUND(x_el * s, 9) AS DECIMAL(38,9))) AS wd
         |    FROM (
         |      SELECT generate_subscripts(x, 1) AS dd, unnest(x) AS x_el,
         |             list_dot_product(x, (SELECT v FROM $vPrev)) AS s
         |      FROM e)
         |    GROUP BY dd))""".stripMargin
    val base =
      """WITH e AS MATERIALIZED (SELECT embedding::DOUBLE[] AS x FROM embeddings),
        |d AS MATERIALIZED (SELECT MIN(len(x)) AS n FROM e),
        |v0 AS MATERIALIZED (SELECT list_transform(range(1, (SELECT n FROM d) + 1),
        |         i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
        |              ELSE CAST(0.0 AS DOUBLE) END) AS v)""".stripMargin
    val steps = (1 to iters).flatMap { i =>
      Seq(
        gram(s"w$i", s"v${i - 1}"),
        s"""v$i AS MATERIALIZED (
           |  SELECT list_transform(w, y -> y / sqrt(list_dot_product(w, w))) AS v,
           |         sqrt(list_dot_product(w, w)) AS lambda
           |  FROM w$i)""".stripMargin)
    }
    val tail =
      Seq(gram("wr", s"v$iters"),
        s"""diffs AS MATERIALIZED (
           |  SELECT list_transform(range(1, (SELECT n FROM d) + 1),
           |           i -> wr.w[i] - vv.lambda * vv.v[i]) AS dl,
           |         vv.lambda AS lambda
           |  FROM wr, v$iters vv)""".stripMargin,
        """res AS MATERIALIZED (
          |  SELECT sqrt(list_dot_product(dl, dl)) / lambda AS resid FROM diffs)""".stripMargin)
    val sql = (Seq(base) ++ steps ++ tail).mkString(",\n") +
      s"""
         |SELECT CAST(g.i - 1 AS INT) AS dim,
         |       CAST(ROUND(vv.v[CAST(g.i AS INT)], 6) AS DOUBLE) AS component,
         |       CAST(ROUND(vv.lambda, 3) AS DOUBLE) AS eigenvalue,
         |       (SELECT resid FROM res) < 0.05 AS converged
         |FROM v$iters vv,
         |     (SELECT unnest(range(1, (SELECT n FROM d) + 1)) AS i) g
         |ORDER BY dim""".stripMargin
    OpQuery("emb_pca_quantized", sql) { (spark, dir) =>
      val emb = Tables.load(spark, dir, "embeddings")
      val Seq((lambda, v, resid)) = graft.operators.Similarity
        .topPrincipalComponentsMultiPass(emb, "embedding", r = 1,
          iterations = iters, quantizeDp = 9)
      import spark.implicits._
      v.zipWithIndex.toSeq.toDF("component", "dim")
        .select(
          col("dim").cast("int").as("dim"),
          round(col("component"), 6).as("component"),
          round(lit(lambda), 3).as("eigenvalue"),
          lit(resid < 0.05).as("converged"))
        .orderBy("dim")
    }
  }

  private val ivfOracle =
    """WITH cents AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cell_id,
      |         embedding::DOUBLE[] AS centroid
      |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
      |), assigned AS (
      |  SELECT vec_id, embedding, cell_id FROM (
      |    SELECT e.vec_id, e.embedding, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |             ORDER BY -list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT query_id, qvec, cell_id FROM (
      |    SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qvec, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |             ORDER BY -list_cosine_similarity(q.embedding::DOUBLE[], c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 8)
      |  WHERE rn <= 4
      |), scored AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id,
      |         list_cosine_similarity(a.embedding::DOUBLE[], p.qvec) AS score
      |  FROM assigned a JOIN probes p ON p.cell_id = a.cell_id
      |  WHERE a.vec_id <> p.query_id
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |              ORDER BY score DESC, corpus_id ASC) AS INT) AS rank,
      |         score
      |  FROM scored)
      |SELECT query_id, corpus_id, rank, CAST(ROUND(score, 6) AS DOUBLE) AS score
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  val sim_ivf_persisted = OpQuery(
    "sim_ivf_persisted", ivfOracle) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val root = graft.queries.GateScratch.dir("graft-annidx-").toString
    val store = new TableStore(spark, root)
    AnnIndex.build(store, "emb", emb, numCells = 16)
    // reopen from disk — nothing of the build survives but the tables
    val idx = AnnIndex.open(store, "emb")
    AnnIndex.search(idx, emb.filter(col("vec_id") < 8), k = 5, nprobe = 4)
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The quantized persisted index (IVF-SQ8): postings hold int8 codes
    * (4x smaller), probe selection stays full-precision, in-cell
    * scoring is the integer dot product. Both the IVF cell logic and
    * the q8 arithmetic (`FLOOR(x + 0.5)` = Java Math.round) already
    * have exact SQL replays, so their composition is hash-green too.
    */
  val sim_ivf_persisted_q8 = OpQuery(
    "sim_ivf_persisted_q8",
    """WITH cents AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cell_id,
      |         embedding::DOUBLE[] AS centroid
      |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
      |), assigned AS (
      |  SELECT vec_id, cell_id FROM (
      |    SELECT e.vec_id, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |             ORDER BY -list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), u AS (
      |  SELECT vec_id,
      |         list_transform(embedding::DOUBLE[],
      |           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
      |                                          embedding::DOUBLE[]))) AS u
      |  FROM embeddings
      |), qz AS (
      |  SELECT vec_id, m,
      |         list_transform(u, x -> CAST(FLOOR(x * (127.0 / m) + 0.5) AS BIGINT)) AS q
      |  FROM (SELECT vec_id, u,
      |               list_max(list_transform(u, x -> abs(x))) AS m FROM u)
      |  WHERE m > 0
      |), probes AS (
      |  SELECT query_id, cell_id FROM (
      |    SELECT q.vec_id AS query_id, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |             ORDER BY -list_cosine_similarity(q.embedding::DOUBLE[], c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 8)
      |  WHERE rn <= 4
      |), scored AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id,
      |         list_dot_product(cz.q, qz2.q) * (cz.m / 127.0) * (qz2.m / 127.0)
      |           AS score
      |  FROM assigned a
      |  JOIN probes p ON p.cell_id = a.cell_id
      |  JOIN qz cz ON cz.vec_id = a.vec_id
      |  JOIN qz qz2 ON qz2.vec_id = p.query_id
      |  WHERE a.vec_id <> p.query_id
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |              ORDER BY score DESC, corpus_id ASC) AS INT) AS rank,
      |         score
      |  FROM scored)
      |SELECT query_id, corpus_id, rank, CAST(ROUND(score, 6) AS DOUBLE) AS score
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val root = graft.queries.GateScratch.dir("graft-annq8-").toString
    val store = new TableStore(spark, root)
    AnnIndex.buildQuantized(store, "embq", emb, numCells = 16)
    val idx = AnnIndex.open(store, "embq")
    AnnIndex.searchQuantized(idx, emb.filter(col("vec_id") < 8), k = 5, nprobe = 4)
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val M = 8

  private val K = 16

  private val SubDim = 8

  /** Formula codebook: c[s][j][t] = ((7s + 11j + 13t) mod 161) − 80,
    * flattened (s*k + j)*subDim + t — integer-valued doubles.
    */
  private def fixedCodebook: Pq.Codebook = {
    val flat = new Array[Double](K * M * SubDim)
    for (s <- 0 until M; j <- 0 until K; t <- 0 until SubDim)
      flat((s * K + j) * SubDim + t) = ((7 * s + 11 * j + 13 * t) % 161 - 80).toDouble
    Pq.Codebook(M, K, SubDim, flat)
  }

  val sim_pq_adc_fixed = OpQuery(
    "sim_pq_adc_fixed",
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)) AS q
      |  FROM embeddings
      |), sub AS (
      |  SELECT vec_id, s.s AS s, j.j AS j,
      |         list_sum(list_transform(generate_series(0, 7), t ->
      |           (q[s.s * 8 + t + 1] - ((7 * s.s + 11 * j.j + 13 * t) % 161 - 80))
      |           * (q[s.s * 8 + t + 1] - ((7 * s.s + 11 * j.j + 13 * t) % 161 - 80)))) AS d
      |  FROM e,
      |       unnest(generate_series(0, 7)) AS s(s),
      |       unnest(generate_series(0, 15)) AS j(j)
      |), code AS (
      |  SELECT vec_id, s, j FROM (
      |    SELECT vec_id, s, j,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
      |    FROM sub)
      |  WHERE rn = 1
      |), adc AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, SUM(qd.d) AS dist
      |  FROM (SELECT vec_id FROM e WHERE vec_id < 4) q
      |  JOIN code c ON c.vec_id <> q.vec_id
      |  JOIN sub qd ON qd.vec_id = q.vec_id AND qd.s = c.s AND qd.j = c.j
      |  GROUP BY q.vec_id, c.vec_id
      |)
      |SELECT query_id, CAST(rn AS INT) AS rank, corpus_id,
      |       CAST(dist AS BIGINT) AS adc
      |FROM (SELECT *,
      |        ROW_NUMBER() OVER (PARTITION BY query_id
      |                           ORDER BY dist, corpus_id) AS rn
      |      FROM adc)
      |WHERE rn <= 10
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val cb = fixedCodebook
    val quant = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 256).cast("long")).as("qv"))
    val encoded = Pq.encode(quant, cb, idCol = "vec_id", vecCol = "qv")
    val queries = quant.filter(col("vec_id") < 4)
    Pq.adcTopK(encoded, queries, cb, topK = 10, idCol = "vec_id", vecCol = "qv")
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("adc").cast("long").as("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Learned PQ (driver-side Lloyd per subspace on the deterministic
    * id-ordered sample): rows-only gate; recall vs exact brute force and
    * the ADC/encode algebra are pinned in PqSpec.
    */
  val sim_pq_topk = OpQuery.noOracle("sim_pq_topk") { (spark, dir) =>
    import graft.expressions.VectorExprs
    VectorExprs.register(spark)
    val embs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), VectorExprs.vecUnit(col("embedding")).as("uv"))
    val cb = Pq.train(embs, m = 16, k = 64, iters = 5,
      idCol = "vec_id", vecCol = "uv")
    val encoded = Pq.encode(embs, cb, idCol = "vec_id", vecCol = "uv")
    val queries = embs.filter(col("vec_id") < 8)
    Pq.adcTopK(encoded, queries, cb, topK = 10, idCol = "vec_id", vecCol = "uv")
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ADC shortlist + exact re-rank (the faiss refine shape) — rows-only;
    * PqSpec pins the reranked recall floor and that rerank can only
    * improve over raw ADC.
    */
  val sim_pq_rerank = OpQuery.noOracle("sim_pq_rerank") { (spark, dir) =>
    import graft.expressions.VectorExprs
    VectorExprs.register(spark)
    val embs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), VectorExprs.vecUnit(col("embedding")).as("uv"))
    val cb = Pq.train(embs, m = 16, k = 64, iters = 5,
      idCol = "vec_id", vecCol = "uv")
    val encoded = Pq.encode(embs, cb, idCol = "vec_id", vecCol = "uv")
    val queries = embs.filter(col("vec_id") < 8)
    Pq.adcTopKReranked(encoded, embs, queries, cb, topK = 10, shortlist = 50,
        idCol = "vec_id", vecCol = "uv")
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Persisted IVF-PQ, full lifecycle, hash-green: integer-quantized
    * vectors + iters=0 quantizers make BOTH codebooks data-derived and
    * SQL-expressible — the coarse centroids are the first 16 quantized
    * embeddings (whole vectors), the PQ sub-codebooks their subvectors
    * (the [[graft.operators.Pq.train]] id-ordered init) — so cell
    * assignment (argmin integer L2), packed encode, LUTs, ADC sums, and
    * ranking are all exact arithmetic DuckDB replays. The index is
    * built, PERSISTED (packed binary codes in cell_id partitions),
    * reopened as a fresh handle, and served — persistence must be
    * invisible in the results, bit for bit.
    */
  val sim_pq_persisted = OpQuery(
    "sim_pq_persisted",
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)) AS q
      |  FROM embeddings
      |), samp AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, q
      |  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 16)
      |), coarse_d AS (
      |  SELECT e.vec_id, s.j AS cell,
      |         list_sum(list_transform(generate_series(1, 64), i ->
      |           (e.q[i] - s.q[i]) * (e.q[i] - s.q[i]))) AS d
      |  FROM e, samp s
      |), assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |    FROM coarse_d)
      |  WHERE rn = 1
      |), subd AS (
      |  SELECT e.vec_id, ss.s AS s, sj.j AS j,
      |         list_sum(list_transform(generate_series(1, 8), t ->
      |           (e.q[ss.s * 8 + t] - sj.q[ss.s * 8 + t])
      |           * (e.q[ss.s * 8 + t] - sj.q[ss.s * 8 + t]))) AS d
      |  FROM e, unnest(generate_series(0, 7)) AS ss(s), samp sj
      |), code AS (
      |  SELECT vec_id, s, j FROM (
      |    SELECT vec_id, s, j,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
      |    FROM subd)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS query_id, cell FROM (
      |    SELECT vec_id, cell,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |    FROM coarse_d WHERE vec_id < 4)
      |  WHERE rn <= 3
      |), adc AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id, SUM(qd.d) AS dist
      |  FROM probes p
      |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
      |  JOIN code c ON c.vec_id = a.vec_id
      |  JOIN subd qd ON qd.vec_id = p.query_id AND qd.s = c.s AND qd.j = c.j
      |  GROUP BY p.query_id, a.vec_id
      |)
      |SELECT query_id, CAST(rn AS INT) AS rank, corpus_id,
      |       CAST(dist AS BIGINT) AS adc
      |FROM (SELECT *,
      |        ROW_NUMBER() OVER (PARTITION BY query_id
      |                           ORDER BY dist, corpus_id) AS rn
      |      FROM adc)
      |WHERE rn <= 5
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    import graft.operators.{PqIndex, TableStore}
    val quant = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 256).cast("long")).as("qv"))
    val root = graft.queries.GateScratch.dir("graft-pqidx-").toString
    val store = new TableStore(spark, root)
    PqIndex.build(store, "embq", quant, numCells = 16, m = M, k = K,
      iters = 0, idCol = "vec_id", vecCol = "qv")
    // reopen from disk — nothing of the build survives but the tables
    val idx = PqIndex.open(store, "embq", idCol = "vec_id", vecCol = "qv")
    PqIndex.search(idx, quant.filter(col("vec_id") < 4), k = 5, nprobe = 3)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("adc").cast("long").as("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Residual IVF-PQ (faiss IVFPQ proper): codes quantize the residual
    * to the nearest coarse centroid, LUTs are cell-specific (query
    * residual vs the residual codebooks). Same exact-integer replay
    * trick as `sim_pq_persisted` — iters=0 makes the residual codebooks
    * data-derived (the first 16 RESIDUAL vectors' subvectors) and every
    * distance integer — so the whole two-level pipeline hash-matches.
    */
  val sim_pq_residual = OpQuery(
    "sim_pq_residual",
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)) AS q
      |  FROM embeddings
      |), samp AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, q
      |  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 16)
      |), coarse_d AS (
      |  SELECT e.vec_id, s.j AS cell,
      |         list_sum(list_transform(generate_series(1, 64), i ->
      |           (e.q[i] - s.q[i]) * (e.q[i] - s.q[i]))) AS d
      |  FROM e, samp s
      |), assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |    FROM coarse_d)
      |  WHERE rn = 1
      |), resid AS (
      |  SELECT e.vec_id, a.cell,
      |         list_transform(generate_series(1, 64), i -> e.q[i] - s.q[i]) AS r
      |  FROM e JOIN assigned a USING (vec_id) JOIN samp s ON s.j = a.cell
      |), rsamp AS (
      |  -- residual codebook seeds skip the coarse-seed rows (their
      |  -- residuals are zero): rows 16..31 in id order
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, r
      |  FROM (SELECT vec_id, r FROM resid ORDER BY vec_id LIMIT 16 OFFSET 16)
      |), subd AS (
      |  SELECT x.vec_id, ss.s AS s, sj.j AS j,
      |         list_sum(list_transform(generate_series(1, 8), t ->
      |           (x.r[ss.s * 8 + t] - sj.r[ss.s * 8 + t])
      |           * (x.r[ss.s * 8 + t] - sj.r[ss.s * 8 + t]))) AS d
      |  FROM resid x, unnest(generate_series(0, 7)) AS ss(s), rsamp sj
      |), code AS (
      |  SELECT vec_id, s, j FROM (
      |    SELECT vec_id, s, j,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
      |    FROM subd)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS query_id, cell FROM (
      |    SELECT vec_id, cell,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |    FROM coarse_d WHERE vec_id < 4)
      |  WHERE rn <= 3
      |), qres AS (
      |  -- query residual AGAINST EACH PROBED CELL's centroid
      |  SELECT p.query_id, p.cell,
      |         list_transform(generate_series(1, 64), i -> e.q[i] - s.q[i]) AS qr
      |  FROM probes p JOIN e ON e.vec_id = p.query_id JOIN samp s ON s.j = p.cell
      |), qlut AS (
      |  SELECT q.query_id, q.cell, ss.s AS s, sj.j AS j,
      |         list_sum(list_transform(generate_series(1, 8), t ->
      |           (q.qr[ss.s * 8 + t] - sj.r[ss.s * 8 + t])
      |           * (q.qr[ss.s * 8 + t] - sj.r[ss.s * 8 + t]))) AS d
      |  FROM qres q, unnest(generate_series(0, 7)) AS ss(s), rsamp sj
      |), adc AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id, SUM(l.d) AS dist
      |  FROM probes p
      |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
      |  JOIN code c ON c.vec_id = a.vec_id
      |  JOIN qlut l ON l.query_id = p.query_id AND l.cell = p.cell
      |             AND l.s = c.s AND l.j = c.j
      |  GROUP BY p.query_id, a.vec_id
      |)
      |SELECT query_id, CAST(rn AS INT) AS rank, corpus_id,
      |       CAST(dist AS BIGINT) AS adc
      |FROM (SELECT *,
      |        ROW_NUMBER() OVER (PARTITION BY query_id
      |                           ORDER BY dist, corpus_id) AS rn
      |      FROM adc)
      |WHERE rn <= 5
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    import graft.operators.{PqIndex, TableStore}
    val quant = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 256).cast("long")).as("qv"))
    val root = graft.queries.GateScratch.dir("graft-pqres-").toString
    val store = new TableStore(spark, root)
    PqIndex.build(store, "embr", quant, numCells = 16, m = M, k = K,
      iters = 0, residual = true, idCol = "vec_id", vecCol = "qv")
    val idx = PqIndex.open(store, "embr", idCol = "vec_id", vecCol = "qv")
    PqIndex.search(idx, quant.filter(col("vec_id") < 4), k = 5, nprobe = 3)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("adc").cast("long").as("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Join-form PQ bulk serve past the LUT-collect ceiling: the query
    * set is the embeddings table replicated to EXACTLY 4500 distinct
    * query ids (> the 4096 ceiling [[graft.operators.PqIndex.search]]
    * refuses at), served via [[graft.operators.PqIndex.searchBulk]] —
    * probe cells, residual LUTs, and ADC all computed distributed, no
    * driver collect of the query set. The gate emits per-query result
    * counts (every query must land exactly k hits), which DuckDB
    * replays trivially; the ADC VALUES are pinned separately by
    * PqIndexSpec's bit-equality of searchBulk vs the collect path.
    */
  val sim_pq_serve_bulk = OpQuery(
    "sim_pq_serve_bulk",
    """SELECT CAST(q.q AS BIGINT) AS query_id, CAST(5 AS INT) AS n_hits
      |FROM (SELECT unnest(generate_series(0, 4499)) AS q) q
      |ORDER BY query_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{PqIndex, TableStore}
    val scratch = GateScratch.dir("graft-pqbulk-")
    val store = new TableStore(spark, scratch.toString)
    val emb = Tables.load(spark, dir, "embeddings")
    PqIndex.build(store, "bulk", emb, numCells = 16, m = 8, k = 16,
      iters = 2, residual = true)
    val h = PqIndex.open(store, "bulk")
    val n = emb.count()
    val reps = (4500 / n + 1).toInt
    val queries = emb
      .crossJoin(spark.range(reps).toDF("__rep"))
      .withColumn("vec_id", col("vec_id") + col("__rep") * n)
      .drop("__rep")
      .filter(col("vec_id") < 4500)
    PqIndex.searchBulk(h, queries, k = 5, nprobe = 4)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("n_hits"))
      .orderBy(col("query_id"))
  }

  /** Twin for `sim_pq_topk` / `sim_pq_rerank`: when the ADC shortlist
    * provably CONTAINS the exact top-k (verified in-gate by computing
    * the brute-force answer and requiring set equality — a loud require,
    * not a silent assumption), the exact re-rank must RECOVER the exact
    * L2 top-k — which DuckDB replays independently with the same
    * c·c − 2·c·q + q·q arithmetic. This pins the full PQ serving chain
    * (train → encode → ADC shortlist → exact refine) against an
    * engine-independent answer; the rows-only siblings keep pinning the
    * approximate regime (small shortlists) via PqSpec recall floors.
    */
  val sim_pq_rerank_verified = OpQuery(
    "sim_pq_rerank_verified",
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |         list_inner_product(c.v, c.v)
      |           - 2 * list_inner_product(c.v, q.v)
      |           + list_inner_product(q.v, q.v) AS dist
      |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 8
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |              ORDER BY dist ASC, corpus_id ASC) AS INT) AS rank
      |  FROM scored)
      |SELECT query_id, rank, corpus_id
      |FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val embs = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cb = Pq.train(embs, m = 16, k = 64, iters = 2,
      idCol = "vec_id", vecCol = "v")
    val encoded = Pq.encode(embs, cb, idCol = "vec_id", vecCol = "v")
    val queries = embs.filter(col("vec_id") < 8)
    // shortlist scales with the corpus: ADC on raw (un-normalized)
    // vectors is a coarse ranking, and a fixed 100 covered the exact
    // top-10 at sf0.01 but not sf0.1 — the in-gate require below caught
    // exactly that, which is its job
    val n = embs.count()
    val shortlist = math.max(100, (n / 5).toInt)
    // the ADC scan (the gate's dominant cost) runs ONCE: the checkpointed
    // shortlist feeds both the rerank and the coverage exclusion below
    val cand = Pq.adcTopK(encoded, queries, cb, shortlist,
        idCol = "vec_id", vecCol = "v")
      .select(col("query_id"), col("corpus_id"))
      .transform(Freeze.eager) // tiny: queries × shortlist ids
    val reranked = Pq.rerankShortlist(cand, embs, queries,
      topK = 10, idCol = "vec_id", vecCol = "v")
    // coverage proof: the reranked top-10 IS the exact top-10 iff every
    // kept distance is strictly below every distance OUTSIDE the
    // shortlist (one exact-scoring pass over corpus∖shortlist — far
    // cheaper than a second full rerank, same guarantee; an exact tie
    // on the boundary fails the strict check loudly, never silently).
    // A miss means the shortlist is too small for this corpus: fail
    // loudly and retune, never emit silently-approximate rows.
    graft.expressions.VectorExprs.register(spark)
    import graft.expressions.VectorExprs.vecDot
    val shortRows = cand
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
      col("v").as("__qv"))
    val minExcluded = embs
      .select(col("vec_id").as("corpus_id"), col("v").as("__cv"))
      .crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .join(shortRows, Seq("query_id", "corpus_id"), "left_anti")
      .withColumn("dist",
        vecDot(col("__cv"), col("__cv"))
          - lit(2.0) * vecDot(col("__cv"), col("__qv"))
          + vecDot(col("__qv"), col("__qv")))
      .groupBy("query_id").agg(min(col("dist")).as("min_excl"))
    val covered = reranked.groupBy("query_id")
      .agg(max(col("dist")).as("max_kept"))
      .join(minExcluded, Seq("query_id"), "left")
      .filter(col("min_excl").isNotNull && col("max_kept") >= col("min_excl"))
      .count()
    require(covered == 0,
      s"ADC shortlist ($shortlist) missed part of the exact top-10 — retune the twin")
    reranked.select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Binary (1-bit sign) embedding quantization + Hamming top-k — the
    * 32×-compression ANN scan every current vector store ships. Unlike
    * the float-scored ANN gates this one is EXACT integer arithmetic
    * end to end (sign bits → packed 64-bit words → XOR + popcount →
    * ties to corpus_id), so DuckDB replays the complete ranking and the
    * gate is hash-green with no approximation caveat. Quality vs float
    * cosine is pinned separately in SimilaritySpec.
    */
  val emb_binary_topk = OpQuery(
    "emb_binary_topk",
    """WITH sig AS (
      |  SELECT vec_id,
      |         list_transform(
      |           generate_series(0, (len(embedding) - 1) // 32),
      |           w -> list_sum(list_transform(
      |                  generate_series(0, 31),
      |                  i -> CASE WHEN 32 * w + i < len(embedding)
      |                             AND embedding[32 * w + i + 1] > 0
      |                        THEN (CAST(1 AS BIGINT) << i)
      |                        ELSE CAST(0 AS BIGINT) END))) AS s
      |  FROM embeddings
      |), pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |         list_sum(list_transform(
      |           generate_series(1, len(q.s)),
      |           j -> bit_count(xor(q.s[j], c.s[j])))) AS hamming
      |  FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 8
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |              ORDER BY hamming ASC, corpus_id ASC) AS INT) AS rank,
      |         CAST(hamming AS BIGINT) AS hamming
      |  FROM pairs)
      |SELECT query_id, corpus_id, rank, hamming
      |FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    import graft.operators.Similarity
    val emb = t(spark, dir, "embeddings")
    Similarity.signBitTopK(emb, emb.filter(col("vec_id") < 8), k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Top-3 principal components through the DEFAULT entry point —
    * which, at d = 64, width-dispatches to the ONE-SCAN Gram path
    * ([[graft.operators.Similarity.topPrincipalComponentsGram]];
    * VERDICT r9 item 1: this gate previously pinned the 36-scan
    * multi-pass walk as the production recipe while the repo's own
    * StressGramScale measured the one-scan path 17× faster — the gate
    * now pins what a 100 TB pipeline should actually run; the
    * multi-pass arithmetic stays pinned by `emb_pca_quantized`). The
    * oracle replays the ENTIRE walk in DuckDB off its own pair-joined
    * Gram matrix ([[GramWalkSql]]): 1dp input quantization makes G
    * exact-integer on both engines, every walk step's G_jk·v_k
    * contribution rounds to 9dp and sums in DECIMAL
    * (order-independent), and the projection deflation
    * w ← w − Σ (v_k·w) v_k is generated as explicit left-to-right
    * terms matching the driver's accumulation order — so eigenvalues
    * AND all 3 component vectors hash-match at 6 dp, and orthogonality
    * is checked by the oracle arithmetic itself (a drifted v₂ changes
    * every later coefficient). r = 3 keeps every per-dimension
    * projection sum at ≤ 2 IEEE-754 addends (bit-commutative); larger
    * r and gram≡multi-pass dispatch equality are PcaToprSpec territory.
    */
  val emb_pca_topr: OpQuery = {
    val iters = 12
    val r = 3
    // the walk CTEs (Gram / deflation / normalization / residual) live
    // in [[GramWalkSql]], shared with emb_whiten
    val finals = (0 until r).map { c =>
      s"""SELECT CAST($c AS INT) AS comp_idx, CAST(g.i - 1 AS INT) AS dim,
         |       CAST(ROUND(vv.v[CAST(g.i AS INT)], 6) AS DOUBLE) AS component,
         |       CAST(ROUND(vv.lambda, 3) AS DOUBLE) AS eigenvalue,
         |       (SELECT resid FROM res$c) < 0.1 AS converged
         |FROM v${c}_$iters vv,
         |     (SELECT unnest(range(1, (SELECT n FROM d) + 1)) AS i) g""".stripMargin
    }.mkString("\nUNION ALL\n")
    val sql = GramWalkSql.walk(r, iters) +
      "\n" + finals + "\nORDER BY comp_idx, dim"
    OpQuery("emb_pca_topr", sql) { (spark, dir) =>
      val emb = Tables.load(spark, dir, "embeddings")
        .select(transform(col("embedding").cast("array<double>"),
          y => round(y * 10, 0)).as("qv"))
      // the DEFAULT dispatcher — d = 64 ≤ GramEnvelopeDim routes to the
      // one-scan Gram path, which is exactly what the oracle replays
      val comps = graft.operators.Similarity.topPrincipalComponents(
        emb, "qv", r = r, iterations = iters, quantizeDp = 9)
      import spark.implicits._
      comps.zipWithIndex.flatMap { case ((lambda, v, resid), c) =>
        v.zipWithIndex.map { case (x, dimIdx) =>
          (c, dimIdx, x, lambda, resid < 0.1)
        }
      }.toDF("comp_idx", "dim", "component", "eigenvalue", "converged")
        .select(
          col("comp_idx").cast("int").as("comp_idx"),
          col("dim").cast("int").as("dim"),
          round(col("component"), 6).as("component"),
          round(col("eigenvalue"), 3).as("eigenvalue"),
          col("converged"))
        .orderBy("comp_idx", "dim")
    }
  }

  /** PCA whitening of the embedding corpus — the actual downstream USE
    * of the top-r components (`emb_pca_topr` pins the vectors; this
    * pins what a pipeline does with them): every (1dp-quantized)
    * embedding projected onto the 3 components and scaled by 1/√λ,
    * giving energy-normalized coordinates (Σ_rows z_c² = 1 per
    * component, since λ is the second-moment eigenvalue — asserted in
    * PcaToprSpec). Components come from the DEFAULT width-dispatched
    * entry point, i.e. the ONE-SCAN Gram path at d = 64 (VERDICT r9
    * item 1 — this gate was one of the two suite maxima while it ran
    * the 36-scan walk; the whole extraction is now a single corpus
    * read). The oracle replays the identical arithmetic: the shared
    * [[GramWalkSql]] walk produces comp0..comp2, both engines round
    * components to 6 dp and λ to 3 dp BEFORE projecting (so the
    * projection inputs are decimal-exact across engines), and the
    * per-row dot product is 64 double multiply-adds in index order
    * over EXACT-integer quantized coordinates. At 100 TB this plan is
    * one corpus scan for G, then one broadcast of an r×dim matrix and
    * a map-side zip_with per row — no shuffle at all.
    */
  val emb_whiten: OpQuery = {
    val iters = 12
    val r = 3
    val projections = (0 until r).map { c =>
      s"""SELECT vec_id, CAST($c AS INT) AS comp_idx,
         |       CAST(ROUND(list_dot_product(
         |              list_transform(q, y -> CAST(y AS DOUBLE)),
         |              (SELECT list_transform(v, y -> ROUND(y, 6)) FROM comp$c)) /
         |            sqrt((SELECT CAST(ROUND(lambda, 3) AS DOUBLE) FROM comp$c)),
         |            6) AS DOUBLE) AS z
         |FROM e""".stripMargin
    }.mkString("\nUNION ALL\n")
    val sql = GramWalkSql.walk(r, iters) +
      "\n" + projections + "\nORDER BY vec_id, comp_idx"
    OpQuery("emb_whiten", sql) { (spark, dir) =>
      val emb = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            y => round(y * 10, 0)).as("qv"))
      val comps = graft.operators.Similarity.topPrincipalComponents(
        emb, "qv", r = r, iterations = iters, quantizeDp = 9)
      // quantize EXACTLY as the oracle does (Spark round() and DuckDB
      // ROUND both round half away from zero), so the projection inputs
      // are identical decimals on both engines
      def q(x: Double, dp: Int): Double =
        BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
      comps.zipWithIndex.map { case ((lambda, v, _), c) =>
        val vLit = typedLit(v.map(q(_, 6)).toSeq)
        val dot = aggregate(zip_with(col("qv"), vLit, (a, b) => a * b),
          lit(0.0), (acc, y) => acc + y)
        emb.select(
          col("vec_id"),
          lit(c).cast("int").as("comp_idx"),
          round(dot / math.sqrt(q(lambda, 3)), 6).cast("double").as("z"))
      }.reduce(_ unionByName _)
        .orderBy(col("vec_id"), col("comp_idx"))
    }
  }

  /** One-pass Gram vs the declarative pair-join, both over 2dp-quantized
    * embeddings (|q| ≤ ~few hundred, so G entries stay far below 2⁵³ and
    * the accumulation is order-independent exact integer math on BOTH
    * engines). Output is the one-pass operator's matrix as (j, k, g)
    * rows; the oracle recomputes it as DuckDB's exploded self-join.
    */
  val emb_gram_onepass: OpQuery = OpQuery(
    "emb_gram_onepass",
    """WITH e AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding::DOUBLE[],
      |                        y -> CAST(ROUND(y * 100, 0) AS BIGINT)) AS q
      |  FROM embeddings),
      |x AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(q, 1) AS j, unnest(q) AS xj
      |  FROM e)
      |SELECT CAST(a.j - 1 AS INT) AS j, CAST(b.j - 1 AS INT) AS k,
      |       CAST(SUM(a.xj * b.xj) AS BIGINT) AS g
      |FROM x a JOIN x b USING (vec_id)
      |GROUP BY 1, 2
      |ORDER BY j, k""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val quantized = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          y => round(y * 100, 0)).as("qv"))
    // the one-pass operator under test (exact integer sums in double)
    val (g1, nRows) = Similarity.gramMatrixOnePass(quantized, "qv")
    require(nRows > 0, "embeddings table is empty")
    val dim = g1.length
    // exactness twin: the declarative explode-join form — the shape the
    // oracle replays. Deliberately quadratic in d (n·d² joined rows);
    // at scale only the one-pass operator runs, this form exists to
    // prove it exact.
    val xr = quantized
      .select(col("vec_id"),
        posexplode(col("qv")).as(Seq("j", "xj")))
    val g2 = xr.as("a").join(xr.as("b"), "vec_id")
      .groupBy(col("a.j").as("j"), col("b.j").as("k"))
      .agg(sum(col("a.xj") * col("b.xj")).cast("long").as("g"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    require(g2.size == dim * dim,
      s"declarative Gram has ${g2.size} entries, one-pass dim $dim")
    for (j <- 0 until dim; k <- 0 until dim) {
      val onePass = g1(j)(k)
      require(onePass == onePass.toLong.toDouble &&
          onePass.toLong == g2((j, k)),
        s"one-pass G($j,$k)=$onePass != declarative ${g2((j, k))}")
    }
    // output the ONE-PASS matrix — the oracle compares the operator
    // under test, not the twin (d² = 4096 rows, bounded by construction)
    val rows = for (j <- 0 until dim; k <- 0 until dim)
      yield (j, k, g1(j)(k).toLong)
    rows.toDF("j", "k", "g")
      .select(col("j").cast("int"), col("k").cast("int"), col("g"))
      .orderBy("j", "k")
  }

  /** End-to-end hash-reproducible PCA through the ONE-SCAN path: 1dp
    * integer quantization makes G exact (|q| ≤ ~40, so every product
    * and partial sum sits far below 2⁵³ even at sf0.1 row counts), and
    * the walk off G quantizes each G_jk·v_k contribution to 9dp and
    * sums in exact decimal — each contribution is ONE IEEE multiply
    * (bit-identical in any engine) of an exact integer by the current
    * iterate, so DuckDB replays the entire 8-iteration fixpoint from
    * its own pair-joined G. The companions: `emb_gram_onepass` pins the
    * G accumulation itself; `emb_pca_quantized` pins the same recipe on
    * the 36-scan distributed walk. Magnitude note: |q| ≤ ~40 and
    * ‖v‖ = 1 bound each contribution g·v_k by n·40² (8e5 at the
    * oracle's sf0.01, 8e6 at sf0.1), so ROUND(x, 9)'s ×1e9 scaling
    * stays below 2⁵³ (8e14 / 8e15 < 9.007e15) — the 1dp input
    * quantization (not 2dp) exists precisely for this headroom. Two
    * residual parity caveats shared by every ROUND-based oracle in this
    * suite, pinned empirically by the hash gate rather than provable:
    * a contribution landing tie-adjacent at the 9th decimal may round
    * differently (shortest-repr decimal vs binary scaling), and the
    * e1-start SQL walk has no probe-advance — data whose dimension 0 is
    * identically zero is outside the gate regime (the OPERATOR handles
    * it by advancing the start basis; the replay would NULL out).
    */
  val emb_pca_gram_quantized: OpQuery = {
    val iters = 8
    def step(name: String, vPrev: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT list(CAST(wd AS DOUBLE) ORDER BY j) AS w FROM (
         |    SELECT j,
         |           SUM(CAST(ROUND(g * (SELECT v FROM $vPrev)[k], 9)
         |             AS DECIMAL(38,9))) AS wd
         |    FROM gm GROUP BY j))""".stripMargin
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id,
        |         list_transform(embedding::DOUBLE[],
        |                        y -> CAST(ROUND(y * 10, 0) AS BIGINT)) AS q
        |  FROM embeddings),
        |x AS MATERIALIZED (
        |  SELECT vec_id, generate_subscripts(q, 1) AS j, unnest(q) AS xj
        |  FROM e),
        |gm AS MATERIALIZED (
        |  SELECT a.j AS j, b.j AS k, SUM(a.xj * b.xj) AS g
        |  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
        |d AS MATERIALIZED (SELECT MAX(j) AS n FROM gm),
        |v0 AS MATERIALIZED (SELECT list_transform(range(1, (SELECT n FROM d) + 1),
        |         i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
        |              ELSE CAST(0.0 AS DOUBLE) END) AS v)""".stripMargin
    val steps = (1 to iters).flatMap { i =>
      Seq(
        step(s"w$i", s"v${i - 1}"),
        s"""v$i AS MATERIALIZED (
           |  SELECT list_transform(w, y -> y / sqrt(list_dot_product(w, w))) AS v,
           |         sqrt(list_dot_product(w, w)) AS lambda
           |  FROM w$i)""".stripMargin)
    }
    val tail =
      Seq(step("wr", s"v$iters"),
        s"""diffs AS MATERIALIZED (
           |  SELECT list_transform(range(1, (SELECT n FROM d) + 1),
           |           i -> wr.w[i] - vv.lambda * vv.v[i]) AS dl,
           |         vv.lambda AS lambda
           |  FROM wr, v$iters vv)""".stripMargin,
        """res AS MATERIALIZED (
          |  SELECT sqrt(list_dot_product(dl, dl)) / lambda AS resid FROM diffs)""".stripMargin)
    val sql = (Seq(base) ++ steps ++ tail).mkString(",\n") +
      s"""
         |SELECT CAST(g.i - 1 AS INT) AS dim,
         |       CAST(ROUND(vv.v[CAST(g.i AS INT)], 6) AS DOUBLE) AS component,
         |       CAST(ROUND(vv.lambda, 3) AS DOUBLE) AS eigenvalue,
         |       (SELECT resid FROM res) < 0.05 AS converged
         |FROM v$iters vv,
         |     (SELECT unnest(range(1, (SELECT n FROM d) + 1)) AS i) g
         |ORDER BY dim""".stripMargin
    OpQuery("emb_pca_gram_quantized", sql) { (spark, dir) =>
      val quantized = Tables.load(spark, dir, "embeddings")
        .select(transform(col("embedding").cast("array<double>"),
          y => round(y * 10, 0)).as("qv"))
      val Seq((lambda, v, resid)) = graft.operators.Similarity
        .topPrincipalComponentsGram(quantized, "qv", r = 1,
          iterations = iters, quantizeDp = 9)
      import spark.implicits._
      v.zipWithIndex.toSeq.toDF("component", "dim")
        .select(
          col("dim").cast("int").as("dim"),
          round(col("component"), 6).as("component"),
          round(lit(lambda), 3).as("eigenvalue"),
          lit(resid < 0.05).as("converged"))
        .orderBy("dim")
    }
  }

  /** Pearson correlation matrix of all 64 embedding dimensions in ONE
    * corpus scan — the feature-correlation analysis a training pipeline
    * runs before whitening/pruning, off the same momentsOnePass core as
    * the Gram gate. Hash-exact by integer arithmetic: covariance
    * numerators n·G_jk − S_j·S_k are exact BIGINTs on both engines (no
    * division until the very end; n counts NON-NULL vectors on both
    * sides), and IEEE sqrt/divide on identical exact inputs are
    * correctly rounded, so the pre-round correlations are bit-identical
    * doubles — the final ROUND(·, 6) carries the suite's standard
    * tie-adjacent residual risk, pinned by the hash gate on this data.
    * Zero-variance dims emit NULL on both sides (NULLIF / NaN-to-null).
    */
  val emb_corr_matrix: OpQuery = OpQuery(
    "emb_corr_matrix",
    """WITH e AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding::DOUBLE[],
      |                        y -> CAST(ROUND(y * 10, 0) AS BIGINT)) AS q
      |  FROM embeddings),
      |x AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(q, 1) AS j, unnest(q) AS xj
      |  FROM e),
      |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM e WHERE q IS NOT NULL),
      |s AS MATERIALIZED (SELECT j, SUM(xj) AS sx FROM x GROUP BY j),
      |gm AS MATERIALIZED (
      |  SELECT a.j AS j, b.j AS k, SUM(a.xj * b.xj) AS g
      |  FROM x a JOIN x b USING (vec_id)
      |  WHERE a.j <= b.j
      |  GROUP BY 1, 2),
      |c AS MATERIALIZED (
      |  SELECT gm.j, gm.k,
      |         CAST((SELECT n FROM nn) * gm.g - sj.sx * sk.sx AS DOUBLE) AS cn
      |  FROM gm
      |  JOIN s sj ON sj.j = gm.j
      |  JOIN s sk ON sk.j = gm.k),
      |d AS MATERIALIZED (SELECT j, sqrt(cn) AS sd FROM c WHERE j = k)
      |SELECT CAST(c.j - 1 AS INT) AS j, CAST(c.k - 1 AS INT) AS k,
      |       CAST(ROUND(c.cn / NULLIF(dj.sd * dk.sd, 0), 6) AS DOUBLE) AS corr
      |FROM c
      |JOIN d dj ON dj.j = c.j
      |JOIN d dk ON dk.j = c.k
      |WHERE c.j < c.k
      |ORDER BY j, k""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val quantized = Tables.load(spark, dir, "embeddings")
      .select(transform(col("embedding").cast("array<double>"),
        y => round(y * 10, 0)).as("qv"))
    val (corr, nRows) = Similarity.correlationMatrixOnePass(quantized, "qv")
    require(nRows > 0, "embeddings table is empty")
    val dim = corr.length
    // upper triangle (diagonal is identically 1); NaN (zero-variance
    // dim) → NULL, mirroring the oracle's NULLIF. d² bounded rows.
    val rows = for (j <- 0 until dim; k <- (j + 1) until dim)
      yield (j, k,
        if (corr(j)(k).isNaN) None else Some(corr(j)(k)))
    rows.toDF("j", "k", "corr_raw")
      .select(col("j").cast("int"), col("k").cast("int"),
        round(col("corr_raw"), 6).as("corr"))
      .orderBy("j", "k")
  }

  /** Top-3 components by quantized block power iteration, hash-replayed
    * end-to-end: [[BlockWalkSql]] regenerates every pass (per-row
    * contributions rounded to 9dp and summed in DECIMAL —
    * order-independent), the classical Gram–Schmidt
    * re-orthonormalization (coefficients from the Gram output against
    * the same iteration's earlier columns; ≤ 2 IEEE addends per
    * per-dimension correction at r = 3), and the final-pass Rayleigh
    * eigenvalues / full-operator residuals. The gate runs the RAW
    * embeddings (the same regime as `emb_pca_quantized`): each
    * contribution is one IEEE multiply, bit-identical in any engine,
    * so the truncated 3-iteration
    * walk replays exactly (VERDICT r10 item 7: the 8-iteration gate
    * spent 3% of the suite re-proving an already-stationary subspace —
    * the oracle replays whatever length the gate runs, and convergence
    * semantics live in PcaBlockSpec's early-exit pin, not here). Block≡deflation
    * component parity and the iterations-not-r·iterations scan count
    * are PcaBlockSpec territory.
    */
  val emb_pca_block: OpQuery = {
    val iters = 3
    val r = 3
    val finals = (0 until r).map { c =>
      s"""SELECT CAST($c AS INT) AS comp_idx, CAST(g.i - 1 AS INT) AS dim,
         |       CAST(ROUND(cc.v[CAST(g.i AS INT)], 6) AS DOUBLE) AS component,
         |       CAST(ROUND(cc.lambda, 3) AS DOUBLE) AS eigenvalue,
         |       (SELECT resid FROM res$c) < 0.1 AS converged
         |FROM comp$c cc,
         |     (SELECT unnest(range(1, (SELECT n FROM d) + 1)) AS i) g""".stripMargin
    }.mkString("\nUNION ALL\n")
    val sql = BlockWalkSql.walk(r, iters) +
      "\n" + finals + "\nORDER BY comp_idx, dim"
    OpQuery("emb_pca_block", sql) { (spark, dir) =>
      val emb = Tables.load(spark, dir, "embeddings")
      val comps = graft.operators.Similarity.topPrincipalComponentsBlock(
        emb, "embedding", r = r, iterations = iters, quantizeDp = 9)
      import spark.implicits._
      comps.zipWithIndex.flatMap { case ((lambda, v, resid), c) =>
        v.zipWithIndex.map { case (x, dimIdx) =>
          (c, dimIdx, x, lambda, resid < 0.1)
        }
      }.toDF("comp_idx", "dim", "component", "eigenvalue", "converged")
        .select(
          col("comp_idx").cast("int").as("comp_idx"),
          col("dim").cast("int").as("dim"),
          round(col("component"), 6).as("component"),
          round(col("eigenvalue"), 3).as("eigenvalue"),
          col("converged"))
        .orderBy("comp_idx", "dim")
    }
  }

  /** JL ±1 random projection of the (10×-quantized) embeddings to k=8:
    * the sign matrix derives per-entry from md5 hex parity, so DuckDB
    * regenerates the identical matrix and replays the projection
    * exactly — integer inputs keep every inner sum exact. Spark runs it
    * as a PURE MAP-SIDE expression (broadcast literals in codegen, one
    * scan, zero shuffle); the oracle states the same algebra as an
    * explode-join. Execution-shape twin of `emb_random_projection`
    * (above), which shuffles n·d·k exploded rows through a keyed
    * aggregate — this gate is the shuffle-free form of the same
    * operator (see [[graft.operators.RandomProjection]]).
    */
  val emb_rand_proj: OpQuery = {
    val dim = 64
    val k = 8
    OpQuery("emb_rand_proj",
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding::DOUBLE[], x -> ROUND(x * 10, 0)) AS qv
         |  FROM embeddings
         |), ex AS (
         |  SELECT vec_id, generate_subscripts(qv, 1) - 1 AS j, unnest(qv) AS x
         |  FROM q
         |), signs AS MATERIALIZED (
         |  SELECT j, k,
         |    CASE WHEN substr(md5('rp:' || CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 1)
         |      IN ('0','2','4','6','8','a','c','e')
         |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS s
         |  FROM (SELECT unnest(range(0, $dim)) AS j),
         |       (SELECT unnest(range(0, $k)) AS k)
         |), proj AS (
         |  SELECT e.vec_id, s.k AS proj_dim, SUM(e.x * s.s) AS v
         |  FROM ex e JOIN signs s ON e.j = s.j
         |  GROUP BY e.vec_id, s.k
         |)
         |SELECT vec_id, CAST(proj_dim AS INT) AS proj_dim,
         |  CAST(TRUNC(v) AS BIGINT) AS pv
         |FROM proj ORDER BY vec_id, proj_dim""".stripMargin) { (spark, dir) =>
      val m = RandomProjection.signMatrix(dim, k, "rp")
      // quantize in its OWN projection: projectExpr references its input
      // k+2 times, and interpreted lambdas share no subexpressions — an
      // inline transform would re-quantize the vector once per output
      // dim (CollapseProject keeps a non-cheap multi-referenced alias
      // in its own Project, so this split survives optimization)
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => round(x * 10, 0)).as("qv"))
        .select(col("vec_id"),
          posexplode(RandomProjection.projectExpr(col("qv"), m))
            .as(Seq("proj_dim", "v")))
        .select(col("vec_id"), col("proj_dim").cast("int").as("proj_dim"),
          col("v").cast("long").as("pv"))
        .orderBy("vec_id", "proj_dim")
    }
  }

  /** An existing ANN entry point driven END-TO-END over STRING ids
    * through the dense-id helper (VERDICT r10 item 5's second half):
    * keys 'v:<n>' are dictionary-encoded, mined through the integral-id
    * [[graft.operators.Similarity.bruteForceTopK]] (which REFUSES
    * string ids), and decoded back — the oracle computes the same
    * top-3 directly over the string keys. Rank ties break on the dense
    * id, which is monotone in the string key by construction, so the
    * two tie-break orders agree.
    */
  val sim_topk_string_ids: OpQuery = OpQuery("sim_topk_string_ids",
    """WITH q AS (
      |  SELECT 'v:' || CAST(vec_id AS VARCHAR) AS qkey, embedding::DOUBLE[] AS qvec
      |  FROM embeddings WHERE vec_id % 16 = 0 AND vec_id < 1280
      |), scored AS (
      |  SELECT q.qkey, 'v:' || CAST(e.vec_id AS VARCHAR) AS ckey,
      |         list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) AS score
      |  FROM embeddings e, q
      |  WHERE 'v:' || CAST(e.vec_id AS VARCHAR) <> q.qkey
      |), ranked AS (
      |  SELECT qkey, ckey,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qkey
      |              ORDER BY score DESC, ckey ASC) AS INT) AS rank,
      |         score
      |  FROM scored
      |)
      |SELECT qkey AS query_key, ckey AS corpus_key, rank,
      |       CAST(ROUND(score, 6) AS DOUBLE) AS score
      |FROM ranked WHERE rank <= 3
      |ORDER BY query_key, rank""".stripMargin) { (spark, dir) =>
    import graft.operators.{DenseIds, Similarity}
    val stringKeyed = Tables.load(spark, dir, "embeddings")
      .select(concat(lit("v:"), col("vec_id").cast("string")).as("key"),
        col("embedding"))
    val (encoded, mapping) = DenseIds.withDenseIds(stringKeyed, "key", "vec_id")
    val corpus = encoded.select(col("vec_id"), col("embedding"))
    // query selection parses the numeric tail of the STRING key — the
    // gate's inputs never touch the original vec_id column
    // query set BOUNDED (round-12 sf1 flag, e = 1.39 at 10x: a %-16
    // slice scales the query count with the corpus, so brute-force work
    // grew as n^2/16 — fixture design, not the operator); 80 queries
    // fixed, corpus still sf-scaled, work linear in n
    val queries = encoded
      .filter(substring(col("key"), 3, 18).cast("long") % 16 === 0 &&
        substring(col("key"), 3, 18).cast("long") < 1280)
      .select(col("vec_id"), col("embedding"))
    val topk = Similarity.bruteForceTopK(corpus, queries, k = 3)
    val decoded = DenseIds.decode(
      DenseIds.decode(topk, mapping, "query_id", "vec_id", "key", "query_key"),
      mapping, "corpus_id", "vec_id", "key", "corpus_key")
    decoded.select(col("query_key"), col("corpus_key"), col("rank"),
        round(col("score"), 6).cast("double").as("score"))
      .orderBy("query_key", "rank")
  }

  /** Matryoshka evaluation: how much of the FULL-dimension top-5 does
    * a 16-of-64 prefix-dimension ranking retain, per query — the
    * measurement behind the truncate-don't-retrain embedding trade
    * (prefix dims cost 4× less scan/shuffle bandwidth at serve time).
    * Both rankings and the overlap are replayed exactly by DuckDB
    * (list slicing + the same (score desc, id asc) tie order the
    * engine's top-k heap uses).
    */
  val emb_matryoshka_prefix: OpQuery = OpQuery("emb_matryoshka_prefix",
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id % 16 = 0),
      |fullr AS (
      |  SELECT q.query_id, e.vec_id AS corpus_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.query_id
      |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
      |               e.vec_id ASC) AS rank
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      |prefr AS (
      |  SELECT q.query_id, e.vec_id AS corpus_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.query_id
      |      ORDER BY list_cosine_similarity((e.embedding::DOUBLE[])[1:16],
      |                                      q.qv[1:16]) DESC,
      |               e.vec_id ASC) AS rank
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
      |SELECT q.query_id, CAST(COALESCE(o.c, 0) AS INT) AS n_overlap
      |FROM q LEFT JOIN (
      |  SELECT f.query_id, COUNT(*) AS c
      |  FROM fullr f JOIN prefr p
      |    ON f.query_id = p.query_id AND f.corpus_id = p.corpus_id
      |  WHERE f.rank <= 5 AND p.rank <= 5
      |  GROUP BY f.query_id) o ON q.query_id = o.query_id
      |ORDER BY q.query_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") % 16 === 0)
    val prefix = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val full = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val pref = Similarity.bruteForceTopK(prefix,
        prefix.filter(col("vec_id") % 16 === 0), k = 5)
      .select(col("query_id"), col("corpus_id"))
    val overlap = full.join(pref, Seq("query_id", "corpus_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("c"))
    queries.select(col("vec_id").as("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("c"), lit(0L)).cast("int").as("n_overlap"))
      .orderBy("query_id")
  }

  /** Incremental IVF append == one-shot rebuild, end to end: build the
    * persisted index on the FIRST HALF of the corpus, append the second
    * half as a later-day batch ([[AnnIndex.append]] — frozen centroids,
    * partition-aligned copy-on-write of only the touched cells), and
    * serve the same query batch as `sim_ivf_persisted`.
    *
    * The centroid seed is the first 16 vectors by id
    * ([[graft.operators.Similarity.centroids]]), and the first half
    * contains all 16 — so the frozen coarse quantizer of the
    * incremental index IS the quantizer a one-shot full build selects,
    * and append-then-search must equal build-everything-then-search bit
    * for bit. Pinned twice: an in-gate REQUIRE diffs the served results
    * against a one-shot full index (both directions, zero rows), and
    * the DuckDB oracle replays the full-corpus IVF math — the SAME
    * oracle `sim_ivf_persisted` hash-matches, so any divergence the
    * append path introduced (stale rows, double rows, drifted cells)
    * hash-fails here.
    */
  val sim_ivf_append = OpQuery(
    "sim_ivf_append",
    """WITH cents AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cell_id,
      |         embedding::DOUBLE[] AS centroid
      |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
      |), assigned AS (
      |  SELECT vec_id, embedding, cell_id FROM (
      |    SELECT e.vec_id, e.embedding, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |             ORDER BY -list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT query_id, qvec, cell_id FROM (
      |    SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qvec, c.cell_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |             ORDER BY -list_cosine_similarity(q.embedding::DOUBLE[], c.centroid) ASC,
      |                      c.cell_id ASC) AS rn
      |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 8)
      |  WHERE rn <= 4
      |), scored AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id,
      |         list_cosine_similarity(a.embedding::DOUBLE[], p.qvec) AS score
      |  FROM assigned a JOIN probes p ON p.cell_id = a.cell_id
      |  WHERE a.vec_id <> p.query_id
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |              ORDER BY score DESC, corpus_id ASC) AS INT) AS rank,
      |         score
      |  FROM scored)
      |SELECT query_id, corpus_id, rank, CAST(ROUND(score, 6) AS DOUBLE) AS score
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    // the split point only has to keep the 16 centroid-seed vectors in
    // the base slice; median-ish keeps both slices corpus-sized
    val half = emb.agg(
      expr("percentile_approx(vec_id, 0.5, 100000)")).head().getLong(0)
    val base = emb.filter(col("vec_id") <= half)
    val batch = emb.filter(col("vec_id") > half)
    val root = GateScratch.dir("graft-annappend-").toString
    val store = new TableStore(spark, root)
    AnnIndex.build(store, "emb_inc", base, numCells = 16)
    // reopen from disk, as a later ingest session would, then append
    val idx = AnnIndex.open(store, "emb_inc")
    AnnIndex.append(idx, batch)
    val queries = emb.filter(col("vec_id") < 8)
    // freeze both search results (queries×k rows — tiny): the equality
    // REQUIRE and the gate output otherwise re-ran each probe-join
    // search per action (served was evaluated 3x, oneShot 2x)
    val served = AnnIndex.search(idx, queries, k = 5, nprobe = 4)
      .transform(Freeze.lazily)
    // rebuild-equality REQUIRE: a one-shot index over the full corpus
    // (same centroid rule — seed ids all in `base`) must serve the
    // exact same rows
    AnnIndex.build(store, "emb_full", emb, numCells = 16)
    val oneShot = AnnIndex.search(
        AnnIndex.open(store, "emb_full"), queries, k = 5, nprobe = 4)
      .transform(Freeze.lazily)
    val diff = served.exceptAll(oneShot)
      .union(oneShot.exceptAll(served)).count()
    require(diff == 0,
      s"sim_ivf_append: append-then-search diverged from one-shot " +
        s"rebuild by $diff rows — frozen-centroid append is broken")
    served
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF cell REBALANCE (VERDICT r12 item 6): build a deliberately
    * under-celled index (4 cells over the corpus), split every
    * oversized cell with [[AnnIndex.rebalance]] (local re-Lloyd,
    * O(split-cell rows)), and serve a FULL-PROBE search over the
    * rebalanced index — with every cell probed, IVF is exactly brute
    * force whatever the assignment, so the DuckDB brute-force oracle
    * pins that the rebalance lost, duplicated, or corrupted nothing.
    * Structure is REQUIREd in-gate: more cells than before, no split
    * cell surviving, max cell strictly smaller, postings count
    * unchanged. Partial-probe recall and untouched-partition
    * byte-identity are pinned in AnnIndexSpec.
    */
  val sim_ivf_rebalance: OpQuery = OpQuery(
    "sim_ivf_rebalance",
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 8
      |), scored AS (
      |  SELECT q.query_id, e.vec_id AS corpus_id,
      |         list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) AS score
      |  FROM embeddings e, q
      |  WHERE e.vec_id <> q.query_id
      |), ranked AS (
      |  SELECT query_id, corpus_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id ASC) AS INT) AS rank,
      |         score
      |  FROM scored
      |)
      |SELECT query_id, corpus_id, rank, CAST(ROUND(score, 6) AS DOUBLE) AS score
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val n = emb.count()
    val store = new TableStore(spark, GateScratch.dir("graft-annreb-").toString)
    AnnIndex.build(store, "emb_reb", emb, numCells = 4)
    val h = AnnIndex.open(store, "emb_reb")
    val beforeCells = h.centroids.count()
    val beforeMax = h.postings.groupBy(col("cell_id")).count()
      .agg(max(col("count"))).head().getLong(0)
    val splitAt = n / 5 // 4 cells over n rows: at least one cell exceeds n/5
    AnnIndex.rebalance(h, maxCellSize = splitAt, subCells = 2)
    val afterCells = h.centroids.count()
    val afterSizes = h.postings.groupBy(col("cell_id")).count()
      .agg(max(col("count")), sum(col("count"))).head()
    require(afterCells > beforeCells,
      s"sim_ivf_rebalance: cell count $beforeCells -> $afterCells — nothing split")
    require(afterSizes.getLong(1) == n,
      s"sim_ivf_rebalance: postings count drifted ${afterSizes.getLong(1)} != $n")
    require(afterSizes.getLong(0) < beforeMax,
      s"sim_ivf_rebalance: max cell ${afterSizes.getLong(0)} not below $beforeMax")
    val served = AnnIndex.search(h, emb.filter(col("vec_id") < 8), k = 5,
      nprobe = afterCells.toInt)
    served
      .withColumn("score", round(col("score"), 6).cast("double"))
      .orderBy(col("query_id"), col("rank"))
  }

  val all: Seq[OpQuery] = Seq(
    sim_topk_bruteforce, sim_neardup_embedding, sim_ivf_topk,
    sim_topk_quantized, sim_lsh_neardup, emb_class_stats, emb_outliers,
    emb_random_projection, emb_pca_power, sim_mips_topk, emb_dedup_exact,
    sim_knn_graph, sim_recall_report, sim_threshold_curve,
    sim_rerank_two_stage, sim_ann_pq, sim_centroid_classifier, sim_silhouette,
    sim_mmr, emb_quantize, sim_lsh_verified, emb_pca_quantized,
    sim_ivf_persisted, sim_ivf_persisted_q8, sim_pq_adc_fixed, sim_pq_topk,
    sim_pq_rerank, sim_pq_persisted, sim_pq_residual, sim_pq_serve_bulk,
    sim_pq_rerank_verified, emb_binary_topk, emb_pca_topr, emb_whiten,
    emb_gram_onepass, emb_pca_gram_quantized, emb_corr_matrix, emb_pca_block,
    emb_rand_proj, sim_topk_string_ids, emb_matryoshka_prefix, sim_ivf_append,
    sim_ivf_rebalance)
}
