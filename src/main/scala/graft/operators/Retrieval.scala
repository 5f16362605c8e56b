package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Lexical retrieval scoring over the corpus — BM25, the bar every
  * hybrid-search / hard-negative-mining pipeline starts from. Stated
  * relationally (token explode → tf/df aggregates → score join) so
  * Catalyst owns distribution and the DuckDB oracle replays it exactly.
  *
  * Scale: tf is one shuffle keyed by (doc, term) over the exploded
  * match stream (already filtered to query terms, so state is bounded
  * by matching docs × query size); df is a term-sized aggregate
  * broadcast into the score, avgdl a scalar; the doc-length join is
  * corpus-sized and stays distributed.
  */
object Retrieval {

  /** BM25 scores for `queryTerms` against every document containing at
    * least one term. Output: (doc_id, n_matched_terms, score) with
    * score rounded to 6 decimals (ln parity bound).
    */
  def bm25(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty,
      "bm25 needs at least one query term — an empty query would still scan the corpus")
    val toks = docs.select(
      col(idCol).as("doc_id"),
      TextFunctions.tokens(lower(col(textCol))).as("t"))
    // tokenCount semantics: empty/whitespace docs have dl = 0, not the
    // phantom [""] token's 1 — a blank-doc cohort must not skew avgdl
    val lens = toks.select(col("doc_id"),
        when(col("t").isNull ||
          (size(col("t")) === 1 && element_at(col("t"), 1) === ""), lit(0.0))
          .otherwise(size(col("t")).cast("double")).as("dl"))
      .transform(Freeze.eager)
    val n = lens.count()
    val avgdlRow = lens.agg(avg(col("dl"))).first()
    if (avgdlRow.isNullAt(0)) // empty corpus: empty scores, not an NPE
      return lens.select(col("doc_id"),
        lit(0L).as("n_matched_terms"), lit(0.0).as("score")).limit(0)
    val avgdl = avgdlRow.getDouble(0)
    val matches = toks
      .select(col("doc_id"), explode(col("t")).as("term"))
      .filter(col("term").isInCollection(queryTerms))
    val tf = matches.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val idf: Column = log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1d)
    // df broadcasts (term-sized); lens joins on doc_id — corpus-sized,
    // so it stays a distributed join (AQE picks the strategy)
    tf.join(broadcast(df), Seq("term"))
      .join(lens, Seq("doc_id"))
      .withColumn("term_score",
        idf * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_matched_terms"),
        round(sum(col("term_score")), 6).cast("double").as("score"))
  }

  // ------------------------------------------- feature hashing
  /** Signed feature hashing (the "hashing trick", Weinberger et al.):
    * every token hashes to one of `dim` buckets with a ±1 sign from a
    * second hash, giving a fixed-width, VOCABULARY-FREE document vector
    * — the featurizer that needs no dictionary build, no term-id join,
    * and no growth as the corpus grows, which is why it's the default
    * first featurizer at 100 TB. Signed counting makes collisions
    * cancel in expectation instead of biasing upward.
    *
    * Hash = the first 8 hex chars of md5 (bucket) and the 9th's parity
    * (sign) — chosen over xxhash64 deliberately: md5 and hex slicing
    * exist in DuckDB, so the gate pins every bucket and sign exactly.
    *
    * Output: (id, vector ARRAY<BIGINT> of length dim, nnz, l1) — an
    * integer vector ready for [[Similarity]] / [[Pq]] consumption
    * (cast to double downstream). Plan shape: explode + ONE shuffle on
    * (id, bucket) + dense reassembly per doc via map lookup — no
    * vocabulary state anywhere.
    */
  def hashedFeatures(
      docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0 && dim <= 65536, s"bad feature-hash dim $dim")
    val toks = docs.select(
      col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("h", md5(col("tok")))
      .withColumn("b", conv(substring(col("h"), 1, 8), 16, 10).cast("long") % dim)
      .withColumn("s",
        when(conv(substring(col("h"), 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L))
    val cells = toks.groupBy(col(idCol), col("b"))
      .agg(sum(col("s")).as("v"))
      .filter(col("v") =!= 0) // exact cancellations drop out of nnz
    val pairs = cells.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("b"), col("v")))).as("mv"),
        count(lit(1)).as("nnz"),
        sum(abs(col("v"))).as("l1"))
    docs.select(col(idCol))
      .join(pairs, Seq(idCol), "left")
      .select(
        col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("mv"), i.cast("long")), lit(0L))).as("vector"),
        coalesce(col("nnz"), lit(0L)).cast("int").as("nnz"),
        coalesce(col("l1"), lit(0L)).as("l1"))
  }
}
