package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-trained n-gram language-model scoring — the relational form of
  * the KenLM-style quality filter every pretraining pipeline runs: train
  * bigram counts over the corpus, score each document by its mean token
  * log-likelihood, drop the tail. Everything is joins and aggregates, so
  * Catalyst plans it and the DuckDB oracle can replicate it exactly.
  *
  * Scale: the model tables shuffle on (w1[, w2]) — corpus-bounded, not
  * doc-bounded. At 100 TB the model would be pruned to its head (e.g.
  * via [[graft.expressions.FreqSketchAggregate]] heavy hitters) and
  * broadcast; the scoring join is then map-only. The smoothing keeps
  * unseen bigrams finite either way.
  */
object LanguageModel {

  /** (doc_id, w1, w2) — consecutive lowercased whitespace-token pairs. */
  def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = TextFunctions.tokens(lower(col(textCol)))
    docs
      .select(col(idCol).as("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), size(col("t")) - 2),
          i => struct(
            element_at(col("t"), i + 1).as("w1"),
            element_at(col("t"), i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
  }

  /** Mean bigram log-likelihood per document under the add-one-smoothed
    * model trained on the SAME corpus:
    * `P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)`, with `c(w1)` the
    * left-context total and `V` the corpus vocabulary size. Documents
    * with fewer than two tokens score NULL (no bigrams). Output:
    * (doc_id, n_bigrams, lm_score), score rounded to 6 decimals
    * (ln parity bound with the oracle engine).
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = bigrams(docs, idCol, textCol).transform(Freeze.eager)
    val cwp = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val cw = cwp.groupBy(col("w1")).agg(sum(col("c")).as("cw"))
    val vocab = docs
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
      // empty/whitespace docs tokenize to [""] — the phantom must not
      // count as a vocabulary word and shift every smoothed probability
      .filter(col("w") =!= "")
      .agg(countDistinct(col("w"))).first().getLong(0)
    docs.select(col(idCol).as("doc_id"))
      .join(bg, Seq("doc_id"), "left")
      .join(cwp, Seq("w1", "w2"), "left")
      .join(cw, Seq("w1"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("w1")).as("n_bigrams"),
        round(avg(log((col("c") + 1d) / (col("cw") + lit(vocab.toDouble)))), 6)
          .cast("double").as("lm_score"))
  }
}
