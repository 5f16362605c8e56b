package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines, each designed
  * around its 100 TB shuffle profile:
  *
  *  - exact:     one hash-shuffle on a 128-bit fingerprint (the optimal
  *               plan — nothing beats a single shuffle for exact dedup)
  *  - minhash:   LSH banding so candidate generation shuffles on band
  *               buckets (tiny keys), never on document pairs; the O(n²)
  *               pair space is touched only inside buckets
  *  - simhash:   pigeonhole banding over a 64-bit signature for
  *               hamming-distance candidates, same bucket-join shape
  *  - ngram:     exact jaccard via inverted-index self-join — correct but
  *               quadratic in the worst case; the small-data oracle that
  *               validates the sketch-based paths
  *  - embedding: cosine near-dup via [[Similarity]] — see there
  */
object Dedup {

  // -------------------------------------------------------------- exact
  /** Exact dedup on normalized content: keep the smallest id per
    * fingerprint. Returns the surviving rows.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("fingerprint").orderBy(col(idCol).asc)
    df.withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .withColumn("keep_rn", row_number().over(w))
      .filter(col("keep_rn") === 1)
      .drop("keep_rn")
  }

  /** Exact-dup audit: every fingerprint with its group size and elected
    * survivor (smallest id). Filter `n_docs > 1` for duplicates only —
    * the unfiltered form is the gate contract (dedup_exact oracle).
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("keeper_id"))

  // ------------------------------------------------------------- jaccard
  /** Exact token-set jaccard pairs ≥ threshold, via PREFIX-FILTERED
    * inverted index (PPJoin-style, exact — no false negatives):
    *
    *  1. tokens get a global canonical order (xxhash64 — computable
    *     map-side; see the order-choice note in the body);
    *  2. each doc indexes only its PREFIX — the first
    *     |A| − ⌈t·|A|⌉ + 1 tokens in that order. Two sets with
    *     J ≥ t must intersect within both prefixes (missing the whole
    *     prefix of A caps the intersection at ⌈t·|A|⌉ − 1 < t·|A| ≤
    *     t·|A∪B|), so candidate generation over prefix postings is
    *     lossless;
    *  3. candidates (already length-filtered: J ≥ t forces
    *     min(|A|,|B|) ≥ t·max(|A|,|B|)) are verified with the exact
    *     jaccard over the full token arrays.
    *
    * Scale: at t = 0.9 the prefix is ~10% of each doc, so every posting
    * list shrinks ~10× and the candidate pair space ~100× vs the full
    * inverted-index join. Shuffles: ONE prefix join on tokens + ONE
    * verify join on doc id — the canonical order is computed map-side
    * (see body), so this is strictly fewer shuffles than the naive
    * join. (The unfiltered form survives as [[ngramJaccardPairsNaive]],
    * the spec's cross-check that the filter loses nothing.)
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // canonical order = (xxhash64(token), token): ANY global total order
    // makes the prefix filter lossless, and a hash order is computable
    // entirely MAP-SIDE (sort each doc's array inside the scan
    // projection) — no token-frequency shuffle, no per-doc re-sort
    // shuffle. Frequency-ascending order would prune slightly better
    // (hot tokens never enter a prefix) at the price of two extra
    // full-token shuffles; measured at sf0.1 the shuffles cost more
    // than the extra candidates (hash order still shrinks every
    // posting list by the prefix fraction, ~10× at t = 0.9).
    graft.expressions.ArrayExprs.register(df.sparkSession)
    // two per-doc orders, both map-side: `ts` in hash order feeds the
    // prefix filter (uniform prefix membership); `ts_lex` in string
    // order feeds the native two-pointer verify (sorted_intersect_size
    // needs the comparator's order; same token SET, so jaccard is
    // unchanged)
    val sorted = df.select(
        col(idCol).as("doc_id"),
        transform(
          array_sort(transform(
            TextFunctions.distinctTokens(col(textCol)),
            t => struct(xxhash64(t).as("h"), t.as("tok")))),
          s => s.getField("tok")).as("ts"),
        array_sort(TextFunctions.distinctTokens(col(textCol))).as("ts_lex"))
      .select(col("doc_id"), col("ts"), col("ts_lex"), size(col("ts")).as("set_size"))
      .transform(Freeze.eager)
    // prefix length |A| - ceil(t|A|) + 1; the 1e-9 slack makes double
    // rounding err toward a LONGER prefix (extra candidates are verified
    // away; a shorter prefix would silently drop true pairs)
    val prefixLen = greatest(lit(1L),
      col("set_size") - ceil(col("set_size") * threshold - 1e-9) + 1)
    val pfx = sorted.select(
      col("doc_id"), col("set_size"),
      explode(slice(col("ts"), lit(1), prefixLen.cast("int"))).as("tok"))
    val pa = pfx.as("a")
    val pb = pfx.as("b")
    val candidates = pa.join(pb,
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.set_size").cast("double") >= col("b.set_size") * threshold - 1e-9 &&
          col("b.set_size").cast("double") >= col("a.set_size") * threshold - 1e-9)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    candidates
      .join(sorted.select(col("doc_id").as("id1"), col("ts_lex").as("ts1"),
        col("set_size").as("size1")), "id1")
      .join(sorted.select(col("doc_id").as("id2"), col("ts_lex").as("ts2"),
        col("set_size").as("size2")), "id2")
      .withColumn("n_inter",
        graft.expressions.ArrayExprs.sortedIntersectSize(col("ts1"), col("ts2")))
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") /
          (col("size1") + col("size2") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** The unfiltered inverted-index jaccard join: every shared token is a
    * posting-list join hit, quadratic in hot-token posting lists. Kept
    * as the ground truth [[ngramJaccardPairs]]'s prefix filter is
    * validated against (DedupSpec) — use the prefix-filtered form
    * everywhere else.
    */
  def ngramJaccardPairsNaive(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // checkpoint the exploded tokens WITH each doc's set size attached:
    // the regex tokenization is the map-side cost and the self-join
    // consumes it twice — materialize once, reuse from blocks. Carrying
    // set_size through (a) lets the join apply the PPJoin length filter
    // (J >= t forces min(|A|,|B|) >= t*max(|A|,|B|)) BEFORE the
    // aggregate, pruning the quadratic hot-token blowup at its source,
    // and (b) removes the two post-aggregation size joins — the sizes
    // ride through the groupBy as max() of a per-doc constant. The
    // 1e-9 slack keeps the prefilter conservative under double rounding
    // (the exact jaccard filter below stays authoritative).
    val toks = df.select(
        col(idCol).as("doc_id"),
        TextFunctions.distinctTokens(col(textCol)).as("ts"))
      .select(col("doc_id"), size(col("ts")).as("set_size"),
        explode(col("ts")).as("tok"))
      .transform(Freeze.eager)
    val a = toks.as("a")
    val b = toks.as("b")
    a.join(b, col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.set_size").cast("double") >= col("b.set_size") * threshold - 1e-9 &&
        col("b.set_size").cast("double") >= col("a.set_size") * threshold - 1e-9)
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(
        count(lit(1)).as("n_inter"),
        max(col("a.set_size")).as("size1"),
        max(col("b.set_size")).as("size2"))
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") /
          (col("size1") + col("size2") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  // ------------------------------------------------------------- minhash
  /** MinHash signature: k independent permutations approximated by
    * h_i(x) = (a_i * x + b_i) mod (2^31-1) over token hashes, computed
    * map-side by the scalar [[graft.expressions.MinHashArraySignature]]
    * (the whole signature inside the scan projection — ZERO shuffle;
    * bit-identical to the [[graft.expressions.MinHashAggregate]]
    * explode+aggregate form, which remains for row-shaped token
    * streams). Output column `sig: array<bigint>` of length k.
    */
  def minHashSignature(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleSize: Int = 0): DataFrame = {
    val units =
      if (shingleSize > 0) TextFunctions.shingles(col(textCol), shingleSize)
      else TextFunctions.distinctTokens(col(textCol))
    signatureFromUnits(
      df.select(col(idCol).as("doc_id"), units.as("toks")), numHashes)
  }

  /** Signature over pre-tokenized rows (`doc_id`, `toks: array<string>`) —
    * lets a pipeline tokenize ONCE and share the token sets between
    * signature and verification instead of re-running the regex scan.
    */
  def signatureFromUnits(tokenSets: DataFrame, numHashes: Int): DataFrame = {
    graft.expressions.MinHashAgg.register(tokenSets.sparkSession)
    // map-side scalar form: the whole signature inside the scan
    // projection, ZERO shuffle — bit-identical to exploding tokens
    // through the MinHashAggregate (equivalence spec-pinned in
    // DedupSpec); the aggregate form remains for token streams that
    // arrive as rows rather than arrays
    tokenSets
      // Docs with NO real tokens are excluded along with null ones:
      // whitespace-only text tokenizes to [""] (split semantics) and
      // truly empty sets to [], so N such docs would share one
      // signature, flood every band bucket, and the candidate self-join
      // would emit ~N^2/2 pairs. Near-dup detection is for content;
      // exact dedup owns empties.
      .filter(col("toks").isNotNull &&
        size(array_remove(col("toks"), "")) > 0)
      .select(
        col("doc_id"),
        graft.expressions.MinHashAgg.minhashSigArr(col("toks"), numHashes).as("sig"))
  }

  /** LSH banding: split the signature array into `bands` slices, hash
    * each slice, and emit (band_idx, band_hash, doc_id). Candidate pairs
    * are docs sharing any band bucket. Shuffle key is the (tiny) bucket
    * id — never a doc pair.
    */
  def minHashCandidates(
      signatures: DataFrame, numHashes: Int, bands: Int): DataFrame =
    minHashCandidatesRaw(signatures, numHashes, bands).distinct()

  /** The banding itself: (doc_id, band_idx, band_hash), one row per
    * (signature, band). This is the LSH index's bucket relation — the
    * persisted form lives in [[LshTextIndex]]; candidate pairs are
    * same-bucket joins over it.
    */
  def bandBuckets(signatures: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(rowsPerBand * bands == numHashes, "bands must divide numHashes")
    val bandCols = (0 until bands).map { bIdx =>
      struct(
        lit(bIdx).as("band_idx"),
        hash(slice(col("sig"), bIdx * rowsPerBand + 1, rowsPerBand)).as("band_hash"))
    }
    signatures.select(
        col("doc_id"),
        explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
  }

  /** Banded candidate pairs WITHOUT the distinct — a pair sharing p
    * bands appears p times. Exists for callers that want to defer
    * deduplication; [[minHashNearDups]] itself uses the DISTINCT form
    * before scoring (measured 2.7 s vs 5.6 s warm at sf0.1 — re-scoring
    * duplicate pairs through the estimate costs more than the pair-key
    * shuffle saves).
    */
  private[graft] def minHashCandidatesRaw(
      signatures: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val banded = bandBuckets(signatures, numHashes, bands)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
  }

  /** Full MinHash-LSH near-dup pipeline: signature → banded candidates →
    * signature-estimate prefilter → exact-jaccard verification.
    *
    * Two scale decisions beyond the banding itself:
    *
    *  - the corpus is tokenized ONCE (`tokenSets`, checkpointed) and the
    *    token sets are shared by signature computation and verification —
    *    the regex scan over raw text is the operator's map-side cost and
    *    must not run three times;
    *  - banding at (bands, rows) tuned for the threshold still admits a
    *    false-positive flood when the corpus has many moderately-similar
    *    pairs (templated text). Before shipping heavyweight token arrays
    *    into the verify join, candidates are prefiltered by the MinHash
    *    ESTIMATE already in hand: the fraction of equal signature
    *    components, which joins 8×32-byte sigs (broadcastable at any
    *    realistic doc count per executor; hash-join on uniform doc id
    *    beyond) instead of ~KB token arrays. The margin below the
    *    threshold (2.8σ for k=32 at t=0.9) keeps the miss probability
    *    for a true ≥t pair under 2e-3, and the final exact-jaccard
    *    verification keeps precision exact (found ⊆ exact always).
    */
  def minHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      estMargin: Double = 0.15): DataFrame = {
    graft.expressions.ArrayExprs.register(df.sparkSession)
    // sorted ONCE per document so the verify stage can run the native
    // two-pointer sorted_intersect_size instead of array_intersect's
    // per-pair hash set + materialized intersection (signature hashing
    // is order-invariant, so sorting changes nothing upstream)
    val tokenSets = df.select(
        col(idCol).as("doc_id"),
        array_sort(TextFunctions.distinctTokens(col(textCol))).as("toks"))
      .transform(Freeze.eager)
    val sigs = signatureFromUnits(tokenSets, numHashes).transform(Freeze.eager)
    // distinct BEFORE scoring: a pair sharing p bands appears p times in
    // the raw join output, and re-scoring duplicates through the (non-
    // codegen) estimate lambda costs more than the pair-key shuffle saves
    // (measured: 2.7 s vs 5.6 s warm at sf0.1)
    val candidates = minHashCandidates(sigs, numHashes, bands)

    // estMargin is the recall/cost knob of the estimate prefilter: at the
    // default 0.15 (2.8σ below t=0.9 for k=32) a true ≥t pair slips past
    // with p ≈ 2e-3 — fine for the pipeline, measurable at 40k+ true
    // pairs. Recall-saturating callers (the verified gate) widen it.
    val minEqual = math.ceil(numHashes * (threshold - estMargin)).toInt
    val prefiltered = candidates
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      // unrolled comparison sum stays inside whole-stage codegen; the
      // equivalent aggregate(zip_with(...)) lambda runs interpreted
      .withColumn("n_eq",
        (0 until numHashes)
          .map(i => when(
            element_at(col("sig1"), i + 1) === element_at(col("sig2"), i + 1),
            1).otherwise(0))
          .reduce[Column](_ + _))
      .filter(col("n_eq") >= minEqual)
      .select("id1", "id2")

    prefiltered
      .join(tokenSets.select(col("doc_id").as("id1"), col("toks").as("toks1")), "id1")
      .join(tokenSets.select(col("doc_id").as("id2"), col("toks").as("toks2")), "id2")
      .withColumn("n_inter",
        graft.expressions.ArrayExprs.sortedIntersectSize(col("toks1"), col("toks2")))
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") /
          (size(col("toks1")) + size(col("toks2")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  // ---------------------------------------------------- components
  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise matches into dedup CLUSTERS (one survivor per
    * component). Label propagation: every node starts with its own id
    * as label; each iteration every node takes the min label among
    * itself and its neighbors; stop when no label changes.
    *
    * Scale: each iteration is one join + one aggregate, all shuffles on
    * node id; converges in O(component diameter) iterations — near-dup
    * graphs are piles of dense cliques, so typically 2-3. (This is the
    * standard large-graph CC algorithm used when a graph engine isn't
    * worth the dependency.)
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      localThreshold: Long = 1000000L): DataFrame = {
    // Adaptive strategy, same logic as broadcast-vs-shuffle joins: the
    // pair graph of a near-dup pass is corpus-TINY (edges ≈ duplicate
    // pairs, not rows), so when it fits comfortably on the driver solve
    // union-find locally — one collect, zero iterative rounds — and
    // reserve the distributed pointer-jumping (several shuffle rounds of
    // fixed scheduling cost each) for graphs that genuinely need a
    // cluster. Both paths produce identical min-label components (the
    // randomized oracle in DedupSpec exercises both).
    val idType = pairs.schema("id1").dataType
    val integral = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    if (integral) {
      // materialize once; reused by whichever path runs
      val edges0 = pairs
        .select(col("id1").cast("long").as("src"), col("id2").cast("long").as("dst"))
        .transform(Freeze.eager)
      if (edges0.count() <= localThreshold) return localComponents(edges0, idType)
      return distributedComponents(
        edges0.unionByName(edges0.select(col("dst").as("src"), col("src").as("dst")))
          .repartition(col("dst")).transform(Freeze.eager),
        maxIter)
        .select(col("node").cast(idType).as("node"),
          col("component").cast(idType).as("component"))
    }
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .repartition(col("dst"))
      .transform(Freeze.eager)
    distributedComponents(edges, maxIter)
  }

  /** Driver-side union-find (path compression + union by rank), min
    * member elected per root afterwards — exactly the min-label
    * transitive closure the distributed rounds converge to.
    */
  private def localComponents(
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val rank = scala.collection.mutable.HashMap.empty[Long, Int]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (qa, qb) = (rank.getOrElse(ra, 0), rank.getOrElse(rb, 0))
        if (qa < qb) parent(ra) = rb
        else if (qa > qb) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = qa + 1 }
      }
    }
    val nodes = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toArray.distinct
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach { n =>
      val r = find(n)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), n)
    }
    nodes.toSeq.map(n => (n, minOfRoot(find(n)))).toDF("node", "component")
      .select(col("node").cast(idType).as("node"),
        col("component").cast(idType).as("component"))
  }

  private def distributedComponents(edges: DataFrame, maxIter: Int): DataFrame = {
    // iterative Spark essentials: localCheckpoint every round truncates
    // the lineage (otherwise each iteration's plan contains all previous
    // joins and analysis/AQE time grows without bound). Each round is ONE
    // shuffle-join + ONE aggregate: neighbor labels and each node's own
    // label are unioned and min-reduced together, with the old label
    // carried through the aggregate (min over the tagged self row) so no
    // second join is needed to detect convergence. Edges are partitioned
    // by the join key ONCE — the per-round join re-shuffles only the
    // (much smaller) label frame, never the edge list.
    // no distinct(): min-label propagation is idempotent to duplicate
    // edges (they only add shuffle volume, never wrong labels), so the
    // symmetrized list skips a full dedup shuffle. The one shuffle on
    // entry keys edges by dst so every round's join reuses the
    // partitioning (callers pass the symmetrized, dst-keyed edge list).
    // round 0 folded into initialization: with identity labels the first
    // propagation is just min(node, min(neighbors)) — one aggregate over
    // edges, no join and no separate identity-label build
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("node"), col("label"))
      .transform(Freeze.eager)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val t0 = System.nanoTime()
      val contrib = edges
        .join(labels, edges("dst") === labels("node"))
        .select(col("src").as("node"), col("label"), lit(false).as("self"))
        .unionByName(labels.withColumn("self", lit(true)))
      val hopped = contrib.groupBy(col("node"))
        .agg(
          min(col("label")).as("l1"),
          min(when(col("self"), col("label"))).as("old_label"))
      // pointer jumping: follow the candidate label to ITS label, so
      // reach doubles per round — O(log diameter) rounds on chains
      // instead of O(diameter) (labels are monotone: label(x) <= x,
      // and l1 is in this node's component, so label(l1) is too)
      val updated = hopped
        .join(labels.select(col("node").as("jnode"), col("label").as("jlabel")),
          hopped("l1") === col("jnode"), "left")
        .select(
          col("node"),
          least(col("l1"), coalesce(col("jlabel"), col("l1"))).as("new_label"),
          col("old_label"))
        .transform(Freeze.eager)
      changed = updated.filter(col("new_label") =!= col("old_label")).count()
      labels = updated.select(col("node"), col("new_label").as("label"))
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] round $iter: changed=$changed ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // silent non-convergence would split one real cluster into several
    // and elect multiple "survivors" from one duplicate group
    require(changed == 0,
      s"connected components did not converge in $maxIter iterations " +
        "(component diameter exceeds maxIter) — raise maxIter")
    labels.select(col("node"), col("label").as("component"))
  }

  /** End-to-end corpus dedup: given near-dup pairs (from any detector —
    * exact jaccard, MinHash-LSH, SimHash, embedding), resolve components
    * and keep ONE survivor per duplicate group (the min id, matching
    * [[exact]]'s election) plus every unpaired document. This is the
    * single call a training-data pipeline makes after candidate
    * generation; cost beyond the caller's pair detection is the
    * [[connectedComponents]] rounds plus one anti-join on doc id.
    */
  def dedupCorpus(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Survivor election by PRIORITY instead of min id: per duplicate
    * component keep the row maximizing `priority` (ties → smallest id) —
    * "keep the best duplicate, not the first" (longest version, highest
    * quality score, most recent crawl). One aggregate over the
    * component-sized member set; unpaired rows always survive.
    */
  def dedupCorpusBy(
      df: DataFrame, idCol: String, pairs: DataFrame,
      priority: Column): DataFrame = {
    val comps = connectedComponents(pairs)
    val withPri = df.select(col(idCol).as("node"), priority.as("__pri"))
    val members = comps.join(withPri, Seq("node"))
    // highest priority wins, ties take the smallest id — as a two-level
    // aggregate (max priority per component, then min id among the rows
    // attaining it) instead of max_by(struct(pri, -id)): negating the
    // id nulls out (or throws under ANSI) for the non-numeric id types
    // connectedComponents explicitly supports, which silently turned
    // the tie-break partition-order-dependent
    val top = members.groupBy(col("component"))
      .agg(org.apache.spark.sql.functions.max(col("__pri")).as("__top"))
    val winners = members.join(top, Seq("component"))
      .filter(col("__pri") <=> col("__top"))
      .groupBy(col("component"))
      .agg(org.apache.spark.sql.functions.min(col("node")).as("keep"))
      .select(col("keep").as(idCol))
    val unpaired = df.join(comps.select(col("node").as(idCol)), Seq(idCol), "left_anti")
    unpaired.unionByName(df.join(winners, Seq(idCol), "left_semi"))
  }

  // ------------------------------------------------------------- simhash
  /** 64-bit SimHash: per-token 64-bit hashes vote per bit (+1 if set,
    * -1 if not); signature bit k is the sign of the vote sum. Computed
    * by the custom [[graft.expressions.SimHashAggregate]] (one long[64]
    * vote buffer; see its scaladoc for why not 64 conditional-sum
    * columns) — one explode + single-shuffle aggregate.
    */
  def simHashSignature(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.expressions.SimHashAgg.register(df.sparkSession)
    df.select(
        col(idCol).as("doc_id"),
        explode(TextFunctions.distinctTokens(col(textCol))).as("tok"))
      .withColumn("th", xxhash64(col("tok")))
      .groupBy("doc_id")
      .agg(graft.expressions.SimHashAgg.simhashSig(col("th")).as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dups with hamming distance ≤ maxDistance, found via
    * pigeonhole banding: split 64 bits into (maxDistance+1) chunks — any
    * pair within distance d shares at least one exact chunk. Bucket-join
    * on chunks, verify with bit_count.
    */
  def simHashNearDups(
      signatures: DataFrame, maxDistance: Int): DataFrame = {
    val chunks = maxDistance + 1
    val bitsPerChunk = 64 / chunks
    val chunkCols = (0 until chunks).map { cIdx =>
      val mask = if (bitsPerChunk >= 64) -1L else (1L << bitsPerChunk) - 1
      struct(
        lit(cIdx).as("chunk_idx"),
        shiftright(col("simhash"), cIdx * bitsPerChunk).bitwiseAND(mask).as("chunk_val"))
    }
    val banded = signatures.select(
      col("doc_id"), col("simhash"),
      explode(array(chunkCols: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk_idx"), col("c.chunk_val"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        hammingDistance(col("a.simhash"), col("b.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** Character-level hamming distance between two equal-length strings
    * (count of positions where they differ). Null if lengths differ —
    * hamming is undefined across lengths, and returning null keeps the
    * predicate `stringHamming(a,b) <= d` false there, matching the
    * equal-length join contract of [[stringHammingNeighbors]].
    */
  def stringHamming(a: Column, b: Column): Column =
    when(length(a) === length(b),
      aggregate(
        zip_with(split(a, ""), split(b, ""),
          (x, y) => when(x === y, 0).otherwise(1)),
        lit(0), (acc, d) => acc + d))

  /** Fuzzy string self-join: all pairs of rows whose `strCol` values have
    * the same length and character-level hamming distance ≤ `maxDist` —
    * near-identical identifiers/titles that exact dedup misses (one-digit
    * typos, single-character OCR errors).
    *
    * Blocking is DELETION-NEIGHBORHOOD (FastSS-style), not contiguous
    * segments: each string emits every variant obtainable by deleting
    * exactly `maxDist` positions (with the ordered position tuple as
    * part of the key). Two equal-length strings within hamming distance
    * d agree everywhere outside some d positions, so deleting that
    * position set from both yields EQUAL variants — candidate
    * generation on (length, positions, variant) is lossless. Candidates
    * are verified with the exact hamming distance.
    *
    * Why not the simpler (d+1)-contiguous-segment pigeonhole: real id
    * corpora share long constant regions ('Customer#0000…'), which make
    * one segment block hold nearly EVERY row — the block join silently
    * goes quadratic (measured: 817 s at sf0.1 on exactly that shape).
    * A deletion variant keeps ALL of the string except d characters in
    * the key, so a block only grows when strings genuinely collide
    * outside d positions — i.e. when they ARE near-duplicates that any
    * method must pair. Cost: C(len, d) variants per row (len at d=1,
    * ~len²/2 at d=2) — the standard space-for-blocking trade; keep
    * maxDist small (≤2) for long strings.
    *
    * Strings with length ≤ maxDist fall into a single per-length block
    * (every same-length pair is trivially within distance d there).
    *
    * Note this is HAMMING, not edit distance: insertions/deletions are
    * not matched (they change the length). For maxDist = 1 on
    * equal-length strings the two coincide exactly — levenshtein 1 can
    * only be a single substitution once lengths match.
    *
    * Output: (id1, id2, dist), id1 < id2, one row per qualifying pair.
    */
  def stringHammingNeighbors(
      df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // delete the character at 0-based index i of s (substr clamps the tail)
    def del(s: Column, i: Column): Column =
      concat(s.substr(lit(1), i), s.substr(i + lit(2), length(s)))
    // all variants of `cur` with `depth` more deletions, next deletion at
    // index >= from IN THE CURRENT STRING — the (k1 <= k2 <= ...) current-
    // string indices map bijectively to strictly-increasing original
    // positions, so both sides of a pair derive the identical key for the
    // identical original position set
    def step(cur: Column, from: Column, key: Column, depth: Int): Column =
      if (depth == 0) array(struct(key.as("k"), cur.as("v")))
      else {
        // sequence(a, b) with a > b silently generates a DESCENDING
        // range in Spark — for a deletion at the last index the next
        // level would emit non-monotonic position keys that corrupt the
        // distance decoding. greatest + filter yields an empty range
        // instead.
        val hi = length(cur) - 1
        flatten(transform(
          filter(sequence(from, greatest(from, hi)), x => x <= hi),
          i => step(del(cur, i), i, concat_ws("_", key, i.cast("string")), depth - 1)))
      }
    val s = col(strCol)
    // maxDist = 1 FAST PATH (r13-opt §4): the recursive generator
    // builds a per-row array of structs through transform/flatten/
    // filter — higher-order functions are CodegenFallback, interpreted
    // per row. At d = 1 the variant set is just "delete character i"
    // for i in 0..len-1, expressible as explode(sequence(...)) + two
    // substrs — whole-stage-codegen end to end. Key/value encoding is
    // IDENTICAL to step()'s d=1 output ("_i" keys, deleted string), so
    // the join and the distance decode are unchanged.
    val base = df.select(
      col(idCol).as("__id"), s.as("__s"), length(s).as("__len"))
    val banded =
      if (maxDist == 1) {
        val long = base.filter(col("__len") > 1)
          .select(col("__id"), col("__s"), col("__len"),
            explode(sequence(lit(0), col("__len") - 1)).as("__i"))
          .select(col("__id"), col("__s"), col("__len"),
            concat(lit("_"), col("__i").cast("string")).as("seg_key"),
            del(col("__s"), col("__i")).as("seg_val"))
        val short = base.filter(col("__len") <= 1)
          .select(col("__id"), col("__s"), col("__len"),
            lit("*").as("seg_key"), lit("").as("seg_val"))
        long.unionByName(short)
      } else {
        val variants = when(length(col("__s")) <= maxDist,
            array(struct(lit("*").as("k"), lit("").as("v"))))
          .otherwise(step(col("__s"), lit(0), lit(""), maxDist))
        base.select(col("__id"), col("__s"), col("__len"),
            explode(variants).as("c"))
          .select(col("__id"), col("__s"), col("__len"),
            col("c.k").as("seg_key"), col("c.v").as("seg_val"))
      }
    val a = banded.as("a")
    val b = banded.as("b")
    // Sharing a deletion variant PROVES the pair differs only within the
    // deleted position set, so (1) dist <= maxDist holds by construction
    // and (2) the exact distance needs comparing only those <= d decoded
    // positions — never a full-string hamming pass per candidate (the
    // O(len) interpreted zip_with was the measured verify bottleneck:
    // 4.6 s over 262k candidates at sf0.1). The current-string indices
    // in the key map back to original positions by adding the number of
    // prior deletions (each deletion shifts the tail left by one).
    val sa = col("a.__s")
    val sb = col("b.__s")
    // d = 1: one decoded position, no array machinery — codegen'd
    // substr compare (the generic path's aggregate/zip_with lambdas
    // are interpreted per candidate row)
    val posDist = if (maxDist == 1) {
      val orig = col("a.seg_key")
        .substr(lit(2), length(col("a.seg_key"))).cast("int") + 1
      when(sa.substr(orig, lit(1)) =!= sb.substr(orig, lit(1)), 1).otherwise(0)
    } else {
      val positions = filter(split(col("a.seg_key"), "_"), p => p =!= "")
      aggregate(
        zip_with(positions, sequence(lit(0), lit(maxDist - 1)),
          (p, i) => {
            val orig = p.cast("int") + i + 1 // 1-based original position
            when(sa.substr(orig, lit(1)) =!= sb.substr(orig, lit(1)), 1)
              .otherwise(0)
          }),
        lit(0), (acc, d) => acc + d)
    }
    val dist = when(sa === sb, lit(0))
      .when(col("a.seg_key") === "*", stringHamming(sa, sb)) // len<=d strings
      .otherwise(posDist)
    a.join(b,
        col("a.__len") === col("b.__len") &&
          col("a.seg_key") === col("b.seg_key") &&
          col("a.seg_val") === col("b.seg_val") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id1"), col("b.__id").as("id2"), dist.as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }
}
