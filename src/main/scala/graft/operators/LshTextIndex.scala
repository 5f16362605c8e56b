package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Persisted MinHash-LSH index for INCREMENTAL text deduplication — the
  * text analog of [[AnnIndex]]: tokenize/sign/band a corpus ONCE, write
  * the artifacts as warehouse tables, and then dedup every NEW batch
  * against the indexed corpus by probing band buckets — the corpus
  * text is never re-read, re-tokenized, or re-signed.
  *
  * Tables:
  *  - `<name>_lsh_meta`    — (num_hashes, bands): the tuning, pinned so
  *    probes can't silently band differently than the build;
  *  - `<name>_lsh_toks`    — (doc_id, toks): sorted distinct tokens,
  *    the exact-verify payload;
  *  - `<name>_lsh_sigs`    — (doc_id, sig): MinHash signatures, the
  *    estimate-prefilter payload (8x32 bytes/doc);
  *  - `<name>_lsh_buckets` — (doc_id, band_idx, band_hash): the bucket
  *    relation candidates join against.
  *
  * Probe cost shape at 100 TB: the new batch pays map-side tokenize +
  * sign + band; candidates come from an equi-join on (band_idx,
  * band_hash) — shuffle keyed on the tiny bucket id, never a pair key;
  * the estimate prefilter joins signatures (small) before token arrays
  * (heavy) exactly like [[Dedup.minHashNearDups]]; and only bucket-
  * matched candidates ever load indexed token arrays. A daily-ingest
  * pipeline indexes once and probes forever.
  */
object LshTextIndex {

  final case class Handle(store: TableStore, name: String,
      numHashes: Int, bands: Int) {
    def metaTable: String = s"${name}_lsh_meta"
    def toksTable: String = s"${name}_lsh_toks"
    def sigsTable: String = s"${name}_lsh_sigs"
    def bucketsTable: String = s"${name}_lsh_buckets"
    def buckets: DataFrame = store.read(bucketsTable)
    def sigs: DataFrame = store.read(sigsTable)
    def toks: DataFrame = store.read(toksTable)
  }

  private def tokenSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      array_sort(TextFunctions.distinctTokens(col(textCol))).as("toks"))

  def build(store: TableStore, name: String, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 32, bands: Int = 16): Handle = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val h = Handle(store, name, numHashes, bands)
    val spark = store.spark
    import spark.implicits._
    store.overwrite(h.metaTable,
      Seq((numHashes, bands)).toDF("num_hashes", "bands"), numFiles = 1)
    // tokenize ONCE; signatures and buckets both derive from the same
    // checkpointed token sets (the minHashNearDups discipline)
    val toks = tokenSets(corpus, idCol, textCol).transform(Freeze.eager)
    store.overwrite(h.toksTable, toks)
    val sigs = Dedup.signatureFromUnits(toks, numHashes).transform(Freeze.eager)
    store.overwrite(h.sigsTable, sigs)
    store.overwrite(h.bucketsTable, Dedup.bandBuckets(sigs, numHashes, bands))
    h
  }

  /** Reattach in any session; the tuning comes from the meta table. */
  def open(store: TableStore, name: String): Handle = {
    val meta = store.read(s"${name}_lsh_meta").collect()
    require(meta.length == 1, s"corrupt LSH index meta for '$name'")
    Handle(store, name,
      meta(0).getAs[Int]("num_hashes"), meta(0).getAs[Int]("bands"))
  }

  /** Near-dups of `newDocs` against the INDEXED corpus: (new_id,
    * indexed_id, jaccard) with exact verified jaccard ≥ `threshold`.
    * Identical candidate semantics to running [[Dedup.minHashNearDups]]
    * over (corpus ∪ batch) and keeping only cross pairs — gate
    * `dedup_incremental_probe` pins it hash-equal to the exhaustive
    * cross-slice jaccard join at the recall-saturating tuning.
    */
  def probe(h: Handle, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.9, estMargin: Double = 0.15): DataFrame = {
    graft.expressions.ArrayExprs.register(h.store.spark)
    val newToks = tokenSets(newDocs, idCol, textCol).transform(Freeze.eager)
    val newSigs = Dedup.signatureFromUnits(newToks, h.numHashes).transform(Freeze.eager)
    val newBuckets = Dedup.bandBuckets(newSigs, h.numHashes, h.bands)
    val candidates = newBuckets
      .select(col("doc_id").as("new_id"), col("band_idx"), col("band_hash"))
      .join(h.buckets.select(col("doc_id").as("indexed_id"),
        col("band_idx"), col("band_hash")), Seq("band_idx", "band_hash"))
      .select("new_id", "indexed_id").distinct()
    // estimate prefilter on signatures before heavyweight token arrays
    val minEqual = math.ceil(h.numHashes * (threshold - estMargin)).toInt
    val prefiltered = candidates
      .join(newSigs.select(col("doc_id").as("new_id"), col("sig").as("sig1")), "new_id")
      .join(h.sigs.select(col("doc_id").as("indexed_id"), col("sig").as("sig2")), "indexed_id")
      .withColumn("n_eq",
        (0 until h.numHashes)
          .map(i => when(
            element_at(col("sig1"), i + 1) === element_at(col("sig2"), i + 1),
            1).otherwise(0))
          .reduce[Column](_ + _))
      .filter(col("n_eq") >= minEqual)
      .select("new_id", "indexed_id")
    prefiltered
      .join(newToks.select(col("doc_id").as("new_id"), col("toks").as("toks1")), "new_id")
      .join(h.toks.select(col("doc_id").as("indexed_id"), col("toks").as("toks2")), "indexed_id")
      .withColumn("n_inter",
        graft.expressions.ArrayExprs.sortedIntersectSize(col("toks1"), col("toks2")))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("toks1")) + size(col("toks2")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "indexed_id", "jaccard")
  }

  /** Fold a (probed) batch into the index so the NEXT batch dedups
    * against it too. Ids must be new (same contract and reasoning as
    * [[AnnIndex.append]]).
    *
    * Crash consistency: the three tables are updated in separate swaps,
    * so a failure can leave a PARTIAL append — each write therefore
    * merges as (old rows MINUS batch ids) ∪ batch rows, making a RETRY
    * of the same batch idempotent (no duplicated bucket/sig rows), and
    * the toks table — the duplicate-check source — commits LAST, so a
    * half-appended batch is never refused as "already present". Until
    * the retry lands, a batch missing from sigs/toks simply doesn't
    * match probes (the joins are inner) — consistent with "not yet
    * appended", never wrong pairs.
    */
  def append(h: Handle, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): Handle = {
    val toks = tokenSets(newDocs, idCol, textCol).transform(Freeze.eager)
    val dup = h.toks.select("doc_id").join(toks.select("doc_id"), "doc_id")
      .limit(1).collect()
    require(dup.isEmpty,
      s"append would duplicate doc_id=${dup.headOption.map(_.get(0)).orNull} — " +
        "ids must be new")
    val sigs = Dedup.signatureFromUnits(toks, h.numHashes).transform(Freeze.eager)
    val batchIds = toks.select("doc_id")
    def merged(old: DataFrame, add: DataFrame): DataFrame =
      old.join(batchIds, Seq("doc_id"), "left_anti").unionByName(add)
    h.store.overwrite(h.bucketsTable,
      merged(h.buckets, Dedup.bandBuckets(sigs, h.numHashes, h.bands)))
    h.store.overwrite(h.sigsTable, merged(h.sigs, sigs))
    h.store.overwrite(h.toksTable, merged(h.toks, toks)) // commit point
    h
  }
}
