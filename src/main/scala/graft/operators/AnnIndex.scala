package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.VectorExprs

/** Persistent IVF vector index as a warehouse artifact — the
  * build/serve split every production vector store has, expressed as
  * two [[TableStore]] tables so the index survives the session, is
  * versioned/compacted/vacuumed like any other table, and is readable
  * by any engine that speaks parquet:
  *
  *  - `<name>_ann_centroids` — (cell_id INT, centroid ARRAY) — the
  *    coarse quantizer, tiny (≤ ~sqrt(corpus) rows), broadcast at
  *    query time;
  *  - `<name>_ann_postings` — (idCol, vecCol) PARTITIONED BY cell_id —
  *    every corpus vector under its nearest-centroid cell, Hive-layout
  *    `cell_id=N/` subdirectories.
  *
  * The partition layout is the point: a query batch probes `nprobe`
  * cells per query, so the serve path collects the probed-cell union
  * (bounded by min(numCells, queries x nprobe) ints — driver-safe at
  * any corpus size) and scans ONLY those subdirectories
  * (PartitionFilters at the parquet scan, asserted in AnnIndexSpec).
  * At 100 TB the index build pays one corpus-sized assignment pass
  * ([[Similarity.assignCells]], map-only against broadcast centroids)
  * plus one cell-partitioned shuffle-write; each query batch after
  * that reads nprobe/numCells of the corpus, not all of it.
  *
  * Search results are bit-identical to the in-memory
  * [[Similarity.ivfTopKWith]] path (same expressions, same tie-breaks;
  * parquet roundtrips float arrays exactly) — gate `sim_ivf_persisted`
  * hash-matches the same DuckDB oracle as the in-memory `sim_ivf_topk`.
  */
object AnnIndex {

  final case class Handle(store: TableStore, name: String,
      idCol: String, vecCol: String) {
    def centroidsTable: String = s"${name}_ann_centroids"
    def postingsTable: String = s"${name}_ann_postings"
    def centroids: DataFrame = store.read(centroidsTable)
    def postings: DataFrame = store.read(postingsTable)
  }

  /** Build and persist: centroid selection (+ optional Lloyd
    * refinement on the full corpus — at 100 TB pass a sample instead),
    * one assignment pass, one partitioned write per table.
    */
  def build(store: TableStore, name: String, corpus: DataFrame,
      numCells: Int, refineIterations: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): Handle = {
    val seed = Similarity.centroids(corpus, numCells, idCol, vecCol)
    val cents =
      if (refineIterations == 0) seed
      else Similarity.refineCentroids(corpus, seed, refineIterations, idCol, vecCol)
    val h = Handle(store, name, idCol, vecCol)
    store.overwrite(h.centroidsTable, cents, numFiles = 1)
    // shuffle onto cell_id BEFORE the partitioned write: otherwise every
    // write task emits a file into every cell directory it sees, and a
    // numCells x tasks small-file explosion follows (measured 21 s vs
    // 6 s at 500k vectors / 447 cells in StressAnn)
    val assigned = Similarity.assignCells(corpus, cents, idCol, vecCol)
      .repartition(col("cell_id"))
    store.overwrite(h.postingsTable, assigned, partitionBy = Seq("cell_id"))
    h
  }

  /** Quantized build: postings store int8 codes ([[graft.expressions
    * .VectorExprs.vecQ8]] of the UNIT vector, packed binary — ~4x
    * smaller than float32 arrays, the difference between a 100 TB and
    * a 25 TB vector store) instead of raw embeddings. Cell assignment
    * still runs at full precision against the float centroids; only
    * the SERVING payload is quantized, exactly like a production
    * IVF-SQ8 index. Query with [[searchQuantized]].
    */
  def buildQuantized(store: TableStore, name: String, corpus: DataFrame,
      numCells: Int, refineIterations: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): Handle = {
    VectorExprs.register(store.spark)
    val seed = Similarity.centroids(corpus, numCells, idCol, vecCol)
    val cents =
      if (refineIterations == 0) seed
      else Similarity.refineCentroids(corpus, seed, refineIterations, idCol, vecCol)
    val h = Handle(store, name, idCol, vecCol)
    store.overwrite(h.centroidsTable, cents, numFiles = 1)
    val assigned = Similarity.assignCells(corpus, cents, idCol, vecCol)
      .select(col(idCol),
        VectorExprs.vecQ8(Similarity.normalize(col(vecCol))).as("cq"),
        col("cell_id"))
      .repartition(col("cell_id")) // one-ish file per cell, see build()
    store.overwrite(h.postingsTable, assigned, partitionBy = Seq("cell_id"))
    h
  }

  /** Top-k against a [[buildQuantized]] index: full-precision probe
    * selection (centroids are float), int8 dot-product scoring inside
    * the probed cells — the same arithmetic as
    * [[Similarity.bruteForceTopKQuantized]], so the q8 math is DuckDB-
    * replayable and gate `sim_ivf_persisted_q8` is hash-green.
    */
  def searchQuantized(h: Handle, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = h.store.spark
    VectorExprs.register(spark)
    val cents = h.centroids
    val q = queries.select(col(h.idCol).as("query_id"), col(h.vecCol).as("qvec"),
      VectorExprs.vecQ8(Similarity.normalize(col(h.vecCol))).as("qq"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("cdist").asc, col("cell_id").asc)
    val probes = q.join(broadcast(cents))
      .withColumn("cdist", -VectorExprs.vecCosine(col("qvec"), col("centroid")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qq"), col("cell_id"))
    val probedCells = probes.select(col("cell_id").cast("int")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    val scored = h.postings.filter(col("cell_id").isin(probedCells: _*))
      .join(probes, Seq("cell_id"))
      .filter(col(h.idCol) =!= col("query_id"))
      .withColumn("score", VectorExprs.vecDotQ8(col("cq"), col("qq")))
      .withColumn("corpus_id", col(h.idCol))
    Similarity.topKPerGroup(scored, col("query_id"), k)
  }

  /** Incremental maintenance: assign a batch of NEW vectors to the
    * existing centroids and merge them into their cells via the
    * partition-aligned copy-on-write ([[TableStore.overwritePartitions]])
    * — cost is O(touched cells), not O(index); untouched cell
    * partitions keep their files byte-for-byte. The coarse quantizer is
    * intentionally frozen (standard IVF practice — centroids drift only
    * on rebuild), so a search after append is exactly a search of the
    * one-shot index over the union corpus, given the same centroids.
    *
    * Contract: ids in `newVectors` must not already exist in the index
    * (an id's new embedding could land in a DIFFERENT cell than its old
    * row, leaving a stale duplicate no cell-local check can see).
    * Collisions within the touched cells — the only ones detectable
    * without a full index scan — are refused loudly.
    */
  def append(h: Handle, newVectors: DataFrame): Handle = {
    VectorExprs.register(h.store.spark)
    val cents = h.centroids
    // match the index's posting payload: a buildQuantized index stores
    // int8 codes (`cq`), so the batch is quantized the same way; a
    // float index keeps raw embeddings. Same assignment either way.
    val quantized = h.postings.columns.contains("cq")
    val assignedRaw = Similarity.assignCells(newVectors, cents, h.idCol, h.vecCol)
    val assigned = (if (quantized)
        assignedRaw.select(col(h.idCol),
          VectorExprs.vecQ8(Similarity.normalize(col(h.vecCol))).as("cq"),
          col("cell_id"))
      else assignedRaw)
      .transform(Freeze.eager) // freeze: feeds both the touch list and the merge
    val touched = assigned.select(col("cell_id")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    if (touched.nonEmpty) {
      // partition-pruned read of just the touched cells
      val existing = h.postings.filter(col("cell_id").isin(touched: _*))
      val dup = existing.select(col(h.idCol))
        .join(assigned.select(col(h.idCol)), Seq(h.idCol)).limit(1).collect()
      require(dup.isEmpty,
        s"append would duplicate ${h.idCol}=${dup.head.get(0)} — ids must be new " +
          s"(deleteWhere the old rows first, or rebuild)")
      val merged = existing.unionByName(
          assigned.select(existing.columns.map(col): _*))
        .repartition(col("cell_id")) // one-ish file per cell, see build()
      h.store.overwritePartitions(h.postingsTable, merged, "cell_id", touched)
    }
    h
  }

  /** Cell-split maintenance for drifted corpora (VERDICT r12 item 6):
    * [[append]] freezes the coarse quantizer, so a skewed ingest stream
    * slowly concentrates postings in a few cells — probe cost for those
    * cells grows toward a corpus scan. `rebalance` splits every cell
    * whose posting count exceeds `maxCellSize`: a LOCAL Lloyd run over
    * just that cell's vectors (seeded deterministically with the cell's
    * first `subCells` vectors by id) produces sub-centroids that replace
    * the split cell's centroid, and ONLY the split cells' vectors are
    * reassigned — against the full updated centroid set, so a moved
    * vector always lands under its nearest current centroid (never
    * force-bucketed into a sub-cell a neighboring cell's centroid
    * out-scores). Untouched cells keep their partition files byte for
    * byte ([[TableStore.overwritePartitions]] copy-on-write); cost is
    * O(split-cell rows × centroids), never O(index).
    *
    * Quantized (SQ8) indexes refuse loudly: their postings carry int8
    * codes, not the raw embeddings a re-Lloyd needs — rebuild those.
    *
    * Search behavior: with every cell probed, search over the
    * rebalanced index is EXACTLY brute force (pinned by the
    * `sim_ivf_rebalance` oracle gate); at partial nprobe the sub-cells
    * raise per-probe selectivity back toward the balanced design point
    * (decade study in AnnIndexSpec / SCALE.md).
    */
  def rebalance(h: Handle, maxCellSize: Long, subCells: Int = 2,
      refineIterations: Int = 2): Handle = {
    require(subCells >= 2, s"subCells must split, got $subCells")
    require(!h.postings.columns.contains("cq"),
      "rebalance needs raw embeddings — an SQ8 (buildQuantized) index " +
        "cannot re-Lloyd its int8 codes; rebuild it instead")
    val splitCells = h.postings.groupBy(col("cell_id"))
      .count().filter(col("count") > maxCellSize)
      .select(col("cell_id").cast("int"))
      .collect().map(_.getInt(0)).toSeq.sorted
    if (splitCells.isEmpty) return h
    val cents = h.centroids
      .select(col("cell_id").cast("int"), col("centroid").cast("array<double>"))
    val maxCellId = cents.agg(max(col("cell_id"))).head().getInt(0)
    // per split cell: local Lloyd over ONLY that cell's postings
    // (partition-pruned scan), fresh ids above the current max
    var nextBase = maxCellId
    val subCentroids = splitCells.map { c =>
      // freeze the split cell's rows once (lazy — the seed job
      // populates it): the seed scan plus every Lloyd iteration
      // otherwise re-reads the cell's parquet partition. Bounded by
      // the oversized cell, the rows this rebalance touches anyway.
      val cellRows = h.postings.filter(col("cell_id") === c)
        .transform(Freeze.lazily)
      val seed = Similarity.centroids(cellRows, subCells, h.idCol, h.vecCol)
      val refined =
        if (refineIterations == 0) seed
        else Similarity.refineCentroids(cellRows, seed, refineIterations,
          h.idCol, h.vecCol)
      val base = nextBase
      nextBase += subCells
      refined.select((col("cell_id") + lit(base)).cast("int").as("cell_id"),
        col("centroid").cast("array<double>"))
    }.reduce(_ unionByName _)
    val newCents = cents.filter(!col("cell_id").isin(splitCells.map(Int.box): _*))
      .unionByName(subCentroids)
      .transform(Freeze.eager) // feeds assignCells' collect + the final write
    // reassign ONLY the split cells' vectors, against the FULL new set
    val splitRows = h.postings
      .filter(col("cell_id").isin(splitCells.map(Int.box): _*))
      .drop("cell_id")
    val reassigned = Similarity.assignCells(splitRows, newCents, h.idCol, h.vecCol)
      .transform(Freeze.eager) // one execution: dest list + merge
    val destCells = reassigned.select(col("cell_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val keepDest = destCells.filterNot(splitCells.contains)
    val existing =
      if (keepDest.isEmpty) h.postings.filter(lit(false))
      else h.postings.filter(col("cell_id").isin(keepDest.map(Int.box): _*))
    val merged = existing.unionByName(
        reassigned.select(existing.columns.map(col): _*))
      .repartition(col("cell_id")) // one-ish file per cell, see build()
    // split cells legitimately end EMPTY (their centroid is gone), so the
    // partition-aligned write drops those directories instead of refusing
    h.store.overwritePartitions(h.postingsTable, merged, "cell_id",
      (splitCells ++ destCells).distinct, allowEmpty = true)
    h.store.overwrite(h.centroidsTable, newCents, numFiles = 1)
    h
  }

  /** Reattach to a previously built index (any session). */
  def open(store: TableStore, name: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Handle = {
    val h = Handle(store, name, idCol, vecCol)
    require(store.exists(h.centroidsTable) && store.exists(h.postingsTable),
      s"no persisted ANN index '$name' in warehouse ${store.root}")
    h
  }

  /** Top-k cosine search against the persisted index. Exact within the
    * probed cells; identical to [[Similarity.ivfSearch]] over the full
    * assignment — the only difference is that the postings scan is
    * statically pruned to the probed-cell union before the per-query
    * probe join runs.
    */
  def search(h: Handle, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = h.store.spark
    VectorExprs.register(spark)
    val cents = h.centroids
    // probed-cell union, computed once against the broadcast centroids:
    // a bounded driver pull (cell ids only) that turns the postings
    // read into a static partition-pruned scan of nprobe-ish dirs
    val q = queries.select(col(h.idCol).as("query_id"), col(h.vecCol).as("qvec"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("cdist").asc, col("cell_id").asc)
    val probedCells = q.join(broadcast(cents))
      .withColumn("cdist", -VectorExprs.vecCosine(col("qvec"), col("centroid")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("cell_id").cast("int")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    val pruned = h.postings.filter(col("cell_id").isin(probedCells: _*))
    Similarity.ivfSearch(pruned, queries, k, cents, nprobe, h.idCol, h.vecCol)
  }

  /** Serve a STREAM of query vectors against the persisted index —
    * the online half of the build/serve split: each micro-batch runs
    * the same partition-pruned [[search]] (so per batch it reads the
    * probed-cell union, not the corpus) and lands results in
    * `resultTable` PARTITIONED BY batch_id. The write is a partition
    * overwrite of the batch's OWN partition, so the body is idempotent
    * — a replay (checkpoint recovery, or a crash inside the
    * commitIfNew window after the write but before the ledger move)
    * rewrites the same partition with the same rows instead of
    * doubling them. The (appId, batchId) ledger then only saves the
    * rewrite work; exactly-once OUTPUT holds either way.
    *
    * Output rows: (query_id, rank, corpus_id, score) + batch_id.
    * Pass a durable `checkpointDir` in production — without one a
    * restarted query renumbers batches from 0 and the ledger would
    * skip them as replays.
    */
  def serveStream(
      h: Handle, queryStream: DataFrame, k: Int, nprobe: Int,
      resultTable: String, appId: String,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = queryStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        h.store.commitIfNew(resultTable, appId, batchId) {
          val hits = search(h, batch, k, nprobe)
            .withColumn("batch_id", lit(batchId))
            .transform(Freeze.eager) // one execution: emptiness probe + write
          if (!hits.isEmpty) {
            if (h.store.exists(resultTable))
              h.store.overwritePartitions(resultTable, hits, "batch_id", Seq(batchId))
            else
              h.store.overwrite(resultTable, hits, partitionBy = Seq("batch_id"))
          }
        }
        ()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }
}
