package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistent IVF-PQ index — the classical two-level ANN layout (faiss
  * IVFPQ): a coarse quantizer routes each vector to one of `numCells`
  * inverted lists, and inside the list the vector is stored as m PACKED
  * BYTES of product-quantizer codes. Both levels persist as
  * [[TableStore]] tables, so the index is versioned / compacted /
  * crash-consistent like any other warehouse artifact:
  *
  *  - `<name>_pq_meta` — ONE row: (m, k, sub_dim, num_cells,
  *    codebook ARRAY<DOUBLE>, coarse ARRAY<DOUBLE>) — both codebooks,
  *    kilobytes, read to the driver on open;
  *  - `<name>_pq_postings` — (idCol, pq_code BINARY) PARTITIONED BY
  *    cell_id — m bytes per vector instead of 4·D: the layout that
  *    makes a 100 TB float corpus a ~3 TB index.
  *
  * Distances are L2 throughout (the PQ-native metric): the coarse
  * assignment reuses [[graft.expressions.PqEncode]] with m=1 — an
  * argmin-L2 over the cell centroids, exact integer arithmetic on
  * integer-quantized vectors, which is what makes the full persisted
  * lifecycle DuckDB-replayable in gate `sim_pq_persisted`.
  *
  * Query cost shape: probe selection is DRIVER-side (queries are
  * collected to build ADC LUTs anyway; numCells distances per query),
  * the postings read statically prunes to the probed-cell union
  * (PartitionFilters, the [[AnnIndex]] property), and scoring inside
  * the cells is one [[graft.expressions.PqAdc]] lookup-sum per
  * (candidate × query) through the bounded-heap top-k.
  */
object PqIndex {

  final case class Handle(store: TableStore, name: String, idCol: String,
      vecCol: String, m: Int, k: Int, subDim: Int, numCells: Int,
      codebook: Array[Double], coarse: Array[Double],
      residual: Boolean = false) {
    def metaTable: String = s"${name}_pq_meta"
    def postingsTable: String = s"${name}_pq_postings"
    def postings: DataFrame = store.read(postingsTable)
    def dim: Int = m * subDim
    def pqCb: Pq.Codebook = Pq.Codebook(m, k, subDim, codebook)
    /** The coarse quantizer viewed as a 1-subspace PQ codebook — its
      * lutFor(query) is exactly the numCells L2² cell distances.
      */
    def coarseCb: Pq.Codebook = Pq.Codebook(1, numCells, dim, coarse)
  }

  private def metaName(name: String) = s"${name}_pq_meta"
  private def postingsName(name: String) = s"${name}_pq_postings"

  /** Coarse cell id for a vector column: argmin-L2 over the cell
    * centroids via pq_encode with m=1 (ties → lowest cell id).
    */
  private def cellExpr(vec: org.apache.spark.sql.Column,
      coarse: Array[Double]): org.apache.spark.sql.Column =
    element_at(
      call_function("pq_encode", vec, lit(coarse), lit(1)), 1)

  /** Train both quantizers (driver-side Lloyd on the bounded id-ordered
    * sample, [[Pq.train]]) and persist: one map-only encode+assign pass
    * over the corpus, one cell-partitioned write.
    */
  def build(store: TableStore, name: String, corpus: DataFrame,
      numCells: Int, m: Int, k: Int, iters: Int = 3,
      sampleCap: Int = 16384, residual: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): Handle = {
    Pq.register(store.spark)
    val sample = Pq.collectSample(corpus, sampleCap, idCol, vecCol)
    val coarseCb = Pq.trainOnSample(sample, m = 1, k = numCells, iters = iters)
    // residual mode (faiss IVFPQ proper): the PQ codebooks are trained
    // on coarse-cell RESIDUALS, which have far less variance than raw
    // vectors — the same byte budget quantizes them much more tightly
    val pqCb =
      if (residual) {
        // rotate the residual sample past the coarse seeds: sample row
        // j < numCells IS coarse centroid j (id-ordered init), so its
        // residual is exactly the zero vector — seeding the k-means init
        // from those would collapse the whole residual codebook to zeros
        val r = sample.map(coarseCb.residualOf)
        // the rotation only avoids the zero residuals when enough
        // NON-seed rows exist to fill the k inits; with fewer the wrap
        // silently re-admits the zeros and collapses the codebook —
        // fail loudly instead (and the sim_pq_residual oracle's
        // LIMIT/OFFSET convention assumes the same bound)
        require(r.length >= numCells + k,
          s"residual build needs >= numCells+k = ${numCells + k} training " +
            s"vectors (got ${r.length}) — rows 0..${numCells - 1} are the " +
            "coarse seeds whose residuals are identically zero")
        Pq.trainOnSample(r.drop(numCells) ++ r.take(numCells), m, k, iters)
      } else Pq.trainOnSample(sample, m, k, iters)
    val h = Handle(store, name, idCol, vecCol, m, k, pqCb.subDim, numCells,
      pqCb.flat, coarseCb.flat, residual)
    import store.spark.implicits._
    val meta = Seq((m, k, pqCb.subDim, numCells, pqCb.flat.toSeq,
        coarseCb.flat.toSeq, residual))
      .toDF("m", "k", "sub_dim", "num_cells", "codebook", "coarse", "residual")
    store.overwrite(h.metaTable, meta, numFiles = 1)
    val assigned = corpus.select(
        col(idCol),
        codeExpr(h, col(vecCol)).as("pq_code"),
        cellExpr(col(vecCol), coarseCb.flat).as("cell_id"))
      .repartition(col("cell_id")) // one-ish file per cell (AnnIndex lesson)
    store.overwrite(h.postingsTable, assigned, partitionBy = Seq("cell_id"))
    h
  }

  /** The posting payload: packed residual codes in residual mode, packed
    * raw-vector codes otherwise.
    */
  private def codeExpr(h: Handle,
      vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (h.residual)
      call_function("pq_encode_residual",
        vec, lit(h.coarse), lit(h.codebook), lit(h.m))
    else
      call_function("pq_encode_packed", vec, lit(h.codebook), lit(h.m))

  /** Reattach to a persisted index (any session): reads the one-row
    * meta table back to the driver.
    */
  def open(store: TableStore, name: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Handle = {
    require(store.exists(metaName(name)) && store.exists(postingsName(name)),
      s"no persisted PQ index '$name' in warehouse ${store.root}")
    val r = store.read(metaName(name)).collect()
    require(r.length == 1, s"corrupt PQ meta for '$name': ${r.length} rows")
    val row = r.head
    def darr(field: String): Array[Double] =
      row.getSeq[Double](row.fieldIndex(field)).toArray
    Handle(store, name, idCol, vecCol,
      row.getInt(row.fieldIndex("m")), row.getInt(row.fieldIndex("k")),
      row.getInt(row.fieldIndex("sub_dim")), row.getInt(row.fieldIndex("num_cells")),
      darr("codebook"), darr("coarse"),
      row.getBoolean(row.fieldIndex("residual")))
  }

  /** ADC top-k within the probed cells. Output (query_id, corpus_id,
    * rank, adc) by (adc asc, corpus_id asc), self-matches excluded.
    */
  def search(h: Handle, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= h.numCells, s"bad nprobe $nprobe")
    val spark = h.store.spark
    Pq.register(spark)
    val qRows = queries
      .select(col(h.idCol).cast("long"), col(h.vecCol).cast("array<double>"))
      .collect()
    require(qRows.length <= 4096,
      s"query batch of ${qRows.length} too large to LUT-broadcast — split it")
    import spark.implicits._
    val pqCb = h.pqCb; val coarseCb = h.coarseCb
    // one (query, cell, lut) row per probe: in residual mode the LUT is
    // cell-specific (distances of the query RESIDUAL to the residual
    // codebooks); in raw mode the same LUT is shared across the probes
    val probes = qRows.toSeq.flatMap { r =>
      val qv = r.getSeq[Any](1).iterator.map {
        case null => 0.0
        case d: java.lang.Double => d.doubleValue
      }.toArray
      val cellDists = coarseCb.lutFor(qv) // numCells L2² distances
      val cells = cellDists.zipWithIndex
        .sortBy { case (d, c) => (d, c) }.take(nprobe).map(_._2)
      lazy val rawLut = pqCb.lutFor(qv)
      cells.map { cell =>
        val lut =
          if (h.residual) {
            val qr = Array.tabulate(h.dim)(i => qv(i) - h.coarse(cell * h.dim + i))
            pqCb.lutFor(qr)
          } else rawLut
        (r.getLong(0), lut, cell)
      }
    }
    val union = probes.map(_._3).distinct.map(Int.box)
    val q = probes.toDF("query_id", "lut", "cell_id")
    val scored = h.postings
      .filter(col("cell_id").isin(union: _*)) // static partition prune
      .join(broadcast(q), Seq("cell_id"))
      .filter(col(h.idCol) =!= col("query_id"))
      .withColumn("corpus_id", col(h.idCol))
      .withColumn("score", -call_function("pq_adc", col("pq_code"), col("lut")))
    Similarity.topKPerGroup(scored, col("query_id"), k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        (-col("score")).as("adc"))
  }

  /** Join-form bulk serve: [[search]] with NO driver collect of the
    * query set and therefore no 4096-query LUT-broadcast ceiling — the
    * offline batch-scoring path (score the whole query table against
    * the index in one job).
    *
    * Queries stay a DataFrame end to end: probe-cell selection
    * ([[graft.expressions.PqProbeCells]]), per-probe residuals and ADC
    * LUTs ([[graft.expressions.PqCellResidual]] /
    * [[graft.expressions.PqQueryLut]]) are native expressions computed
    * DISTRIBUTED, arithmetic-identical to the driver-side kernels — so
    * results are BIT-equal to [[search]] (PqIndexSpec pins it). The
    * probed (query, cell, lut) rows then shuffle-join the postings on
    * cell_id; at 100k+ queries most cells are probed by someone, so a
    * full postings scan co-partitioned on cell_id IS the right plan —
    * static partition pruning only pays when the probe set is small,
    * which is [[search]]'s regime.
    */
  def searchBulk(h: Handle, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= h.numCells, s"bad nprobe $nprobe")
    val spark = h.store.spark
    Pq.register(spark)
    val q = queries.select(
      col(h.idCol).cast("long").as("query_id"),
      col(h.vecCol).cast("array<double>").as("__qv"))
    val probed = q
      .withColumn("cell_id",
        explode(call_function("pq_probe_cells",
          col("__qv"), lit(h.coarse), lit(nprobe))))
    val withLut = (
      if (h.residual)
        probed.withColumn("lut",
          call_function("pq_query_lut",
            call_function("pq_cell_residual",
              col("__qv"), lit(h.coarse), col("cell_id")),
            lit(h.codebook), lit(h.m)))
      else
        probed.withColumn("lut",
          call_function("pq_query_lut", col("__qv"), lit(h.codebook), lit(h.m)))
      ).select(col("query_id"), col("cell_id"), col("lut"))
      // exchange barrier = materialization point: without it,
      // CollapseProject inlines the LUT expression into the post-join
      // projection and the m·k·subDim LUT build re-runs PER SCORED PAIR
      // (measured 144 s for a 100k-query serve that takes ~5 s with the
      // barrier — the [[graft.expressions.VectorExprs]] vecUnit lesson,
      // again). The join needs this exact partitioning anyway.
      .repartition(col("cell_id"))
    val scored = h.postings
      .join(withLut, Seq("cell_id"))
      .filter(col(h.idCol) =!= col("query_id"))
      .withColumn("corpus_id", col(h.idCol))
      .withColumn("score", -call_function("pq_adc", col("pq_code"), col("lut")))
    Similarity.topKPerGroup(scored, col("query_id"), k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        (-col("score")).as("adc"))
  }

  /** Shortlist via [[search]], exact L2² re-rank against the raw corpus
    * (the faiss refine stage) — shortlist×queries point lookups of raw
    * vectors, never a corpus scan.
    */
  def searchReranked(h: Handle, corpus: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < topK $k")
    val spark = h.store.spark
    graft.expressions.VectorExprs.register(spark)
    import graft.expressions.VectorExprs.vecDot
    val cand = search(h, queries, shortlist, nprobe)
      .select(col("query_id"), col("corpus_id"))
    val q = queries.select(
      col(h.idCol).cast("long").as("query_id"), col(h.vecCol).as("__qv"))
    val scored = cand
      .join(corpus.select(col(h.idCol).as("corpus_id"), col(h.vecCol).as("__cv")),
        "corpus_id")
      .join(broadcast(q), "query_id")
      .withColumn("score",
        -(vecDot(col("__cv"), col("__cv"))
          - lit(2.0) * vecDot(col("__cv"), col("__qv"))
          + vecDot(col("__qv"), col("__qv"))))
    Similarity.topKPerGroup(scored, col("query_id"), k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        (-col("score")).as("dist"))
  }

  /** Serve a STREAM of query vectors against the persisted index — the
    * [[AnnIndex.serveStream]] contract on the PQ layout: each
    * micro-batch runs the partition-pruned ADC [[search]] and lands
    * results in `resultTable` PARTITIONED BY batch_id via a
    * partition-overwrite of the batch's own partition (idempotent on
    * replay), under the (appId, batchId) once-only ledger. Pass a
    * durable `checkpointDir` in production — without one a restarted
    * query renumbers batches from 0 and the ledger would skip them.
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

  /** Incremental maintenance: encode+assign the new batch against the
    * FROZEN quantizers (standard IVF practice — codebooks drift only on
    * rebuild) and merge via partition-aligned copy-on-write — cost
    * O(touched cells), untouched cell partitions keep their files
    * byte-for-byte. Same new-ids-only contract as [[AnnIndex.append]]:
    * a re-embedded id could land in a different cell than its old row,
    * so collisions within touched cells are refused loudly.
    */
  def append(h: Handle, newVectors: DataFrame): Handle = {
    Pq.register(h.store.spark)
    val assigned = newVectors.select(
        col(h.idCol),
        codeExpr(h, col(h.vecCol)).as("pq_code"),
        cellExpr(col(h.vecCol), h.coarse).as("cell_id"))
      .transform(Freeze.eager) // freeze: feeds both the touch list and the merge
    val touched = assigned.select(col("cell_id")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    if (touched.nonEmpty) {
      val existing = h.postings.filter(col("cell_id").isin(touched: _*))
      val dup = existing.select(col(h.idCol))
        .join(assigned.select(col(h.idCol)), Seq(h.idCol)).limit(1).collect()
      require(dup.isEmpty,
        s"append would duplicate ${h.idCol}=${dup.head.get(0)} — ids must be new " +
          s"(deleteWhere the old rows first, or rebuild)")
      val merged = existing.unionByName(
          assigned.select(existing.columns.map(col): _*))
        .repartition(col("cell_id"))
      h.store.overwritePartitions(h.postingsTable, merged, "cell_id", touched)
    }
    h
  }
}
