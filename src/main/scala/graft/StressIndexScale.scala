package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Freeze, LshTextIndex, PqIndex, TableStore}

/** Scale study for the PERSISTED INDEX family (VERDICT r7 item 4):
  * PqIndex / AnnIndex / LshTextIndex build + probe at 1×, 10×, 100× of
  * sf0.1, recording build seconds, probe seconds, and index-size bytes
  * so SCALE.md can state measured exponents instead of design claims.
  *
  * Corpus replication:
  *  - embeddings: per-replica Rademacher sign flips (the [[StressAnn]]
  *    construction — preserves norms and within-replica geometry, makes
  *    replicas mutually near-orthogonal, so the neighbor structure is k
  *    disjoint copies of the base corpus's, not a degenerate pile-up);
  *  - documents: per-token replica suffixes (the [[graft.tools.MakeScaled]]
  *    lesson — disjoint token alphabets, cross-replica jaccard 0, so
  *    near-dup work scales like a genuinely bigger corpus).
  *
  * Also measures the 100k-query PQ BULK serve (searchBulk — the
  * join-form path with no driver collect) against the base corpus: the
  * offline batch-scoring shape the 4096-ceiling removal exists for.
  *
  * Usage: runMain graft.StressIndexScale <sfDir> <k> [cpus] [bulkQueries]
  */
object StressIndexScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val cpus = if (args.length > 2) args(2).toInt else 32
    val bulkQueries = if (args.length > 3) args(3).toInt else 0
    val spark = GraftSession.builder("graft-stress-indexscale", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val store = new TableStore(spark,
      graft.queries.GateScratch.dir("graft-idxscale-").toString)

    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[idxscale] k=$k $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def dirBytes(table: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(store.path(table)))
    }

    // ---- replicated corpora -------------------------------------------
    val baseEmb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val reps = spark.range(k).select(col("id").cast("int").as("rep"))
    val stride = 10000000L
    val corpus = baseEmb.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep").cast("long") * stride).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(pmod(hash(col("rep"), i), lit(2)) === 0, x)
            .otherwise(-x)).as("embedding"))
      .repartition(cpus * 2)
      .transform(Freeze.eager)
    val nVec = corpus.count()
    val rawVecBytes = nVec * 64L * 4 // float32 payload for the size ratio
    println(s"[idxscale] k=$k embeddings: $nVec vectors")

    val baseDocs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val docs = baseDocs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep").cast("long") * stride).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("_r"), col("rep"))), " ")).as("text"))
      .repartition(cpus * 2)
      .transform(Freeze.eager)
    val nDocs = docs.count()
    println(s"[idxscale] k=$k documents: $nDocs docs")

    val queries = corpus.filter(pmod(col("vec_id"), lit(stride)) < 64)
      .limit(64).transform(Freeze.eager)
    queries.count()

    // ---- PqIndex (residual IVF-PQ) -------------------------------------
    val numCells = math.max(16, math.sqrt(nVec.toDouble).toInt / 2)
    val hPq = timed(s"pq build (numCells=$numCells)") {
      PqIndex.build(store, "pq", corpus, numCells = numCells, m = 8, k = 16,
        iters = 2, residual = true)
    }
    println(s"[idxscale] k=$k pq index bytes: ${dirBytes(hPq.postingsTable)} " +
      s"(raw f32 corpus ~$rawVecBytes)")
    timed("pq probe (64 queries, nprobe=4)") {
      PqIndex.search(hPq, queries, k = 10, nprobe = 4).count()
    }
    if (bulkQueries > 0) {
      val bulkReps = (bulkQueries / nVec + 1).toInt
      // distinct query ids: corpus ids live under stride*k, replicas
      // offset above that
      val bulk = corpus.crossJoin(
          spark.range(bulkReps).select(col("id").as("qrep")))
        .select((col("vec_id") + col("qrep") * (stride * k)).as("vec_id"),
          col("embedding"))
        .limit(bulkQueries).transform(Freeze.eager)
      val nb = bulk.count()
      timed(s"pq BULK serve ($nb queries, nprobe=4, join-form)") {
        PqIndex.searchBulk(hPq, bulk, k = 10, nprobe = 4).count()
      }
    }

    // ---- AnnIndex (IVF flat) -------------------------------------------
    val hAnn = timed(s"ann build (numCells=$numCells)") {
      AnnIndex.build(store, "ann", corpus, numCells = numCells)
    }
    println(s"[idxscale] k=$k ann index bytes: ${dirBytes("ann_ann_postings")}")
    timed("ann probe (64 queries, nprobe=4)") {
      AnnIndex.search(hAnn, queries, k = 10, nprobe = 4).count()
    }

    // ---- LshTextIndex ---------------------------------------------------
    val hLsh = timed("lsh build") {
      LshTextIndex.build(store, "lsh", docs)
    }
    val lshBytes = Seq(hLsh.toksTable, hLsh.sigsTable, hLsh.bucketsTable)
      .map(dirBytes).sum
    println(s"[idxscale] k=$k lsh index bytes: $lshBytes")
    // probe a 1%-of-base batch of NEW docs (exact dups of indexed ones:
    // guaranteed candidate work, constant batch size across k)
    val newDocs = baseDocs.filter(col("doc_id") % 100 === 3)
      .select((col("doc_id") + lit(stride * (k + 1))).as("doc_id"), col("text"))
    timed(s"lsh probe (${newDocs.count()} new docs)") {
      LshTextIndex.probe(hLsh, newDocs, threshold = 0.9).count()
    }

    spark.stop()
  }
}
