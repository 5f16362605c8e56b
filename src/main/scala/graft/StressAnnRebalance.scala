package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Freeze, TableStore}

/** IVF cell-rebalance cost study (VERDICT r12 item 6's second half):
  * [[AnnIndex.rebalance]] claims O(split-cell rows × centroids), never
  * O(index) — this measures it against the full rebuild across corpus
  * decades, with the SAME oversize threshold policy at every decade
  * (1.2× the mean cell size, so natural assignment variance yields a
  * handful of split cells per run).
  *
  * Expected shape, stated honestly: a split cell holds ~n/cells ≈ √n
  * vectors, so rebalancing s cells pays O(s·√n·cells) = O(s·n)
  * assignment arithmetic but only O(s·√n) partition IO, against the
  * rebuild's O(n·√n) IO + O(n·cells) arithmetic — bytes read is the
  * honest separator (the study prints both), and it should widen a
  * decade per corpus decade at fixed s.
  *
  * Usage: runMain graft.StressAnnRebalance <sfDir> [cpus]
  */
object StressAnnRebalance {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = if (args.length > 1) args(1).toInt else 16
    val spark = GraftSession.builder("graft-stress-annreb", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      })
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      bytesRead.set(0L)
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      println(f"[stress-annreb] $label%-40s $secs%6.2f s  read=${bytesRead.get / 1e6}%8.1f MB")
      r
    }

    for (k <- Seq(1, 4, 16)) {
      // the StressAnn sign-flip replica construction: k distinct
      // geometries, preserved norms = the corpus decade
      val replicas = spark.range(k).select(col("id").cast("int").as("rep"))
      val corpus = base.crossJoin(replicas)
        .select(
          (col("vec_id") + col("rep").cast("long") * 10000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(pmod(hash(col("rep"), i), lit(2)) === 0, x)
              .otherwise(-x)).as("embedding"))
        .repartition(cpus * 2)
        .transform(Freeze.eager)
      val n = corpus.count()
      val cells = math.max(16, math.sqrt(n.toDouble).toInt)
      val root = graft.queries.GateScratch.dir("graft-stress-reb-").toString
      val store = new TableStore(spark, root)
      timed(s"build(n=$n cells=$cells)") {
        AnnIndex.build(store, "reb", corpus, numCells = cells)
      }
      val h = AnnIndex.open(store, "reb")
      val threshold = (1.2 * n / cells).toLong
      val splits = h.postings.groupBy(col("cell_id")).count()
        .filter(col("count") > threshold).count()
      println(s"[stress-annreb] === n=$n cells=$cells threshold=$threshold splits=$splits ===")
      timed(s"rebalance(splits=$splits)") {
        AnnIndex.rebalance(h, maxCellSize = threshold, subCells = 2,
          refineIterations = 1)
      }
      timed(s"rebuild(n=$n cells=${cells + splits})") {
        AnnIndex.build(store, "full", corpus, numCells = cells + splits.toInt)
      }
      // probe sanity: the rebalanced index still serves
      val q = corpus.filter(pmod(col("vec_id"), lit(10000000L)) < 4)
        .limit(8).transform(Freeze.eager)
      timed("probe_after_rebalance(q=8)") {
        AnnIndex.search(h, q, k = 10, nprobe = math.max(4, cells / 16))
          .transform(Freeze.eager)
      }
    }
    spark.stop()
  }
}
