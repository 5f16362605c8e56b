package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Freeze, Similarity, TableStore}

/** Incremental-ANN cost study (VERDICT r11 item 3's second half): a
  * daily embedding batch lands in a persisted IVF index via
  * [[AnnIndex.append]] — frozen centroids, copy-on-write of only the
  * touched `cell_id=N/` partitions — instead of a full re-encode.
  * This measures the append-vs-rebuild split across corpus decades
  * with a FIXED batch size (the production shape: the corpus grows,
  * the daily batch doesn't).
  *
  * Expected shape, stated honestly: a batch of b vectors touches at
  * most b cells of ~√n, each holding ~√n vectors, so append pays
  * O(b·√n) assignment + O(min(b,cells)·√n) partition rewrite — NOT
  * constant, but √n against the rebuild's O(n·√n); the ratio widens
  * a decade per corpus decade. The run prints both times and bytes
  * read per decade; SCALE.md records the measured exponents.
  *
  * Usage: runMain graft.StressAnnAppend <sfDir> [cpus] [batchSize]
  */
object StressAnnAppend {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = if (args.length > 1) args(1).toInt else 16
    val batchSize = if (args.length > 2) args(2).toInt else 50
    val spark = GraftSession.builder("graft-stress-annappend", cpus).getOrCreate()
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
      println(f"[stress-annappend] $label%-38s $secs%6.2f s  read=${bytesRead.get / 1e6}%8.1f MB")
      r
    }

    for (k <- Seq(1, 4, 16)) {
      // k sign-flip replicas (the StressAnn construction: distinct
      // geometry, preserved norms) = the corpus decade; the batch is a
      // FIXED-size slice under fresh ids, same distribution
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
      val batch = base.limit(batchSize)
        .select((col("vec_id") + lit(900000000L)).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
        .transform(Freeze.eager)
      val cells = math.max(16, math.sqrt(n.toDouble).toInt)
      println(s"[stress-annappend] === n=$n cells=$cells batch=$batchSize ===")

      val root = graft.queries.GateScratch.dir("graft-stress-append-").toString
      val store = new TableStore(spark, root)
      timed(s"build(n=$n)") {
        AnnIndex.build(store, "inc", corpus, numCells = cells)
      }
      val h = AnnIndex.open(store, "inc")
      timed(s"append(batch=$batchSize)") {
        AnnIndex.append(h, batch)
      }
      timed(s"rebuild(n=${n + batchSize})") {
        AnnIndex.build(store, "full", corpus.unionByName(batch), numCells = cells)
      }
      // serve sanity: the appended index answers a query batch
      val q = corpus.filter(pmod(col("vec_id"), lit(10000000L)) < 4)
        .limit(8).transform(Freeze.eager)
      timed("probe_after_append(q=8)") {
        AnnIndex.search(h, q, k = 10, nprobe = math.max(4, cells / 16))
          .transform(Freeze.eager)
      }
    }
    spark.stop()
  }
}
