package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Freeze, TableStore}

/** Small-files stress: the classic lakehouse failure mode measured.
  * The ×100 events table (60M rows) is written three ways — shattered
  * into thousands of small files (what per-batch appends produce),
  * OPTIMIZE-compacted to a sane file count, and compacted+z-ordered —
  * and the same selective scan + full aggregate run against each.
  *
  * What it isolates: footer/open overhead per file (the scan plans one
  * split per tiny file), min/max pruning efficacy after clustering, and
  * that the engine's own `TableStore.compact` / `overwriteClustered`
  * close the gap. At 100 TB the shattered layout is not 2× slower, it
  * is a cluster outage — listing and opening 10^7 files dominates I/O.
  *
  * Usage: runMain graft.StressCompact [replicas] [cpus]
  * Results recorded in SCALE.md.
  */
object StressCompact {
  def main(args: Array[String]): Unit = {
    val k = if (args.length > 0) args(0).toInt else 100
    val cpus = if (args.length > 1) args(1).toInt else 16
    val shatterFiles = 4000

    val spark = GraftSession.builder("graft-stress-compact", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val reps = spark.range(k).select(col("id").as("rep"))
    val events = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * 1000000000L)
      .drop("rep")
      .transform(Freeze.eager)
    val n = events.count()
    println(s"[compact] corpus: $n event rows, local[$cpus]")

    val store = new TableStore(spark,
      graft.queries.GateScratch.dir("graft-compact-").toString)

    def timeScan(label: String): Unit = {
      def t(what: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[compact] $label%-22s $what%-16s ${(System.nanoTime() - t0) / 1e9}%6.2f s   rows=$r")
      }
      t("selective_scan") {
        store.read("ev")
          .filter(col("user_id").between(100, 120) && col("value") > 50)
          .count()
      }
      t("full_agg") {
        store.read("ev")
          .groupBy(col("event_type"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
          .count()
      }
    }

    // 1. shattered: thousands of tiny files (per-batch append pattern)
    val w0 = System.nanoTime()
    store.overwrite("ev", events.repartition(shatterFiles))
    println(f"[compact] write shattered ($shatterFiles files): ${(System.nanoTime() - w0) / 1e9}%.1f s")
    timeScan(s"shattered_$shatterFiles")

    // 2. OPTIMIZE to one file per core
    val c0 = System.nanoTime()
    store.compact("ev", cpus)
    println(f"[compact] OPTIMIZE -> $cpus files: ${(System.nanoTime() - c0) / 1e9}%.1f s")
    timeScan(s"compacted_$cpus")

    // 3. compact + z-order on the selective-scan dimensions
    val z0 = System.nanoTime()
    store.compactClustered("ev", Seq("user_id", "value"), cpus)
    println(f"[compact] z-order(user_id,value) -> $cpus files: ${(System.nanoTime() - z0) / 1e9}%.1f s")
    timeScan("zordered")

    spark.stop()
  }
}
