package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IncrementalAgg, Merge, TableStore}

/** Scale study for the WRITE/MERGE family (VERDICT r8 item 5): SCD1,
  * SCD2 and IVM refresh at 1× / 10× / 100× of sf0.1, so SCALE.md can
  * state measured exponents for the merge algebra the same way round 8
  * did for the persisted-index family. (OCC's scale axis is writer
  * count × rows-per-commit and is measured by re-running
  * [[StressOcc]] at scaled sizes; streaming-dedup state scaling is
  * [[StressStreamState]].)
  *
  * Replication keeps merge SELECTIVITY constant across k (2 % updates,
  * 1 % inserts of the TARGET size), so the measured growth isolates
  * data volume — the claim under test is that each merge is a constant
  * number of key-wise joins whose cost is ~linear in the bigger side
  * (scd2's joins broadcast the source at every k; scd1's one full outer
  * join shuffles both sides once).
  *
  * Usage: runMain graft.StressWriteScale <sfDir> <k> [cpus] [families]
  *   families: csv subset of scd1,scd2,ivm (default all)
  */
object StressWriteScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val cpus = if (args.length > 2) args(2).toInt else 32
    val families: Set[String] =
      if (args.length > 3) args(3).split(",").toSet
      else Set("scd1", "scd2", "ivm", "aligned")
    val spark = GraftSession.builder("graft-stress-writescale", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[wscale] k=$k $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val stride = 1000000000L
    // orders × k with replica-offset keys: same key density per replica,
    // so per-key join fan-in never grows with k (the realistic shape —
    // a bigger table has more keys, not more rows per key)
    val baseOrders = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    val reps = spark.range(k).select(col("id").as("rep"))
    val target = baseOrders.crossJoin(reps)
      .select(
        (col("o_orderkey") + col("rep") * stride).as("o_orderkey"),
        col("o_custkey"),
        (col("o_totalprice") + col("rep")).as("o_totalprice"),
        col("o_orderstatus"))
      .repartition(cpus * 2)
      .localCheckpoint(true)
    val nRows = target.count()
    println(s"[wscale] k=$k target rows: $nRows")

    // constant SELECTIVITY: 2% of target keys updated, 1% inserted new
    val updates = target.filter(pmod(col("o_orderkey"), lit(50)) === 3)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 2).as("o_totalprice"), col("o_orderstatus"))
    val inserts = target.filter(pmod(col("o_orderkey"), lit(100)) === 7)
      .select((col("o_orderkey") + lit(stride * (k + 1))).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    val source = updates.unionByName(inserts)
      .repartition(cpus).localCheckpoint(true)
    println(s"[wscale] k=$k source rows: ${source.count()}")

    if (families("scd1")) {
      val merged = timed("scd1 merge (join algebra + materialize)") {
        val m = Merge.scd1(target, source, Seq("o_orderkey"),
          Seq("o_totalprice"))
        m.count()
      }
      println(s"[wscale] k=$k scd1 rows out: $merged")
    }

    if (families("scd2")) {
      val t2 = target
        .withColumn("valid_from", lit("2026-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .withColumn("is_current", lit(true))
        .localCheckpoint(true)
      t2.count()
      val merged = timed("scd2 merge (changed-key detect + closeout + reopen)") {
        Merge.scd2(t2, source, Seq("o_orderkey"), Seq("o_totalprice"),
          effectiveDate = "2026-02-01").count()
      }
      println(s"[wscale] k=$k scd2 rows out: $merged")
    }

    if (families("ivm")) {
      val store = new TableStore(spark,
        graft.queries.GateScratch.dir("graft-wscale-ivm-").toString)
      // group cardinality grows with k (o_custkey × replica): the
      // maintained view itself scales, not just the base
      val base = target.select(
        concat(col("o_custkey").cast("string"), lit("#"),
          (col("o_orderkey") / stride).cast("long").cast("string")).as("grp"),
        col("o_totalprice").as("v"))
      timed("ivm base write v0") { store.overwrite("base", base) }
      timed("ivm FULL aggregate (the recompute cost refresh avoids)") {
        store.overwrite("agg",
          IncrementalAgg.fullAggregate(store.read("base"), Seq("grp"), "v"))
      }
      // v1: 1% of rows change value — the delta the view must absorb
      val v1 = store.read("base").select(col("grp"),
        when(pmod(abs(hash(col("grp"))), lit(100)) === 11, col("v") * 2)
          .otherwise(col("v")).as("v"))
      timed("ivm base write v1 (the changed generation)") {
        store.overwrite("base", v1)
      }
      timed("ivm REFRESH from OVERWRITE delta (derived CDC: 2 exceptAlls over both generations)") {
        IncrementalAgg.refresh(store, "agg", "base", 0, 1, Seq("grp"), "v")
      }
      println(s"[wscale] k=$k ivm groups: ${store.read("agg").count()}")
      // the append-shaped nightly load: CDC resolves from the file-list
      // diff (changes() fast path), so the refresh reads ONLY the new
      // rows + the maintained view — O(delta + view), never O(base)
      val delta = target.filter(pmod(col("o_orderkey"), lit(97)) === 13)
        .select(
          concat(col("o_custkey").cast("string"), lit("#"),
            (col("o_orderkey") / stride).cast("long").cast("string")).as("grp"),
          col("o_totalprice").as("v"))
      timed("ivm base APPEND v2 (~1% new rows)") { store.append("base", delta) }
      timed("ivm REFRESH from APPEND delta (file-diff CDC fast path)") {
        IncrementalAgg.refresh(store, "agg", "base", 1, 2, Seq("grp"), "v")
      }
      println(s"[wscale] k=$k ivm groups after append: ${store.read("agg").count()}")
    }

    if (families("aligned")) {
      // The partition-aligned merge claim: with partition SIZE held
      // constant (count grows with data — the time-partitioned layout a
      // real lake uses), a nightly load confined to a bounded partition
      // set costs O(touched), while the full-swap merge costs O(table).
      // P0 buckets per replica → 8k partitions of constant size; the
      // partition value is derivable from the key (the aligned contract).
      val P0 = 8
      val partExpr = ((col("o_orderkey") / stride).cast("long") * P0 +
        pmod(col("o_orderkey"), lit(P0))).cast("int").as("part")
      val ptarget = target.select(col("o_orderkey"), partExpr,
        col("o_totalprice"), col("o_orderstatus"))
      val store = new TableStore(spark,
        graft.queries.GateScratch.dir("graft-wscale-al-").toString)
      timed(s"aligned: partitioned base write (${P0 * k} partitions)") {
        store.overwrite("dim", ptarget, partitionBy = Seq("part"))
      }
      // nightly source: every row of ONE partition (newest replica,
      // bucket 3) re-priced — constant-size source at every k
      val src = ptarget.filter(col("part") === (k - 1) * P0 + 3)
        .select(col("o_orderkey"), col("part"),
          (col("o_totalprice") * 2).as("o_totalprice"), col("o_orderstatus"))
        .localCheckpoint(true)
      println(s"[wscale] k=$k aligned source rows: ${src.count()}")
      timed("aligned: scd1PartitionAligned (O(touched partition))") {
        Merge.scd1PartitionAligned(store, "dim", src,
          Seq("o_orderkey"), Seq("o_totalprice"), "part")
      }
      timed("aligned: mergeInto full swap (same source, O(table))") {
        Merge.mergeInto(store, "dim", src, Seq("o_orderkey"),
          Seq("o_totalprice"), partitionBy = Seq("part"))
      }
    }

    spark.stop()
  }
}
