package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global total-order assignment at scale — row numbers, dense group
  * indices, and identity columns WITHOUT the classic scale-killer
  * `Window.orderBy(...)` over an un-partitioned frame (which funnels the
  * whole table through ONE reducer).
  *
  * Shape: two-phase distributed prefix counting, the same pattern as
  * [[Sampling.selectByTokenBudget]]'s token prefix sum —
  *   1. range-partition on the target order (each partition holds a
  *      contiguous slice of the total order, all partitions in parallel),
  *   2. number rows WITHIN each partition (partition-local window),
  *   3. add each partition's global row offset (an aggregate with one row
  *      PER PARTITION, broadcast back).
  * The result is exactly `ROW_NUMBER() OVER (ORDER BY ...)` — bit-equal,
  * layout-invariant when the order is total — at the cost of one range
  * shuffle instead of a single-reducer sort.
  */
object TotalOrder {

  /** A global window over a PROVABLY BOUNDED frame — a calendar day
    * spine, a funnel's stage list, ≤`shuffle.partitions` per-partition
    * summaries, ≤√n centroids. Partitioning by a constant is
    * semantically identical to `Window.orderBy(...)` (one partition
    * holds the whole frame; the optimizer folds the constant key away
    * before the physical plan, so nothing changes at WindowExec — whose
    * "No Partition Defined" WARN is silenced wholesale in GraftSession).
    * What this call REALLY does is mark the call site for the
    * STRUCTURAL guard that replaced the log line: the non-empty
    * analyzed-plan partitionSpec exempts the window from
    * [[graft.tools.GlobalWindowScan]]'s RAW-funnel audit (which fails
    * the build on any unpartitioned window over table-sized input).
    * That exemption is an UNCHECKED assertion — use ONLY where input
    * cardinality is bounded by construction, and carry the boundedness
    * argument in a comment at each call site (VERDICT r8 item 6).
    */
  def boundedGlobal(order: Column*): org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(lit(0)).orderBy(order: _*)

  /** Runtime audit for [[boundedGlobal]]'s UNCHECKED boundedness claim
    * (ADVICE r9): identity unless `-Dgraft.bounded.check=1` (or env
    * `SPARK_GRAFT_BOUNDED_CHECK=1`) is set — then the frame feeding a
    * declared-bounded global window is counted ONCE through a
    * `limit(cap+1)` probe (the probe itself can never scan past the
    * cap) and a FALSE claim fails loudly with the call site's label,
    * instead of regressing silently to a single-reducer funnel that
    * neither the quieted WindowExec logger nor GlobalWindowScan's
    * static partitionSpec exemption would surface. Wrap the window's
    * input frame at every boundedGlobal call site; run one flagged
    * verify per round, pay nothing in production.
    */
  def checkBounded(df: DataFrame, what: String,
      cap: Long = 2000000L): DataFrame = {
    val on = sys.props.get("graft.bounded.check")
      .orElse(sys.env.get("SPARK_GRAFT_BOUNDED_CHECK")).contains("1")
    if (!on) df
    else {
      val probe = df.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).count()
      require(probe <= cap,
        s"boundedGlobal frame '$what' holds > $cap rows — the boundedness " +
          "claim at this call site is FALSE; this window funnels a " +
          "data-sized frame through one reducer (use TotalOrder's " +
          "distributed prefix machinery instead)")
      df
    }
  }

  /** `ROW_NUMBER() OVER (ORDER BY order...)` as `outCol`, distributed.
    *
    * The caller's `order` should be TOTAL (tie-break on a unique id) —
    * with ties the assignment within a tie group is arbitrary, exactly
    * like the window function it replaces.
    */
  def rowNumber(df: DataFrame, order: Seq[Column], outCol: String = "rn"): DataFrame =
    rowNumberWithTotal(df, order, outCol)._1

  /** [[rowNumber]] plus the TOTAL row count the pass already collected
    * (the per-partition count frame is driver-side) — callers that need
    * `COUNT(*) OVER ()` next to the rank ([[rowNumberWithCount]],
    * [[ntile]]) read it from here instead of re-running the whole
    * rank pipeline through a second aggregate (r14-opt, guide §1.2
    * "don't compute things you throw away").
    */
  private def rowNumberWithTotal(
      df: DataFrame, order: Seq[Column], outCol: String): (DataFrame, Long) = {
    // freeze the input before the range shuffle: repartitionByRange
    // samples its input to pick boundaries, which would recompute an
    // expensive upstream a second time. LAZY: the boundary-sampling job
    // is the FIRST reader and fills the cache in the pass it samples (an
    // eager freeze paid one extra full pass per call, r13-opt;
    // Dataset.persist was rejected — InMemoryRelation's columnar encode
    // cost more than the saved pass on several gates)
    val slim = df.transform(Freeze.lazily)
    val spark = slim.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    // ONE materializing pass instead of two: the ranged layout is
    // cached lazily and the per-partition COUNT action below both
    // populates that cache (freezing partition ids for the final join)
    // and returns the n-row count frame the offsets need — the r6/r7
    // shape paid a full extra read (eager checkpoint, then a separate
    // count pass over it)
    val ranged = slim
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(Freeze.lazily) // LAZY: the count action below materializes it
    val counts = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__part_rows"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    // prefix offsets over ≤ shuffle.partitions rows: driver arithmetic,
    // not a job
    val offsetRows = counts
      .zip(counts.scanLeft(0L)(_ + _._2))
      .map { case ((pid, _), off) =>
        org.apache.spark.sql.Row(pid, off) }
    val offsets = spark.createDataFrame(
      java.util.Arrays.asList(offsetRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__offset",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val within = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val ranked = ranged
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col("__offset") + row_number().over(within))
      .drop("__pid", "__offset")
    (ranked, counts.map(_._2).sum)
  }

  /** Stable identity column: 1..n in `order`. Alias of [[rowNumber]]
    * with the intent name — the lakehouse "generated identity" column
    * (monotonically_increasing_id leaves gaps; this does not).
    */
  def identityColumn(df: DataFrame, order: Seq[Column], outCol: String = "id"): DataFrame =
    rowNumber(df, order, outCol)

  /** Distributed running aggregates over a global order — the general
    * form of [[rowNumber]] for `SUM(x) OVER (ORDER BY … ROWS UNBOUNDED
    * PRECEDING)` (prefix sums) and `LAST_VALUE(x IGNORE NULLS) OVER
    * (ORDER BY …)` (prefix max of an orderable value — the last non-null
    * in sort order IS the max of `struct(orderKey…, payload)`).
    *
    * Same two-phase shape: range partition on the order, aggregate once
    * per PARTITION (a ≤`shuffle.partitions`-row frame — the only global
    * window, bounded by construction), broadcast the per-partition
    * prefix offsets back, and combine with the partition-local running
    * aggregate. One range shuffle, no single-reducer sort, bit-equal to
    * the un-partitioned window when the order is total.
    *
    * `sums` / `maxes` map input column → output column. `rnCol`
    * additionally emits `ROW_NUMBER() OVER (ORDER BY order…)`, sharing
    * the same shuffle. Max offsets combine via `greatest` (null-skipping,
    * matching `IGNORE NULLS`); sum inputs follow SQL sum null-skipping.
    *
    * `suffixMaxes` computes the mirror-image running max over rows AT OR
    * AFTER the current position in the SAME ascending layout
    * (`ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING` within a
    * partition, plus the max of every HIGHER range partition) — so a
    * forward walk and a backward walk (the nearest-neighbor-join pattern:
    * closest candidate below AND above each probe) share ONE range
    * shuffle instead of paying a second reversed-order pass.
    */
  def prefixAggs(
      df: DataFrame,
      order: Seq[Column],
      sums: Seq[(String, String)] = Nil,
      maxes: Seq[(String, String)] = Nil,
      rnCol: Option[String] = None,
      suffixMaxes: Seq[(String, String)] = Nil): DataFrame = {
    // lazy checkpoint for the same one-pass-saved reason as [[rowNumber]]
    val slim = df.transform(Freeze.lazily)
    val spark = slim.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    // same single-materializing-pass shape as [[rowNumber]]: the cache
    // is populated by the per-partition aggregate action, and the
    // offsets window then runs over a COLLECTED literal frame (≤ n
    // rows) — keeping the offset arithmetic in Spark SQL preserves the
    // exact sum/max type semantics (longs, decimals, null skipping)
    // for every aggregate input type
    val ranged = slim
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(Freeze.lazily) // LAZY: the count action below materializes it
    val perPartDistributed = ranged.groupBy(col("__pid")).agg(
      count(lit(1)).as("__part_rows"),
      (sums.map { case (in, _) => sum(col(in)).as(s"__s_$in") } ++
        maxes.map { case (in, _) => max(col(in)).as(s"__m_$in") } ++
        suffixMaxes.map { case (in, _) => max(col(in)).as(s"__sm_$in") }): _*)
    val perPart = spark.createDataFrame(
      java.util.Arrays.asList(perPartDistributed.collect(): _*),
      perPartDistributed.schema)
    // bounded: `perPart` is the collected ≤`shuffle.partitions`-row
    // per-partition summary frame, never data-sized
    val wPrev = boundedGlobal(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // suffix offsets come from the HIGHER range partitions
    val wNext = boundedGlobal(col("__pid").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // distinct offset prefixes per aggregate KIND: one column in both
    // `sums` and `maxes` (running total + running high-water-mark of
    // the same metric) must not collide into one ambiguous __off name
    val offsets = perPart.select(
      col("__pid") +:
        (Seq(coalesce(sum(col("__part_rows")).over(wPrev), lit(0L)).as("__rn_off")) ++
          sums.map { case (in, _) =>
            sum(col(s"__s_$in")).over(wPrev).as(s"__soff_$in") } ++
          maxes.map { case (in, _) =>
            max(col(s"__m_$in")).over(wPrev).as(s"__moff_$in") } ++
          suffixMaxes.map { case (in, _) =>
            max(col(s"__sm_$in")).over(wNext).as(s"__smoff_$in") }): _*)
    val within = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    var out = ranged.join(broadcast(offsets), Seq("__pid"))
    for ((in, outC) <- sums) out = out.withColumn(outC,
      when(col(s"__soff_$in").isNull, sum(col(in)).over(within))
        .otherwise(col(s"__soff_$in") + coalesce(sum(col(in)).over(within), lit(0))))
    for ((in, outC) <- maxes) out = out.withColumn(outC,
      greatest(col(s"__moff_$in"), max(col(in)).over(within)))
    val withinSuffix = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    for ((in, outC) <- suffixMaxes) out = out.withColumn(outC,
      greatest(col(s"__smoff_$in"), max(col(in)).over(withinSuffix)))
    for (rc <- rnCol) out = out.withColumn(rc,
      col("__rn_off") + row_number().over(
        Window.partitionBy(col("__pid")).orderBy(order: _*)))
    out.drop(("__pid" +: "__rn_off" +:
      (sums.map { case (in, _) => s"__soff_$in" } ++
        maxes.map { case (in, _) => s"__moff_$in" } ++
        suffixMaxes.map { case (in, _) => s"__smoff_$in" })): _*)
  }

  /** `SUM(valueCol) OVER (ORDER BY order ROWS UNBOUNDED PRECEDING)`
    * distributed — running total without the single-reducer sort.
    */
  def prefixSum(df: DataFrame, order: Seq[Column], valueCol: String,
      outCol: String): DataFrame =
    prefixAggs(df, order, sums = Seq(valueCol -> outCol))

  /** [[rowNumber]] plus the total count broadcast onto every row — the
    * distributed form of the `ROW_NUMBER() OVER (ORDER BY …)` +
    * `COUNT(*) OVER ()` pair that exact order statistics (medians,
    * quantile cut rows, ECDF positions) are built from. The count side
    * re-reads [[rowNumber]]'s internal cache of the ranged layout, and
    * the 1-row frame broadcasts.
    */
  def rowNumberWithCount(df: DataFrame, order: Seq[Column],
      rnCol: String = "rn", nCol: String = "n"): DataFrame = {
    // the total is already on the driver (the per-partition count frame
    // the offsets came from) — the old crossJoin(agg) re-ran the whole
    // ranked pipeline (cache read + broadcast join + window) once more
    // just to count it (r14-opt); same exact LONG value, same column
    val (ranked, total) = rowNumberWithTotal(df, order, rnCol)
    ranked.withColumn(nCol, lit(total))
  }

  /** `NTILE(k) OVER (ORDER BY order...)` distributed: [[rowNumber]] plus
    * the standard larger-buckets-first assignment (first `n % k` buckets
    * get `n/k + 1` rows) — bit-equal to the window `ntile`, one range
    * shuffle + a broadcast count instead of a single-reducer sort.
    */
  def ntile(df: DataFrame, order: Seq[Column], k: Int,
      outCol: String): DataFrame = {
    // n comes from the rank pass's own driver-side count — the old
    // agg + crossJoin(broadcast) re-ran the ranked pipeline once more
    // just to count it (r14-opt). q and r are the same values the
    // in-plan `floor(n / k)` / `n % k` produced (double-division floor
    // equals integer division while n < 2^53, which rowNumber's LONG
    // ranks already assume).
    val (withRn, total) = rowNumberWithTotal(df, order, "__ntile_rn")
    val rn = col("__ntile_rn")
    val q = lit(total / k); val r = lit(total % k)
    withRn
      .withColumn(outCol,
        when(rn <= r * (q + 1), floor((rn - 1) / (q + 1)) + 1)
          .otherwise(r + floor((rn - r * (q + 1) - 1) / q) + 1)
          .cast("int"))
      .drop("__ntile_rn")
  }

  /** `DENSE_RANK() OVER (ORDER BY keys...)` distributed: a dense 1..k
    * index over the DISTINCT key tuples (k = distinct count), joined
    * back. The distinct side is group-cardinality-sized, so Catalyst
    * auto-broadcasts it when it fits — deliberately NOT a broadcast()
    * hint, which would force a high-cardinality key set through the
    * driver instead of falling back to a shuffled hash join.
    */
  def denseIndex(df: DataFrame, keys: Seq[String], outCol: String = "idx"): DataFrame = {
    val distinctKeys = df.select(keys.map(col): _*).distinct()
    val indexed = rowNumber(distinctKeys, keys.map(c => col(c).asc), outCol)
    // null-safe join-back: distinct() emits a null-key tuple and the
    // window form ranks it, so a plain equality join would silently
    // drop every null-keyed input row from the "bit-equal" result
    val l = df.as("l"); val r = indexed.as("r")
    val cond = keys.map(c => col(s"l.$c") <=> col(s"r.$c")).reduce(_ && _)
    l.join(r, cond)
      .select(keys.map(c => col(s"l.$c").as(c)) ++
        df.columns.filterNot(keys.contains).map(c => col(s"l.$c").as(c)) :+
        col(s"r.$outCol").as(outCol): _*)
  }
}
