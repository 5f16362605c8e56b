package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable EXACT pair-concordance counting — the O(n·bucket + B²)
  * replacement for the O(n²) pair join that Harrell's C, Kendall/
  * Mann–Kendall S, and every other "count pairs with x_a < x_b and
  * compare y" statistic is usually written as (e.g. the deliberately
  * bounded ground-truth gate `a93_harrell_cindex` in
  * StatTestsGates — whose scaladoc names this operator's
  * bucket-first decomposition as the scale path).
  *
  * Decomposition: bucket x and y into `buckets` VALUE-RANGE buckets
  * (equal values always share a bucket, bucket order implies value
  * order). Every ordered pair (a, b) with x_a < x_b then falls in
  * exactly one class:
  *
  *   1. same x-bucket   → exact bucket-local join (pairs ≤ n·bucketSize)
  *   2. different x-bucket, same y-bucket → exact bucket-local join
  *   3. different x-bucket AND different y-bucket → the comparison is
  *      decided by the bucket indices alone (cross-bucket implies
  *      strict value inequality), so the counts come from the B×B
  *      cell-count matrices via 2D prefix sums — no row-level pairs at
  *      all.
  *
  * Bucket map (ADVICE r9): EQUI-DEPTH over DISTINCT values — one count
  * per distinct value, a distributed prefix sum in value order
  * ([[TotalOrder.prefixSum]] — never a single-reducer window), then the
  * COMPOSITE id 2·⌊cumBefore·B/n⌋ + isHeavy, where a value is heavy
  * when its count ≥ n/B. The decomposition is exact for ANY monotone
  * tie-preserving map, and this one adds the skew guarantee
  * equal-width width_bucket could not give: every heavy value sits
  * ALONE in its window's odd slot (value-pure → counted in closed
  * form, no row join at all — the floor index alone would NOT isolate
  * it: preceding light values share its window), and every light
  * bucket's population is < 2n/B by construction. One extreme outlier
  * or heavy-hitter therefore costs nothing — under equal-width it
  * collapsed most rows into a single impure bucket and made the
  * "bucket-local" joins data-sized (measured in StressConcordance).
  *
  * Cost at scale: two distinct-count + prefix-sum + join-back passes
  * (the bucket maps), two bucket-keyed joins whose fan-out is bounded
  * by 2n/B per side under ARBITRARY distributions, and window passes
  * over a dense (2B+1)² grid (a million rows at B = 512 — constant,
  * broadcast-scale). With B = √n the total is O(n^1.5) worst-case;
  * with B chosen so n/B is a constant batch (the 100 TB setting) it is
  * O(n·batch). The result is EXACT — pinned against the quadratic
  * definition in ConcordanceSpec, skew included.
  */
object Concordance {

  /** Count pairs (a, b) with `x_a < x_b`, where `a` ranges over
    * `df.filter(aFilter)` and `b` over all of `df`:
    *
    *   - `comparable`: all such pairs
    *   - `concordant`: those with `y_a > y_b`
    *   - `tied`:       those with `y_a = y_b`
    *
    * Returns a single row (comparable, concordant, tied), all BIGINT.
    * Rows with a NULL x or y are excluded (no NULL comparison is ever
    * true in the quadratic form; dropping them keeps `comparable`
    * consistent between engines).
    *
    * NaN contract (ENFORCED, VERDICT r9 item 5): by default a NaN x or
    * y RAISES — historically the width_bucket map silently dropped NaN
    * rows while the quadratic form ranks NaN above every double, a
    * divergence a caller who missed the scaladoc never saw. Pass
    * `allowNaN = true` to admit NaN, which under the equi-depth map
    * follows Spark/DuckDB ORDERING semantics (NaN groups with NaN and
    * sorts above every value: NaN-x rows are comparable-above all
    * finite x, NaN-y pairs count as ties) — consistent with the
    * quadratic form on both engines, but kept opt-in because
    * NaN-as-data is almost always an upstream bug.
    */
  def counts(
      df: DataFrame,
      xCol: String,
      yCol: String,
      aFilter: Column = lit(true),
      buckets: Int = 256,
      allowNaN: Boolean = false): DataFrame = {
    require(buckets >= 1, s"need >= 1 bucket, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._

    def guarded(c: Column, name: String): Column =
      if (allowNaN) c
      else when(isnan(c.cast("double")),
        raise_error(concat(lit(s"Concordance.counts: NaN in $name — NaN " +
          "ranks above every value in the quadratic definition; filter " +
          "upstream or pass allowNaN=true to count it that way: "),
          c.cast("string"))))
        .otherwise(c)

    // frozen ONCE (lazy, r14-opt guide §3.3): the caller's frame — for
    // the scalable gates a lineitem⋈orders join — was re-evaluated by
    // each bucket map's per-value count AND its join-back (4 evaluations
    // through the two-level bucketing below); the first reader
    // materializes the cache and every later pass reads decoded rows
    val base = df.select(guarded(col(xCol), xCol).as("__x"),
        guarded(col(yCol), yCol).as("__y"),
        aFilter.as("__a"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .transform(Freeze.lazily)

    // EQUI-DEPTH bucket map over DISTINCT values (see class doc): count
    // per value, distributed prefix sum in value order, join back. The
    // decomposition is exact for ANY monotone tie-preserving map —
    // boundaries affect only the in-bucket join sizes, never a count —
    // and equi-depth bounds every impure bucket's population at 2n/B
    // under arbitrary skew (heavy values isolate into pure buckets).
    def bucketed(in: DataFrame, vCol: String, outCol: String): DataFrame = {
      val perValue = in.groupBy(col(vCol)).agg(count(lit(1)).as("__cnt"))
      val cum = TotalOrder.prefixSum(
        perValue, Seq(col(vCol).asc), "__cnt", "__cum")
      val total = cum.agg(sum(col("__cnt")).as("__n"))
      // COMPOSITE bucket id 2·⌊cumBefore·B/n⌋ + isHeavy: the plain floor
      // index alone does NOT isolate a heavy value — light values
      // PRECEDING it inside the same floor window share its bucket,
      // making that bucket impure with a data-sized population (measured
      //: a 50%-mass value dragged 213 light values into one 101k-row
      // bucket and the class-2 join fanned out to 5e9 pairs). Shifting
      // every heavy value (count ≥ n/B) to its window's odd slot fixes
      // it: the id stays MONOTONE in value (lights in window p precede
      // p's heavy value by construction — anything after it overflows
      // the window), every heavy value sits ALONE (pure → closed-form
      // algebra), and light buckets hold < 2n/B (window span + one
      // straddling light value). Products stay exact in double far past
      // any realistic n·B (2^53 headroom). NaN (admitted only under
      // allowNaN) pins to its OWN bucket at index 2B, past every finite
      // id: the floor formula would otherwise land NaN in the top
      // WINDOW shared with finite light values — an impure bucket whose
      // raw-value joins would then compare NaN row-by-row, and while
      // Spark's nan-safe comparisons (NaN = NaN true, x < NaN true)
      // would count those pairs consistently with its ordering, engines
      // replaying the algebra (DuckDB's comparisons treat NaN per IEEE
      // in some paths) need NaN kept out of row joins entirely — a pure
      // top bucket counts it in closed form on both.
      val map = cum.crossJoin(broadcast(total))
        .select(col(vCol),
          when(isnan(col(vCol).cast("double")), lit(2 * buckets))
            .otherwise(
              floor((col("__cum") - col("__cnt")) * buckets / col("__n")) * 2
                + when(col("__cnt") * buckets >= col("__n"), 1).otherwise(0))
            .cast("int").as(outCol))
      // frozen per level (lazy): the x-bucketed frame is read twice by
      // the y-level (its per-value count + its join-back); the y-level
      // output IS bb, whose freeze the pair joins and cell counts below
      // always relied on
      in.join(map, Seq(vCol)).transform(Freeze.lazily)
    }
    val bb = bucketed(bucketed(base, "__x", "__bx"), "__y", "__by")
    val sideA = bb.filter(col("__a")).select("__x", "__y", "__bx", "__by")
    val sideB = bb.select("__x", "__y", "__bx", "__by")

    def pairAgg(joined: DataFrame): DataFrame = joined.agg(
      count(lit(1)).as("comparable"),
      sum(when(col("a.__y") > col("b.__y"), 1L).otherwise(0L)).as("concordant"),
      sum(when(col("a.__y") === col("b.__y"), 1L).otherwise(0L)).as("tied"))

    // VALUE-PURE buckets (every row one distinct value) need no row
    // join at all: a pure x-bucket cannot hold a strict x_a < x_b pair,
    // and a pure y-bucket's class-2 pairs are ALL ties, countable from
    // the cell matrices. This is what makes low-cardinality dimensions
    // (day buckets, small-int measures) cost pure algebra: with fewer
    // distinct values than buckets, BOTH joins are empty.
    // the all-NaN bucket is value-pure like any other: Spark's
    // documented NaN semantics make NaN = NaN TRUE (EqualTo nan-safe
    // compares doubles), so min === max holds on an all-NaN bucket and
    // its ties/pairs are counted algebraically, never by a raw-value
    // join
    val xPurity = bb.groupBy("__bx")
      .agg((min(col("__x")) === max(col("__x"))).as("px"))
    val yPurity = bb.groupBy("__by")
      .agg((min(col("__y")) === max(col("__y"))).as("py"))
    def impure(side: DataFrame, purity: DataFrame, bCol: String,
        pCol: String): DataFrame =
      side.join(broadcast(purity.filter(!col(pCol)).select(bCol)), Seq(bCol))

    // class 1: same x-bucket — the only place the raw x order matters
    val c1 = pairAgg(
      impure(sideA, xPurity, "__bx", "px").as("a")
        .join(impure(sideB, xPurity, "__bx", "px").as("b"),
          col("a.__bx") === col("b.__bx") && col("a.__x") < col("b.__x")))
    // class 2 on IMPURE y-buckets: x decided by bucket order, raw y
    // compare; pure y-buckets are handled algebraically below
    val c2 = pairAgg(
      impure(sideA, yPurity, "__by", "py").as("a")
        .join(impure(sideB, yPurity, "__by", "py").as("b"),
          col("a.__by") === col("b.__by") && col("a.__bx") < col("b.__bx")))

    // class 3 via cell-count algebra. Sparse cells densify onto the
    // full B×B grid so the window prefix sums line up index-to-index
    // (the 2D suffix QA needs PA at every by, including ca = 0 cells).
    // composite ids span [0, 2B]: even light slots, odd heavy slots,
    // NaN at 2B — all must sit ON the grid so the 2D prefix sums see
    // every a-cell; unused slots are empty zeros
    val gridIds = 2L * buckets + 1
    val grid = spark.range(gridIds).select(col("id").cast("int").as("__bx"))
      .crossJoin(spark.range(gridIds).select(col("id").cast("int").as("__by")))
    val cellsA = grid.join(
        sideA.groupBy("__bx", "__by").agg(count(lit(1)).as("ca")),
        Seq("__bx", "__by"), "left")
      .na.fill(0L, Seq("ca"))
    // PA[bx, by] = Σ_{bx' ≤ bx} ca[bx', by]; QA[bx, by] = Σ_{by' > by} PA[bx, by']
    val wX = Window.partitionBy("__by").orderBy("__bx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wY = Window.partitionBy("__bx").orderBy(col("__by").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val qa = cellsA
      .withColumn("pa", sum(col("ca")).over(wX))
      .withColumn("qa", coalesce(sum(col("pa")).over(wY), lit(0L)))
      .select("__bx", "__by", "pa", "qa")
    // per-x-bucket A totals, prefix-summed (bounded: B rows — the
    // constant-partition spec declares the single-reducer frame safe)
    val ta = TotalOrder.checkBounded(
      cellsA.groupBy("__bx").agg(sum(col("ca")).as("ca_x")),
      "concordance-bucket-totals")
      .withColumn("ta_cum", sum(col("ca_x")).over(
        TotalOrder.boundedGlobal(col("__bx"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("__bx", "ta_cum")
    val cellsB = sideB.groupBy("__bx", "__by").agg(count(lit(1)).as("cb"))
    // strict x-bucket dominance: a B-cell at bx pairs with A-prefixes
    // through bx − 1 (bx = 0 finds no match → left-join null → 0)
    val cross = cellsB.as("b")
      .join(qa.as("q"),
        col("q.__bx") === col("b.__bx") - 1 && col("q.__by") === col("b.__by"),
        "left")
      .join(ta.as("t"), col("t.__bx") === col("b.__bx") - 1, "left")
      .join(broadcast(yPurity).as("pyt"), col("pyt.__by") === col("b.__by"), "left")
      .agg(
        sum(col("cb") * coalesce(col("ta_cum"), lit(0L))).as("comparable_cross"),
        sum(col("cb") * coalesce(col("qa"), lit(0L))).as("concordant_c3"),
        // class-2 pairs inside a PURE y-bucket are all ties: Σ over its
        // B-cells of cb · (A count in strictly lower x-buckets, same by)
        sum(when(coalesce(col("pyt.py"), lit(false)),
          col("cb") * coalesce(col("pa"), lit(0L))).otherwise(0L))
          .as("tied_c2_pure"))

    // assemble: comparable_cross covers classes 2+3 together (every
    // cross-x-bucket pair), so class 2's own comparable is NOT re-added;
    // ties require equal y ⇒ equal y-bucket ⇒ only classes 1 and 2
    c1.select(col("comparable").as("m1"), col("concordant").as("c1"),
        col("tied").as("t1"))
      .crossJoin(c2.select(col("comparable").as("m2"),
        col("concordant").as("c2t"), col("tied").as("t2")))
      .crossJoin(cross)
      .select(
        (coalesce(col("m1"), lit(0L)) + coalesce(col("comparable_cross"), lit(0L)))
          .cast("long").as("comparable"),
        (coalesce(col("c1"), lit(0L)) + coalesce(col("c2t"), lit(0L)) +
          coalesce(col("concordant_c3"), lit(0L))).cast("long").as("concordant"),
        (coalesce(col("t1"), lit(0L)) + coalesce(col("t2"), lit(0L)) +
          coalesce(col("tied_c2_pure"), lit(0L)))
          .cast("long").as("tied"))
  }
}
