package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental view maintenance for INNER EQUI-JOIN views over two
  * versioned base tables — the join counterpart of [[IncrementalAgg]].
  *
  * The maintained view is a MULTISET: one row per distinct output tuple
  * plus its multiplicity (`__mult`). A refresh applies the classical
  * signed delta-join algebra
  *
  *   ΔV = ΔA ⋈ B₀ + A₀ ⋈ ΔB + ΔA ⋈ ΔB
  *
  * where delta rows carry sign ±1 (insert/delete) and a product term's
  * sign is the product of its factors' signs. Summing signs per tuple
  * and adding to the stored multiplicity gives exactly the new view —
  * deletes included — without ever re-running the full join.
  *
  * Why it matters at 100 TB: the full join is O(|A| + |B|) every
  * refresh; the incremental path scans the two CDC deltas plus ONE side
  * of each cross term. Each term is a plain equi-join on the view key
  * (broadcast when the delta is small — the usual case), so Catalyst
  * plans them like any other join. The ΔA ⋈ ΔB term is delta×delta
  * sized, i.e. negligible.
  *
  * Maintenance invariant (spec-pinned and gate-oracled):
  * refresh(view over (aᵢ, bᵢ), deltas to (aⱼ, bⱼ)) ≡ fullJoin(aⱼ, bⱼ).
  *
  * Contract: `keys` are shared column names; payload columns of A and B
  * must be disjoint (the usual star-schema shape).
  */
object IncrementalJoin {

  /** Materialize the multiset join view: one row per distinct joined
    * tuple with its multiplicity. Initial build and full-reagg oracle.
    */
  def fullJoin(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val joined = a.join(b, keys)
    joined.groupBy(joined.columns.map(col).toSeq: _*)
      .agg(count(lit(1)).as("__mult"))
  }

  private def signedChanges(store: TableStore, table: String,
      from: Int, to: Int): DataFrame =
    store.changes(table, from, to)
      .withColumn("__sign",
        when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)))
      .drop("_change_type")

  /** The three signed terms of ΔV = ΔA ⋈ B₀ + A₀ ⋈ ΔB + ΔA ⋈ ΔB, each
    * carrying `__sign` — shared by [[refresh]] (multiset view) and
    * [[refreshAgg]] (aggregate view), so the delta algebra lives once.
    */
  private def signedDeltaTerms(
      store: TableStore,
      aTable: String, aFrom: Int, aTo: Int,
      bTable: String, bFrom: Int, bTo: Int,
      keys: Seq[String]): Seq[DataFrame] = {
    val aOld = store.read(aTable, aFrom)
    val bOld = store.read(bTable, bFrom)
    // each delta feeds TWO terms (ΔA: t1+t3, ΔB: t2+t3) and a derived
    // (non-append-pure) diff is two exceptAlls over both full
    // generations — freeze each delta once (lazy; the refresh action
    // populates the cache) instead of re-deriving it per term. Deltas
    // are change-sized by the IVM contract, never table-sized.
    val dA = signedChanges(store, aTable, aFrom, aTo).transform(Freeze.lazily)
    val dB = signedChanges(store, bTable, bFrom, bTo).transform(Freeze.lazily)
    val t3 = dA.withColumnRenamed("__sign", "__sa")
      .join(dB.withColumnRenamed("__sign", "__sb"), keys)
      .withColumn("__sign", col("__sa") * col("__sb"))
      .drop("__sa", "__sb")
    Seq(dA.join(bOld, keys), aOld.join(dB, keys), t3)
  }

  /** Refresh `viewTable` (built by [[fullJoin]] over versions
    * (`aFrom`, `bFrom`) of the base tables) to versions (`aTo`, `bTo`),
    * writing the result back as a new generation of the view.
    */
  def refresh(
      store: TableStore,
      viewTable: String,
      aTable: String, aFrom: Int, aTo: Int,
      bTable: String, bFrom: Int, bTo: Int,
      keys: Seq[String]): Unit =
    store.overwrite(viewTable,
      refreshFrame(store, viewTable, aTable, aFrom, aTo, bTable, bFrom, bTo, keys))

  /** The refreshed view as an unexecuted frame — what [[refresh]] writes.
    * Its executed plan is the `command` action of the `ivm_join_refresh`
    * gate in `graft.tools.Probe --plans`.
    */
  private def refreshFrame(
      store: TableStore,
      viewTable: String,
      aTable: String, aFrom: Int, aTo: Int,
      bTable: String, bFrom: Int, bTo: Int,
      keys: Seq[String]): DataFrame = {
    val Seq(t1, t2, t3) =
      signedDeltaTerms(store, aTable, aFrom, aTo, bTable, bFrom, bTo, keys)

    val view = store.read(viewTable)
    val tupleCols = view.columns.filterNot(_ == "__mult").toSeq
    val delta = t1.select((tupleCols :+ "__sign").map(col): _*)
      .unionByName(t2.select((tupleCols :+ "__sign").map(col): _*))
      .unionByName(t3.select((tupleCols :+ "__sign").map(col): _*))
      .groupBy(tupleCols.map(col): _*)
      .agg(sum(col("__sign")).as("__dmult"))

    // null-safe merge on every tuple column (group keys may be null)
    val cond = tupleCols.map(c => view(c) <=> delta(c)).reduce(_ && _)
    val merged = view.join(delta, cond, "full_outer")
      .select(
        tupleCols.map(c => coalesce(view(c), delta(c)).as(c)) :+
          (coalesce(view("__mult"), lit(0L)) +
            coalesce(delta("__dmult"), lit(0L))).as("__mult"): _*)
      .filter(col("__mult") > 0)
    merged
  }

  // ------------------------------------------------- aggregate-over-join
  private val Dec = "decimal(18,2)"

  /** Materialize COUNT/SUM(measure) grouped by `groupCols` over the
    * equi-join — the gold-table shape ("revenue by segment") that
    * [[refreshAgg]] maintains. `__nn` (non-null measure count) rides
    * along so a maintained SUM can go back to NULL when its last
    * non-null contributor is deleted — without it, "all contributors
    * deleted then re-inserted as nulls" silently turns NULL into 0.00
    * and the maintained view stops matching the full recompute.
    */
  def fullJoinAgg(
      a: DataFrame, b: DataFrame, keys: Seq[String],
      groupCols: Seq[String], measureCol: String): DataFrame =
    a.join(b, keys)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col(measureCol)).as("__nn"),
        sum(col(measureCol).cast(Dec)).as(s"total_$measureCol"))

  /** Maintain a [[fullJoinAgg]] view across versions of BOTH base
    * tables: the same signed delta-join algebra as [[refresh]], but the
    * delta collapses straight into per-group (Δcount, Δsum) — the full
    * join is never materialized, and refresh cost is O(deltas joined to
    * one side each) + O(groups).
    *
    * Invariant (gate-oracled): refreshAgg(view over (aᵢ,bᵢ), deltas to
    * (aⱼ,bⱼ)) ≡ fullJoinAgg(aⱼ, bⱼ). Sums ride DECIMAL so
    * subtract-then-add is exact and order-independent.
    */
  def refreshAgg(
      store: TableStore,
      viewTable: String,
      aTable: String, aFrom: Int, aTo: Int,
      bTable: String, bFrom: Int, bTo: Int,
      keys: Seq[String],
      groupCols: Seq[String], measureCol: String): Unit = {
    val contribCols = (groupCols :+ measureCol :+ "__sign").map(col)
    val delta =
      signedDeltaTerms(store, aTable, aFrom, aTo, bTable, bFrom, bTo, keys)
        .map(_.select(contribCols: _*))
        .reduce(_.unionByName(_))
        .groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("__sign")).as("__dn"),
        sum(when(col(measureCol).isNotNull, col("__sign")).otherwise(lit(0L)))
          .as("__dnn"),
        sum(col(measureCol).cast(Dec) * col("__sign")).as("__ds"))

    val totalCol = s"total_$measureCol"
    val view = store.read(viewTable).as("cur")
    val d = delta.as("d")
    val cond = groupCols.map(c => col(s"cur.$c") <=> col(s"d.$c")).reduce(_ && _)
    val zero = lit(0).cast(Dec)
    val nn = coalesce(col("__nn"), lit(0L)) + coalesce(col("__dnn"), lit(0L))
    val merged = view.join(d, cond, "full_outer")
      .select(
        groupCols.map(c => coalesce(col(s"cur.$c"), col(s"d.$c")).as(c)) ++ Seq(
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
            .as("n_rows"),
          nn.as("__nn"),
          when(nn > 0,
            (coalesce(col(totalCol), zero) + coalesce(col("__ds"), zero))
              .cast(Dec)).as(totalCol)): _*)
      .filter(col("n_rows") > 0)
    store.overwrite(viewTable, merged)
  }
}
