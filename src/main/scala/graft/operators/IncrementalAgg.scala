package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental view maintenance for additive aggregates (count / sum —
  * and anything derivable from them) over a versioned base table: instead
  * of re-aggregating the whole base on every refresh, apply the CDC
  * delta between two generations to the existing aggregate.
  *
  * Why it matters at 100 TB: a full re-agg scans the base (O(base));
  * the incremental path scans only the row-level diff (O(changes)) and
  * joins it to the aggregate table (O(groups)) — the same reason Delta
  * users pair CDF with MERGE to maintain gold tables. Deletes subtract
  * (insert = +1, delete = −1), groups whose count reaches zero are
  * dropped, and sums ride DECIMAL so add/subtract is exact and
  * order-independent (a double "minus then plus" would drift).
  *
  * Maintenance invariant (spec-pinned): refresh(agg over v_i, changes
  * v_i→v_j) ≡ full aggregation of v_j, for any i < j.
  */
object IncrementalAgg {

  /** Aggregate `base` into the maintained shape: one row per group with
    * `n_rows` and `total_<valueCol>`. Used for the initial build and as
    * the full-reagg oracle.
    */
  def fullAggregate(base: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    base.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast("decimal(18,2)")).as(s"total_$valueCol"))

  /** Apply the delta between `fromVersion` and `toVersion` of `baseTable`
    * to `aggTable` (created by [[fullAggregate]] over `fromVersion`),
    * writing the refreshed aggregate back as a new generation.
    */
  def refresh(
      store: TableStore,
      aggTable: String,
      baseTable: String,
      fromVersion: Int,
      toVersion: Int,
      groupCols: Seq[String],
      valueCol: String): Unit = {
    val totalCol = s"total_$valueCol"
    val delta = store.changes(baseTable, fromVersion, toVersion)
      .withColumn("__sign",
        when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)))
    val deltaAgg = delta
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("__sign")).as("__dn"),
        sum(col(valueCol).cast("decimal(18,2)") * col("__sign")).as("__ds"))
    // null-safe join: groupBy collapses NULL keys into one group, so the
    // maintenance join must match them too (plain equality would split a
    // null group into a stale row plus a fresh one)
    val current = store.read(aggTable).as("cur")
    val d = deltaAgg.as("d")
    val cond = groupCols.map(c => col(s"cur.$c") <=> col(s"d.$c")).reduce(_ && _)
    val refreshed = current.join(d, cond, "full_outer")
      .select(
        groupCols.map(c => coalesce(col(s"cur.$c"), col(s"d.$c")).as(c)) ++ Seq(
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
            .as("n_rows"),
          (coalesce(col(totalCol), lit(0).cast("decimal(18,2)")) +
            coalesce(col("__ds"), lit(0).cast("decimal(18,2)")))
            .cast("decimal(18,2)").as(totalCol)): _*)
      .filter(col("n_rows") > 0)
    store.overwrite(aggTable, refreshed)
  }

  // -------------------------------------------------------- min / max
  /** MIN/MAX view shape for [[refreshMinMax]]: one row per group with
    * `n_rows`, `min_<v>`, `max_<v>`. Initial build + full-reagg oracle.
    */
  def fullMinMax(base: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    base.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(valueCol)).as(s"min_$valueCol"),
        max(col(valueCol)).as(s"max_$valueCol"))

  /** Maintain MIN/MAX across a CDC delta — the NON-additive aggregate
    * case: inserts tighten an extremum monotonically (min/greatest of
    * old and new — O(changes)), but a delete that removes the stored
    * extremum invalidates it, and the true new extremum can only come
    * from the base. The classical fix, implemented here: find the
    * AFFECTED groups (a delete touching the stored min/max, or any
    * group whose rows all vanished), recompute ONLY those groups from
    * the base's target version (a semi-join-pruned scan), and merge
    * everything else incrementally. Refresh cost is O(changes) +
    * O(rows of affected groups) — at 100 TB with point deletes that is
    * a handful of groups, never the table.
    *
    * Invariant (spec-pinned): refreshMinMax(view over v_i, changes
    * v_i→v_j) ≡ [[fullMinMax]] of v_j.
    */
  def refreshMinMax(
      store: TableStore,
      aggTable: String,
      baseTable: String,
      fromVersion: Int,
      toVersion: Int,
      groupCols: Seq[String],
      valueCol: String): Unit = {
    val minCol = s"min_$valueCol"; val maxCol = s"max_$valueCol"
    val delta = store.changes(baseTable, fromVersion, toVersion)
    val current = store.read(aggTable)

    // per-group delta summary: inserted extrema tighten incrementally;
    // deletions only matter when they hit the stored extremum
    val dAgg = delta.groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)).as("__dn"),
        min(when(col("_change_type") === "insert", col(valueCol))).as("__ins_min"),
        max(when(col("_change_type") === "insert", col(valueCol))).as("__ins_max"),
        min(when(col("_change_type") === "delete", col(valueCol))).as("__del_min"),
        max(when(col("_change_type") === "delete", col(valueCol))).as("__del_max"))

    val cur = current.as("cur"); val d = dAgg.as("d")
    val cond = groupCols.map(c => col(s"cur.$c") <=> col(s"d.$c")).reduce(_ && _)
    val joined = cur.join(d, cond, "full_outer")
      .select(
        groupCols.map(c => coalesce(col(s"cur.$c"), col(s"d.$c")).as(c)) ++ Seq(
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
            .as("n_rows"),
          least(col(minCol), col("__ins_min")).as(minCol), // null-skipping
          greatest(col(maxCol), col("__ins_max")).as(maxCol),
          // a delete at or beyond the stored extremum invalidates it; a
          // brand-new group (no cur row) with deletes is affected too
          (col("__del_min").isNotNull &&
            (col(minCol).isNull || col("__del_min") <= col(minCol) ||
              col("__del_max") >= col(maxCol))).as("__affected")): _*)
      .filter(col("n_rows") > 0)
      .transform(Freeze.eager) // read before the view table is overwritten

    val affectedKeys = joined.filter(col("__affected"))
      .select(groupCols.map(col): _*)
    // null-safe semi join: groupBy collapses NULL keys into one group
    // (the sibling refresh() merge handles them with <=>), so the
    // rescan must reach a NULL-keyed affected group too — a plain
    // equality join would silently drop it from the refreshed view
    val b = store.read(baseTable, toVersion).as("b")
    val ak = affectedKeys.as("ak")
    val semiCond = groupCols.map(c => col(s"b.$c") <=> col(s"ak.$c")).reduce(_ && _)
    val rescanned = b.join(ak, semiCond, "left_semi")
    val recomputed = fullMinMax(rescanned, groupCols, valueCol)
    val kept = joined.filter(!col("__affected")).drop("__affected")
    store.overwrite(aggTable, kept.unionByName(recomputed))
  }
}
