package graft.operators

import org.apache.spark.sql.{DataFrame, FreezeAccess}

/** The one way graft freezes a frame: a `localCheckpoint`, which cuts
  * the lineage and caches the rows in executor storage (a lost executor
  * loses its partitions: SCALE.md, cluster caveat). A frozen frame's
  * partitioning is unknown under AQE, so repartitioning before a freeze
  * feeds no later join (plans/r14/pagerank_loop_body_before.txt).
  *
  * Spark (4.1) gives the frozen frame the size ESTIMATE of the plan it
  * froze, which for a join or aggregate multiplies its inputs' sizes (a
  * 2000-row self-join reports 1.6 GiB). An eager freeze reports the
  * bytes its blocks hold instead, so the planner's broadcast threshold
  * decides from a measured size.
  */
object Freeze {

  /** Materializes `df` now, with the jobs `localCheckpoint(true)` runs
    * and no other, sized by its stored bytes.
    */
  def eager(df: DataFrame): DataFrame = {
    val frozen = df.localCheckpoint(true)
    FreezeAccess.withSize(frozen, FreezeAccess.storedBytes(frozen))
  }

  /** Keeps Spark's estimate. Under AQE the frozen plan's exchange stages
    * run now; its last stage runs at the first action that reads it.
    */
  def lazily(df: DataFrame): DataFrame = df.localCheckpoint(false)
}
