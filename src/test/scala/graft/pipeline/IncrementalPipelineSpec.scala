package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental-run semantics (D13 + S6/S7): full-load 2023+2024, then an
  * incremental 2025 run must insert-only the fact/bronze/silver rows and
  * SCD1-refresh the dims — including the reference's deliberate quirk
  * that `dim_countries.athlete_count` reflects ONLY the latest processed
  * year after an incremental run (SURVEY §7.4, 04b:344-350).
  * Landing data and its row/division facts come from `LandingData`.
  */
class IncrementalPipelineSpec extends SparkSpec {

  private val data = LandingData.current
  private val files2324 = LandingData.files(2023, 2024)
  private val files25 = LandingData.files(2025)

  private val clock = Some(Timestamp.valueOf("2026-01-01 00:00:00"))

  test("incremental 2025 run inserts only new rows and SCD1-refreshes dims") {
    val wh = Files.createTempDirectory("graft-incr-").toString
    // full load of 2023+2024
    val store = Pipeline.run(spark,
      PipelineConfig(PipelineConfig.FullLoad, None, files2324, wh), clock)
    val factBefore = store.read(PipelineConfig.tables.fact).count()
    val countsBefore = store.read(PipelineConfig.tables.dimCountries)
      .select(sum(col("athlete_count"))).head().getLong(0)
    assert(factBefore == data.rows - data.rows2025) // 2025 rows absent

    // incremental 2025
    Pipeline.run(spark,
      PipelineConfig(PipelineConfig.Incremental, Some(2025), files25, wh), clock)

    val fact = store.read(PipelineConfig.tables.fact)
    assert(fact.count() == data.rows)
    assert(fact.filter(col("year") === 2025).count() == data.rows2025)
    // insert-only: pre-existing fact rows unchanged (same fact_key set for 2023/24)
    assert(fact.groupBy("row_key").count().filter(col("count") > 1).count() == 0)

    // SCD1 quirk preserved: athlete_count now reflects 2025 only for
    // countries present in 2025; total differs from the full-history sum
    val countsAfter = store.read(PipelineConfig.tables.dimCountries)
      .select(sum(col("athlete_count"))).head().getLong(0)
    assert(countsAfter != countsBefore,
      "incremental SCD1 should overwrite athlete_count with latest-year counts")

    // dims keep their keys stable for unchanged members
    val divisions = store.read(PipelineConfig.tables.dimDivisions)
    assert(divisions.count() >= data.divisionsFloor) // 2025-only divisions merged in, none lost
    // rerun same incremental: fully idempotent
    Pipeline.run(spark,
      PipelineConfig(PipelineConfig.Incremental, Some(2025), files25, wh), clock)
    assert(store.read(PipelineConfig.tables.fact).count() == data.rows)
    // insert-only holds per layer: silver's merge would absorb a bronze append
    assert(store.read(PipelineConfig.tables.bronze).count() == data.rows)
    assert(store.read(PipelineConfig.tables.silver).count() == data.rows)
  }
}
