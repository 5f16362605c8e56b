package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end golden test: the reference's 6 real CSVs through
  * bronze → silver → gold → views, asserting the reference's inline
  * audits (SURVEY §5) and hand-checkable spot values. The CSVs are read
  * from `LandingData.realDir` (`GRAFT_LANDING_DIR`, else the reference's
  * `Data` directory); every test cancels where that directory is absent,
  * since these values are facts about the real files, not about any
  * landing set.
  */
class PipelineGoldenSpec extends SparkSpec {

  private val files = RunPipeline.referenceFiles(LandingData.realDir)

  private val clock = Some(Timestamp.valueOf("2026-01-01 00:00:00"))

  private lazy val store = {
    val wh = Files.createTempDirectory("graft-golden-").toString
    Pipeline.run(
      spark,
      PipelineConfig(PipelineConfig.FullLoad, None, files, wh),
      clock)
  }

  test("bronze: 12,526 rows, unique row_key, lineage columns") {
    assume(LandingData.realPresent, LandingData.realMissing)
    val bronze = store.read(PipelineConfig.tables.bronze)
    assert(bronze.count() == 12526)
    // duplicate row_key audit (02_bronze.ipynb:254): expected 0
    assert(bronze.groupBy("row_key").count().filter(col("count") > 1).count() == 0)
    assert(Seq("year", "source_gender", "source_file", "load_timestamp",
      "load_date", "row_key").forall(bronze.columns.contains))
  }

  test("silver: designation mix matches the raw files") {
    assume(LandingData.realPresent, LandingData.realMissing)
    val silver = store.read(PipelineConfig.tables.silver)
    val mix = silver.agg(
      sum(when(col("is_finisher"), 1).otherwise(0)),
      sum(when(col("is_dnf"), 1).otherwise(0)),
      sum(when(col("is_dns"), 1).otherwise(0)),
      sum(when(col("is_dq"), 1).otherwise(0))).head()
    // BASELINE.md: Finisher 11,347 / DNF 614 / DNS 522 / DQ 5
    assert(mix.getLong(0) == 11347)
    assert(mix.getLong(1) == 614)
    assert(mix.getLong(2) == 522)
    assert(mix.getLong(3) == 5)
    // 45-column final projection (03_silver.ipynb:581-601 lists 45 names;
    // SURVEY.md §1.2's "44" is a miscount)
    assert(silver.columns.length == 45)
  }

  test("silver: 2023 men winner Sam Laidlow 8:06:22 = 29182 s") {
    assume(LandingData.realPresent, LandingData.realMissing)
    val s = store.read(PipelineConfig.tables.silver)
    val row = s.filter(col("year") === 2023 && col("source_gender") === "M" &&
        col("rank") === 1)
      .select("athlete_name", "finish_time_seconds").head()
    assert(row.getString(0) == "Sam Laidlow")
    assert(row.getInt(1) == 29182)
  }

  test("dims: cardinalities match the raw-file domains") {
    assume(LandingData.realPresent, LandingData.realMissing)
    // 104 distinct non-null country codes in the raw CSVs (BASELINE.md's
    // "106" over-counts; verified with DuckDB over Data/*.csv), 32 divisions
    assert(store.read(PipelineConfig.tables.dimCountries).count() == 104)
    assert(store.read(PipelineConfig.tables.dimDivisions).count() == 32)
    val a = store.read(PipelineConfig.tables.dimAthletes)
    assert(a.count() == a.select("athlete_natural_key").distinct().count())
  }

  test("fact: row count preserved, athlete FK coverage 100%") {
    assume(LandingData.realPresent, LandingData.realMissing)
    val fact = store.read(PipelineConfig.tables.fact)
    assert(fact.count() == 12526)
    assert(fact.columns.length == 34)
    val audit = Fact.fkAudit(fact).head()
    assert(audit.getLong(0) == 0, "unmatched athletes")  // 04d:188 expects 0
  }

  test("views: kpi metrics and top finisher check out by hand") {
    assume(LandingData.realPresent, LandingData.realMissing)
    Views.registerAll(spark, store)
    val kpi = spark.table("vw_kpi_metrics").head()
    assert(kpi.getLong(kpi.fieldIndex("total_athletes")) == 12526)
    assert(kpi.getLong(kpi.fieldIndex("total_finishers")) == 11347)
    assert(kpi.getInt(kpi.fieldIndex("first_year")) == 2023)
    assert(kpi.getInt(kpi.fieldIndex("latest_year")) == 2025)

    val top = spark.table("vw_top_finishers")
      .filter(col("year") === 2023 && col("gender") === "Male" && col("rank") === 1)
      .head()
    assert(top.getString(top.fieldIndex("athlete_name")) == "Sam Laidlow")
    assert(top.getString(top.fieldIndex("finish_time_formatted")) == "8:06:22")
    assert(spark.table("vw_segment_times").count() > 0)
    assert(spark.table("vw_year_over_year").count() == 3)
    assert(Views.definitions.size == 15)
    Views.definitions.map(_._1).foreach(v => assert(spark.table(v).columns.nonEmpty))
  }
}
