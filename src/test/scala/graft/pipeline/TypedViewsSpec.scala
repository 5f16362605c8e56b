package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Typed Column-API view builders produce exactly the rows of their SQL
  * view definitions over the pipeline output of `LandingData`'s landing set.
  */
class TypedViewsSpec extends SparkSpec {

  private lazy val store = {
    val wh = Files.createTempDirectory("graft-tv-").toString
    Pipeline.run(spark,
      PipelineConfig(PipelineConfig.FullLoad, None,
        LandingData.files(), wh),
      Some(Timestamp.valueOf("2026-01-01 00:00:00")))
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("athletesByYear == vw_athletes_by_year") {
    Views.registerAll(spark, store)
    val sql = spark.table("vw_athletes_by_year")
    val typed = TypedViews.athletesByYear(store.read(PipelineConfig.tables.fact))
      .select(sql.columns.toSeq.map(org.apache.spark.sql.functions.col): _*)
    assert(rows(typed) == rows(sql))
  }

  test("genderDistribution == vw_gender_distribution") {
    Views.registerAll(spark, store)
    val sql = spark.table("vw_gender_distribution")
    val typed = TypedViews.genderDistribution(store.read(PipelineConfig.tables.fact))
      .select(sql.columns.toSeq.map(org.apache.spark.sql.functions.col): _*)
    assert(rows(typed) == rows(sql))
  }

  test("proVsAgeGroup == vw_pro_vs_age_group") {
    Views.registerAll(spark, store)
    val sql = spark.table("vw_pro_vs_age_group")
    val typed = TypedViews.proVsAgeGroup(
        store.read(PipelineConfig.tables.fact),
        store.read(PipelineConfig.tables.dimDivisions))
      .select(sql.columns.toSeq.map(org.apache.spark.sql.functions.col): _*)
    assert(rows(typed) == rows(sql))
  }
}
