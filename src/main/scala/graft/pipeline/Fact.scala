package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IronmanExprs._
import graft.operators.{Merge, TableStore}

/** Gold fact build (04d): silver + 3 dims → left-join FKs → surrogate
  * fact key → 34-column projection → insert-only merge on row_key.
  *
  * Scale: all three dims broadcast (they are bounded domains: athletes by
  * distinct (name,country), countries ≤ few hundred, divisions ≤ dozens
  * relative to fact rows), so the fact build is a map-only pipeline over
  * silver — zero shuffles at any scale.
  */
object Fact {

  val finalColumns: Seq[String] = Seq(
    "fact_key", "athlete_key", "division_key", "country_key",
    "year", "source_gender", "designation", "bib",
    "is_finisher", "is_dnf", "is_dns", "is_dq", "has_data_issue",
    "rank", "div_rank", "gender_rank", "overall_rank", "points",
    "swim_time_seconds", "swim_div_rank", "swim_gender_rank", "swim_overall_rank",
    "transition_1_seconds",
    "bike_time_seconds", "bike_div_rank", "bike_gender_rank", "bike_overall_rank",
    "transition_2_seconds",
    "run_time_seconds", "run_div_rank", "run_gender_rank", "run_overall_rank",
    "finish_time_seconds", "row_key")

  def build(
      silver: DataFrame,
      dimAthletes: DataFrame,
      dimDivisions: DataFrame,
      dimCountries: DataFrame): DataFrame = {
    // J3: athlete FK via the shared D3 natural key
    val withNk = silver.withColumn(
      "athlete_natural_key",
      athleteNaturalKey(col("athlete_name"), col("country")))
    val athleteKeys = dimAthletes.select(
      col("athlete_key"),
      col("athlete_natural_key").as("dim_athlete_natural_key"))
    val j3 = withNk.join(
        broadcast(athleteKeys),
        withNk("athlete_natural_key") === athleteKeys("dim_athlete_natural_key"),
        "left")
      .drop("dim_athlete_natural_key")
    // J4: division FK
    val divisionKeys = dimDivisions.select(
      col("division_key"), col("division").as("dim_division"))
    val j4 = j3.join(
        broadcast(divisionKeys),
        j3("division") === divisionKeys("dim_division"), "left")
      .drop("dim_division")
    // J5: country FK
    val countryKeys = dimCountries.select(
      col("country_key"), col("country").as("dim_country"))
    val j5 = j4.join(
        broadcast(countryKeys),
        j4("country") === countryKeys("dim_country"), "left")
      .drop("dim_country")
    j5.withColumn("fact_key", surrogateKey(col("row_key")))
      .select(finalColumns.map(col): _*)
  }

  /** Referential-integrity audit: unmatched FK counts in one pass
    * (the reference runs three separate counts, 04d:188-221; hoisted
    * into a single agg job per SURVEY §3.2).
    */
  def fkAudit(fact: DataFrame): DataFrame =
    fact.agg(
      sum(when(col("athlete_key").isNull, 1).otherwise(0)).as("unmatched_athletes"),
      sum(when(col("division_key").isNull, 1).otherwise(0)).as("unmatched_divisions"),
      sum(when(col("country_key").isNull, 1).otherwise(0)).as("unmatched_countries"),
      count(lit(1)).as("total_rows"))

  def write(store: TableStore, config: PipelineConfig, fact: DataFrame): Unit = {
    val table = PipelineConfig.tables.fact
    if (!store.exists(table) || !config.isIncremental)
      store.overwrite(table, fact, partitionBy = Seq("year"))
    else
      // row_key embeds the year, so the anti-join is partition-local:
      // only the incoming year's partitions are read and rewritten
      Merge.insertOnlyPartitionAligned(store, table, fact, Seq("row_key"), "year")
  }

  def run(spark: SparkSession, store: TableStore, config: PipelineConfig): Unit = {
    val silverAll = store.read(PipelineConfig.tables.silver)
    val silver =
      if (config.isIncremental)
        config.processYear.fold(silverAll)(y => silverAll.filter(col("year") === y))
      else silverAll
    val fact = build(
      silver,
      store.read(PipelineConfig.tables.dimAthletes),
      store.read(PipelineConfig.tables.dimDivisions),
      store.read(PipelineConfig.tables.dimCountries))
    write(store, config, fact)
  }
}
