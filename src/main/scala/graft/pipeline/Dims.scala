package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.IronmanExprs._
import graft.operators.{Merge, TableStore}

/** Gold dimension builds (04a/04b/04c). All three share the shape:
  * derive from (possibly year-sliced) silver → dedupe/enrich → surrogate
  * key → SCD1 merge keyed on the natural key.
  *
  * Scale: dimension inputs are aggregates/distincts of silver — tiny
  * relative to the fact — so every join inside a build broadcasts, and
  * the build's shuffles are the distinct/group-by/window on the (small)
  * key domain. An incremental run's SCD1 merge ([[Merge.scd1]]) is one
  * full outer join, which cannot broadcast: it shuffles the existing
  * dimension once on the natural key, and the new build once (its
  * duplicate-key guard's window, which the join reuses).
  */
object Dims {

  private def nowOr(clock: Option[java.sql.Timestamp]): Column =
    clock.map(lit(_)).getOrElse(current_timestamp())

  // ---------------------------------------------------------------- 04a
  /** dim_athletes: W2 latest-record pick per natural key, D3 natural key,
    * D4 surrogate (hash input omits NULL country — the documented D3/D4
    * asymmetry). Ref: 04a cells 4-9.
    */
  def buildAthletes(silver: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame = {
    val withKey = silver.withColumn(
      "athlete_natural_key",
      athleteNaturalKey(col("athlete_name"), col("country")))
    val w = Window.partitionBy("athlete_natural_key")
      .orderBy(col("year").desc, col("load_timestamp").desc_nulls_last)
    withKey
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("athlete_natural_key", "athlete_name", "first_name", "last_name", "country")
      .withColumn(
        "athlete_key",
        athleteSurrogateKey(col("athlete_name"), col("country")))
      .withColumn("created_at", nowOr(clock))
      .withColumn("updated_at", nowOr(clock))
      .select(
        "athlete_key", "athlete_natural_key", "athlete_name",
        "first_name", "last_name", "country", "created_at", "updated_at")
  }

  def writeAthletes(store: TableStore, config: PipelineConfig, dim: DataFrame): Unit =
    writeScd1(store, config, dim, PipelineConfig.tables.dimAthletes,
      keys = Seq("athlete_natural_key"),
      updateCols = Seq("athlete_name", "first_name", "last_name", "country", "updated_at"))

  // ---------------------------------------------------------------- 04b
  /** dim_countries: A3 distinct codes → J1 left join to the static
    * mapping (broadcast) → D11 fallbacks → A4 exact athlete counts →
    * D4 surrogate. Ref: 04b cells 4-9.
    */
  def buildCountries(
      spark: SparkSession,
      silver: DataFrame,
      clock: Option[java.sql.Timestamp] = None): DataFrame = {
    val codes = silver.select("country").filter(col("country").isNotNull).distinct()
    val mapping = CountryMapping.toDF(spark)
    val mapped = codes.join(
        broadcast(mapping), codes("country") === mapping("country_code"), "left")
      .select(codes("country"), mapping("country_name"), mapping("continent"))
      .withColumn("country_name", coalesce(col("country_name"), col("country")))
      .withColumn("continent", coalesce(col("continent"), lit("Unknown")))
      .withColumn("country_key", surrogateKey(col("country")))
    val counts = silver
      .filter(col("country").isNotNull)
      .groupBy("country")
      .agg(countDistinct("athlete_name").as("athlete_count"))
    mapped.join(counts, Seq("country"), "left")
      .withColumn("created_at", nowOr(clock))
      .withColumn("updated_at", nowOr(clock))
      .select(
        "country_key", "country", "country_name", "continent",
        "athlete_count", "created_at", "updated_at")
  }

  def writeCountries(store: TableStore, config: PipelineConfig, dim: DataFrame): Unit =
    writeScd1(store, config, dim, PipelineConfig.tables.dimCountries,
      keys = Seq("country"),
      updateCols = Seq("country_name", "continent", "athlete_count", "updated_at"))

  // ---------------------------------------------------------------- 04c
  /** dim_divisions: A3 distinct divisions → D10 parse (gender prefix,
    * PRO flag, age bounds regex, nested description) → D4 surrogate.
    * Ref: 04c cells 4-8.
    */
  def buildDivisions(silver: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame =
    silver.select("division").filter(col("division").isNotNull).distinct()
      .withColumn("gender", divisionGender(col("division")))
      .withColumn("is_professional", isProfessional(col("division")))
      .withColumn("age_group_start", ageGroupStart(col("division")))
      .withColumn("age_group_end", ageGroupEnd(col("division")))
      .withColumn(
        "division_description",
        divisionDescription(
          col("division"), col("gender"), col("is_professional"),
          col("age_group_start"), col("age_group_end")))
      .withColumn("division_key", surrogateKey(col("division")))
      .withColumn("created_at", nowOr(clock))
      .withColumn("updated_at", nowOr(clock))
      .select(
        "division_key", "division", "division_description", "gender",
        "is_professional", "age_group_start", "age_group_end",
        "created_at", "updated_at")

  def writeDivisions(store: TableStore, config: PipelineConfig, dim: DataFrame): Unit =
    writeScd1(store, config, dim, PipelineConfig.tables.dimDivisions,
      keys = Seq("division"),
      updateCols = Seq("division_description", "gender", "is_professional",
        "age_group_start", "age_group_end", "updated_at"))

  /** Shared SCD1 write path: full overwrite on full_load/first run, else
    * an upsert (one full outer join) updating only the listed attributes.
    */
  private def writeScd1(
      store: TableStore,
      config: PipelineConfig,
      dim: DataFrame,
      table: String,
      keys: Seq[String],
      updateCols: Seq[String]): Unit = {
    if (!store.exists(table) || !config.isIncremental)
      store.overwrite(table, dim)
    else
      Merge.mergeInto(store, table, dim, keys, updateCols)
  }

  def run(
      spark: SparkSession,
      store: TableStore,
      config: PipelineConfig,
      clock: Option[java.sql.Timestamp] = None): Unit = {
    val silverAll = store.read(PipelineConfig.tables.silver)
    // D13: incremental dim builds see only the sliced year (a deliberate
    // reference semantic — athlete_count reflects the latest processed
    // year; SURVEY §7.4).
    val silver =
      (if (config.isIncremental)
        config.processYear.fold(silverAll)(y => silverAll.filter(col("year") === y))
      else silverAll).cache()
    try {
      // three dim builds scan silver; cache avoids three parquet re-reads
      writeAthletes(store, config, buildAthletes(silver, clock))
      writeCountries(store, config, buildCountries(spark, silver, clock))
      writeDivisions(store, config, buildDivisions(silver, clock))
    } finally silver.unpersist()
  }
}
