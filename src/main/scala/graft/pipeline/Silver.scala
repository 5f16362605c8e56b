package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IronmanExprs._
import graft.operators.{Merge, TableStore}

/** Silver stage — typed, flagged, validated results (03_silver.ipynb).
  *
  *  - D13 incremental year slice — cell-2 (:103)
  *  - 15 integer casts — cell-5 (:196-216), with existence guards
  *  - D1 time parsing ×6 — cell-6 (:238-250)
  *  - trim/upper normalization — cell-6 (:252-255)
  *  - D5 status flags, D6 calculated total — cell-6 (:257-271)
  *  - D8 time_difference (audit, then dropped) — cell-7/16
  *  - D9 first/last name — cell-7 (:298-305)
  *  - D7 has_data_issue — cell-13 (:466-480)
  *  - 44-column final projection — cell-17/18 (:581-608)
  *  - full-load overwrite / insert-only merge on row_key — cell-19
  */
object Silver {

  val integerColumns: Seq[String] = Seq(
    "rank", "div_rank", "gender_rank", "overall_rank", "bib", "points",
    "swim_div_rank", "swim_gender_rank", "swim_overall_rank",
    "bike_div_rank", "bike_gender_rank", "bike_overall_rank",
    "run_div_rank", "run_gender_rank", "run_overall_rank")

  val timeColumns: Seq[(String, String)] = Seq(
    "swim_time" -> "swim_time_seconds",
    "bike_time" -> "bike_time_seconds",
    "run_time" -> "run_time_seconds",
    "finish_time" -> "finish_time_seconds",
    "transition_1" -> "transition_1_seconds",
    "transition_2" -> "transition_2_seconds")

  val finalColumns: Seq[String] = Seq(
    "row_key", "year",
    "athlete_name", "first_name", "last_name", "country", "bib",
    "division", "source_gender",
    "designation", "is_finisher", "is_dnf", "is_dns", "is_dq", "has_data_issue",
    "rank", "div_rank", "gender_rank", "overall_rank", "points",
    "swim_time", "swim_time_seconds", "swim_div_rank", "swim_gender_rank", "swim_overall_rank",
    "transition_1", "transition_1_seconds",
    "bike_time", "bike_time_seconds", "bike_div_rank", "bike_gender_rank", "bike_overall_rank",
    "transition_2", "transition_2_seconds",
    "run_time", "run_time_seconds", "run_div_rank", "run_gender_rank", "run_overall_rank",
    "finish_time", "finish_time_seconds", "calculated_total_seconds",
    "source_file", "load_timestamp", "load_date")

  /** Every bronze column the silver build references. Drift tolerance is
    * real, not illusory: any of these missing from bronze (a drifted
    * landing file stacked via unionByName(allowMissingColumns)) is
    * created as an all-NULL string, so every downstream expression
    * resolves and the 45-column output schema stays stable.
    */
  private val expectedInputColumns: Seq[String] =
    integerColumns ++ timeColumns.map(_._1) ++
      Seq("athlete_name", "country", "designation", "division")

  def build(bronze: DataFrame, processYear: Option[Int]): DataFrame = {
    val sliced = processYear.fold(bronze)(y => bronze.filter(col("year") === y))

    val complete = expectedInputColumns.filterNot(sliced.columns.contains)
      .foldLeft(sliced)((df, c) => df.withColumn(c, lit(null).cast("string")))

    val cast = integerColumns
      .foldLeft(complete)((df, c) => df.withColumn(c, col(c).cast("int")))

    val parsed = timeColumns.foldLeft(cast) { case (df, (src, dst)) =>
      df.withColumn(dst, parseTimeToSeconds(col(src)))
    }

    val normalized = parsed
      .withColumn("country", upper(trim(col("country"))))
      .withColumn("athlete_name", trim(col("athlete_name")))
      .withColumn("designation", upper(trim(col("designation"))))
      .withColumn("division", upper(trim(col("division"))))

    val flagged = normalized
      .withColumn("is_finisher", statusFlag(col("designation"), "FINISHER"))
      .withColumn("is_dnf", statusFlag(col("designation"), "DNF"))
      .withColumn("is_dns", statusFlag(col("designation"), "DNS"))
      .withColumn("is_dq", statusFlag(col("designation"), "DQ"))
      .withColumn(
        "calculated_total_seconds",
        calculatedTotalSeconds(
          col("swim_time_seconds"), col("transition_1_seconds"),
          col("bike_time_seconds"), col("transition_2_seconds"),
          col("run_time_seconds")))
      .withColumn("first_name", firstName(col("athlete_name")))
      .withColumn("last_name", lastName(col("athlete_name")))
      .withColumn(
        "has_data_issue",
        when(
          (col("is_finisher") === true) && (
            col("rank").isNull ||
              col("swim_time_seconds").isNull ||
              col("bike_time_seconds").isNull ||
              col("run_time_seconds").isNull ||
              col("finish_time_seconds").isNull),
          lit(true)).otherwise(lit(false)))
    // NB the reference's transient time_difference (cell-7/16) lives only
    // in the D8 audit here — see timeConsistencyAudit

    flagged.select(finalColumns.filter(flagged.columns.contains).map(col): _*)
  }

  /** D8 audit: finishers whose |finish - calculated| exceeds 60 s.
    * Reported, never persisted (03_silver.ipynb:520-560 cells 15/16).
    */
  def timeConsistencyAudit(silver: DataFrame): DataFrame =
    silver
      .withColumn(
        "time_difference",
        timeDifference(col("finish_time_seconds"), col("calculated_total_seconds")))
      .filter(col("is_finisher") === true && col("time_difference") > 60)

  def write(store: TableStore, config: PipelineConfig, silver: DataFrame): Unit = {
    val table = PipelineConfig.tables.silver
    if (!store.exists(table) || !config.isIncremental)
      store.overwrite(table, silver, partitionBy = Seq("year"))
    else
      // row_key embeds the year, so the anti-join is partition-local:
      // only the incoming year's partitions are read and rewritten
      Merge.insertOnlyPartitionAligned(store, table, silver, Seq("row_key"), "year")
  }

  def run(spark: SparkSession, store: TableStore, config: PipelineConfig): Unit = {
    val bronze = store.read(PipelineConfig.tables.bronze)
    // zero-row guard, ref: 03_silver.ipynb:344-347 (cell-8)
    val silver = build(bronze, if (config.isIncremental) config.processYear else None)
    require(!silver.isEmpty, "silver input is empty")
    write(store, config, silver)
  }
}
