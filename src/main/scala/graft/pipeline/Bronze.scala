package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.IronmanExprs
import graft.operators.{Merge, TableStore}

/** Bronze stage — raw CSV landing → all-string bronze table with lineage
  * metadata and a stable unique `row_key`.
  *
  * Reference behavior reproduced (02_bronze.ipynb):
  *  - S1 header'd CSV scan with inference off (all STRING) — cell-3
  *  - P7 "-" → NULL sentinel normalization over every column — cell-3
  *  - metadata columns year/source_gender/source_file/load_timestamp/
  *    load_date — cell-3
  *  - J9 unionByName(allowMissingColumns) stacking — cell-4
  *  - W1/D2 dedup-ranked row_key — cell-5
  *  - S5/S6 full-load overwrite or insert-only merge on row_key — cell-7/8
  *
  * Scale: per-file reads parallelize across executors; the only shuffle
  * is the row_key window partitioned by (year, gender, cleaned name) —
  * high-cardinality, so it distributes evenly at any scale.
  */
object Bronze {

  /** A deterministic clock can be injected for tests (the reference uses
    * current_timestamp/current_date, non-deterministic — SURVEY §7.4).
    */
  def readCsvWithMetadata(
      spark: SparkSession,
      path: String,
      year: Int,
      gender: String,
      clock: Option[java.sql.Timestamp] = None): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path)
    val nullNormalized = nullSentinelToNull(raw)
    val ts: Column = clock.map(lit(_)).getOrElse(current_timestamp())
    // derive the date in UTC (the session timezone) — toLocalDateTime
    // would use the JVM default TZ and could disagree with ts by a day
    val dt: Column = clock.map(t => lit(java.sql.Date.valueOf(
        t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)))
      .getOrElse(current_date())
    nullNormalized
      .withColumn("year", lit(year).cast("int"))
      .withColumn("source_gender", lit(gender).cast("string"))
      .withColumn("source_file", lit(path).cast("string"))
      .withColumn("load_timestamp", ts)
      .withColumn("load_date", dt)
  }

  /** P7 — "-" → NULL over every column (02_bronze.ipynb:139-143); shared
    * with the CSV-scan gate query.
    */
  def nullSentinelToNull(df: DataFrame): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      d.withColumn(c, when(col(c) === "-", lit(null)).otherwise(col(c)))
    }

  def build(
      spark: SparkSession,
      files: Seq[LandingFile],
      clock: Option[java.sql.Timestamp] = None): DataFrame = {
    require(files.nonEmpty,
      "no landing files configured — check run_mode/process_year against the file list")
    val perFile = files.map(f =>
      readCsvWithMetadata(spark, f.path, f.year, f.gender, clock))
    val stacked = perFile.reduce(_.unionByName(_, allowMissingColumns = true))
    withRowKey(stacked)
  }

  /** W1 + D2: dedup rank over (year, gender, cleaned name) ordered by
    * rank then bib nulls-last, concatenated into the stable row id.
    * Ref: 02_bronze.ipynb:208-230 (cell-5).
    */
  def withRowKey(df: DataFrame): DataFrame = {
    val w = Window
      .partitionBy("year", "source_gender", "athlete_name_clean")
      .orderBy(col("rank").asc_nulls_last, col("bib").asc_nulls_last)
    df.withColumn("athlete_name_clean", IronmanExprs.cleanName(col("athlete_name")))
      .withColumn("dup_rank", row_number().over(w))
      .withColumn(
        "row_key",
        IronmanExprs.rowKey(
          col("year"), col("source_gender"),
          col("athlete_name_clean"), col("dup_rank")))
      .drop("athlete_name_clean", "dup_rank")
  }

  /** S5/S6 write: full overwrite on full_load or first run; insert-only
    * merge on row_key otherwise. Ref: 02_bronze.ipynb cells 7-8.
    */
  def write(store: TableStore, config: PipelineConfig, bronze: DataFrame): Unit = {
    val table = PipelineConfig.tables.bronze
    // year= partition layout (the landing-zone convention promoted to the
    // table): incremental year slices downstream prune at file level
    if (!store.exists(table) || !config.isIncremental)
      store.overwrite(table, bronze, partitionBy = Seq("year"))
    else
      // row_key embeds the year, so the anti-join is partition-local:
      // only the incoming year's partitions are read and rewritten
      Merge.insertOnlyPartitionAligned(store, table, bronze, Seq("row_key"), "year")
  }

  def run(
      spark: SparkSession,
      store: TableStore,
      config: PipelineConfig,
      clock: Option[java.sql.Timestamp] = None): Unit =
    write(store, config, build(spark, config.files, clock))
}
