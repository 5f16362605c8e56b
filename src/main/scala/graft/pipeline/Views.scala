package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TableStore

/** S10 — the 15 dashboard views (05_dashboard_queries.ipynb), re-expressed
  * over the gold tables registered as temp views (`fact_race_results`,
  * `dim_athletes`, `dim_countries`, `dim_divisions`).
  *
  * Semantics preserved exactly, including the reference's quirks:
  * `vw_gender_distribution` maps only 'M' (else passthrough), the YoY
  * change-pct numerator coalesces prev to curr, and
  * `PERCENTILE_APPROX` stays approximate.
  */
object Views {

  // Ordered by declaration: saveView persists each view under its position
  // here, and TableStore's restore contract replays them in that order —
  // so a view may reference any view declared above it.
  val definitions: Seq[(String, String)] = Seq(
    "vw_kpi_metrics" ->
      """SELECT COUNT(*) AS total_athletes,
        |  SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) AS total_finishers,
        |  SUM(CASE WHEN is_dnf THEN 1 ELSE 0 END) AS total_dnf,
        |  SUM(CASE WHEN is_dns THEN 1 ELSE 0 END) AS total_dns,
        |  ROUND(SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS finish_rate_pct,
        |  ROUND(AVG(CASE WHEN is_finisher THEN finish_time_seconds END) / 3600, 2) AS avg_finish_hours,
        |  ROUND(MIN(CASE WHEN is_finisher AND rank = 1 THEN finish_time_seconds END) / 3600, 2) AS fastest_finish_hours,
        |  COUNT(DISTINCT country_key) AS total_countries,
        |  COUNT(DISTINCT year) AS total_years,
        |  MIN(year) AS first_year,
        |  MAX(year) AS latest_year
        |FROM fact_race_results""".stripMargin,

    "vw_athletes_by_year" ->
      """SELECT year, source_gender AS gender,
        |  COUNT(*) AS total_athletes,
        |  SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) AS finishers,
        |  SUM(CASE WHEN is_dnf THEN 1 ELSE 0 END) AS dnf,
        |  SUM(CASE WHEN is_dns THEN 1 ELSE 0 END) AS dns,
        |  ROUND(SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS finish_rate_pct
        |FROM fact_race_results
        |GROUP BY year, source_gender
        |ORDER BY year, source_gender""".stripMargin,

    "vw_finish_rate_trend" ->
      """SELECT year,
        |  COUNT(*) AS total_athletes,
        |  SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) AS finishers,
        |  ROUND(SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS finish_rate_pct,
        |  ROUND(AVG(CASE WHEN is_finisher THEN finish_time_seconds END) / 3600, 2) AS avg_finish_hours
        |FROM fact_race_results
        |GROUP BY year
        |ORDER BY year""".stripMargin,

    "vw_gender_distribution" ->
      """SELECT year,
        |  CASE WHEN source_gender = 'M' THEN 'Male' ELSE source_gender END AS gender,
        |  COUNT(*) AS athletes,
        |  ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (PARTITION BY year), 1) AS percentage
        |FROM fact_race_results
        |GROUP BY year, source_gender
        |ORDER BY year, source_gender""".stripMargin,

    "vw_top_countries" ->
      """SELECT c.country_name, c.continent,
        |  COUNT(*) AS total_athletes,
        |  SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) AS finishers,
        |  ROUND(SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS finish_rate_pct,
        |  ROUND(AVG(CASE WHEN f.is_finisher THEN f.finish_time_seconds END) / 3600, 2) AS avg_finish_hours,
        |  COUNT(DISTINCT f.year) AS years_participated
        |FROM fact_race_results f
        |LEFT JOIN dim_countries c ON f.country_key = c.country_key
        |WHERE c.country_name IS NOT NULL
        |GROUP BY c.country_name, c.continent
        |ORDER BY total_athletes DESC""".stripMargin,

    "vw_countries_by_year" ->
      """SELECT f.year, c.country_name, c.continent,
        |  COUNT(*) AS total_athletes,
        |  SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) AS finishers
        |FROM fact_race_results f
        |LEFT JOIN dim_countries c ON f.country_key = c.country_key
        |WHERE c.country_name IS NOT NULL
        |GROUP BY f.year, c.country_name, c.continent
        |ORDER BY f.year, total_athletes DESC""".stripMargin,

    "vw_continent_distribution" ->
      """SELECT year, c.continent,
        |  COUNT(*) AS athletes,
        |  ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (PARTITION BY year), 1) AS percentage
        |FROM fact_race_results f
        |LEFT JOIN dim_countries c ON f.country_key = c.country_key
        |WHERE c.continent IS NOT NULL AND c.continent != 'Unknown'
        |GROUP BY year, c.continent
        |ORDER BY year, athletes DESC""".stripMargin,

    "vw_segment_times" ->
      """SELECT year,
        |  CASE WHEN source_gender = 'M' THEN 'Male' ELSE 'Female' END AS gender,
        |  ROUND(AVG(swim_time_seconds) / 60, 1) AS avg_swim_minutes,
        |  ROUND(AVG(transition_1_seconds) / 60, 1) AS avg_t1_minutes,
        |  ROUND(AVG(bike_time_seconds) / 60, 1) AS avg_bike_minutes,
        |  ROUND(AVG(transition_2_seconds) / 60, 1) AS avg_t2_minutes,
        |  ROUND(AVG(run_time_seconds) / 60, 1) AS avg_run_minutes,
        |  ROUND(AVG(finish_time_seconds) / 60, 1) AS avg_total_minutes,
        |  ROUND(AVG(swim_time_seconds) * 100.0 / AVG(finish_time_seconds), 1) AS swim_pct,
        |  ROUND(AVG(bike_time_seconds) * 100.0 / AVG(finish_time_seconds), 1) AS bike_pct,
        |  ROUND(AVG(run_time_seconds) * 100.0 / AVG(finish_time_seconds), 1) AS run_pct
        |FROM fact_race_results
        |WHERE is_finisher = true AND has_data_issue = false
        |GROUP BY year, source_gender
        |ORDER BY year, source_gender""".stripMargin,

    "vw_age_group_performance" ->
      """SELECT f.year, d.age_group_start, d.age_group_end,
        |  CONCAT(d.age_group_start, '-', d.age_group_end) AS age_group,
        |  COUNT(*) AS total_athletes,
        |  SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) AS finishers,
        |  ROUND(SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS finish_rate_pct,
        |  ROUND(AVG(CASE WHEN f.is_finisher THEN f.finish_time_seconds END) / 3600, 2) AS avg_finish_hours
        |FROM fact_race_results f
        |LEFT JOIN dim_divisions d ON f.division_key = d.division_key
        |WHERE d.age_group_start IS NOT NULL AND d.is_professional = false
        |GROUP BY f.year, d.age_group_start, d.age_group_end
        |ORDER BY f.year, d.age_group_start""".stripMargin,

    "vw_finish_time_distribution" ->
      """SELECT year,
        |  CASE WHEN source_gender = 'M' THEN 'Male' ELSE 'Female' END AS gender,
        |  FLOOR(finish_time_seconds / 3600) AS finish_hour,
        |  CONCAT(FLOOR(finish_time_seconds / 3600), '-', FLOOR(finish_time_seconds / 3600) + 1, ' hrs') AS finish_hour_range,
        |  COUNT(*) AS athletes
        |FROM fact_race_results
        |WHERE is_finisher = true AND finish_time_seconds IS NOT NULL
        |GROUP BY year, source_gender, FLOOR(finish_time_seconds / 3600)
        |ORDER BY year, source_gender, finish_hour""".stripMargin,

    "vw_top_finishers" ->
      """SELECT f.year, f.rank, a.athlete_name, c.country_name, c.continent,
        |  d.division_description,
        |  CASE WHEN f.source_gender = 'M' THEN 'Male' ELSE 'Female' END AS gender,
        |  f.finish_time_seconds,
        |  CONCAT(FLOOR(f.finish_time_seconds / 3600), ':',
        |         LPAD(FLOOR((f.finish_time_seconds % 3600) / 60), 2, '0'), ':',
        |         LPAD(f.finish_time_seconds % 60, 2, '0')) AS finish_time_formatted,
        |  ROUND(f.swim_time_seconds / 60, 1) AS swim_minutes,
        |  ROUND(f.bike_time_seconds / 60, 1) AS bike_minutes,
        |  ROUND(f.run_time_seconds / 60, 1) AS run_minutes
        |FROM fact_race_results f
        |LEFT JOIN dim_athletes a ON f.athlete_key = a.athlete_key
        |LEFT JOIN dim_countries c ON f.country_key = c.country_key
        |LEFT JOIN dim_divisions d ON f.division_key = d.division_key
        |WHERE f.is_finisher = true AND f.rank IS NOT NULL
        |ORDER BY f.year DESC, f.rank""".stripMargin,

    "vw_year_over_year" ->
      """WITH yearly_stats AS (
        |  SELECT year,
        |    COUNT(*) AS total_athletes,
        |    SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) AS finishers,
        |    ROUND(SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS finish_rate_pct,
        |    ROUND(AVG(CASE WHEN is_finisher THEN finish_time_seconds END) / 3600, 2) AS avg_finish_hours,
        |    COUNT(DISTINCT country_key) AS countries
        |  FROM fact_race_results
        |  GROUP BY year
        |)
        |SELECT curr.year, curr.total_athletes, curr.finishers,
        |  curr.finish_rate_pct, curr.avg_finish_hours, curr.countries,
        |  curr.total_athletes - COALESCE(prev.total_athletes, 0) AS athletes_change,
        |  ROUND((curr.total_athletes - COALESCE(prev.total_athletes, curr.total_athletes)) * 100.0
        |        / NULLIF(prev.total_athletes, 0), 1) AS athletes_change_pct,
        |  curr.finish_rate_pct - COALESCE(prev.finish_rate_pct, 0) AS finish_rate_change,
        |  curr.avg_finish_hours - COALESCE(prev.avg_finish_hours, 0) AS avg_time_change_hours
        |FROM yearly_stats curr
        |LEFT JOIN yearly_stats prev ON curr.year = prev.year + 1
        |ORDER BY curr.year""".stripMargin,

    "vw_pro_vs_age_group" ->
      """SELECT f.year,
        |  CASE WHEN d.is_professional THEN 'Professional' ELSE 'Age Group' END AS category,
        |  COUNT(*) AS athletes,
        |  SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) AS finishers,
        |  ROUND(SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS finish_rate_pct,
        |  ROUND(AVG(CASE WHEN f.is_finisher THEN f.finish_time_seconds END) / 3600, 2) AS avg_finish_hours,
        |  ROUND(MIN(CASE WHEN f.is_finisher THEN f.finish_time_seconds END) / 3600, 2) AS fastest_hours
        |FROM fact_race_results f
        |LEFT JOIN dim_divisions d ON f.division_key = d.division_key
        |WHERE d.is_professional IS NOT NULL
        |GROUP BY f.year, d.is_professional
        |ORDER BY f.year, category""".stripMargin,

    "vw_dnf_analysis" ->
      """SELECT year,
        |  CASE WHEN source_gender = 'M' THEN 'Male' ELSE 'Female' END AS gender,
        |  COUNT(*) AS total_athletes,
        |  SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) AS finishers,
        |  SUM(CASE WHEN is_dnf THEN 1 ELSE 0 END) AS dnf,
        |  SUM(CASE WHEN is_dns THEN 1 ELSE 0 END) AS dns,
        |  SUM(CASE WHEN is_dq THEN 1 ELSE 0 END) AS dq,
        |  ROUND(SUM(CASE WHEN is_dnf THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS dnf_rate_pct,
        |  ROUND(SUM(CASE WHEN is_dns THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS dns_rate_pct
        |FROM fact_race_results
        |GROUP BY year, source_gender
        |ORDER BY year, source_gender""".stripMargin,

    "vw_fastest_times" ->
      """SELECT year,
        |  CASE WHEN source_gender = 'M' THEN 'Male' ELSE 'Female' END AS gender,
        |  ROUND(MIN(finish_time_seconds) / 3600, 2) AS fastest_finish_hours,
        |  ROUND(MIN(swim_time_seconds) / 60, 1) AS fastest_swim_minutes,
        |  ROUND(MIN(bike_time_seconds) / 60, 1) AS fastest_bike_minutes,
        |  ROUND(MIN(run_time_seconds) / 60, 1) AS fastest_run_minutes,
        |  ROUND(AVG(finish_time_seconds) / 3600, 2) AS avg_finish_hours,
        |  ROUND(PERCENTILE_APPROX(finish_time_seconds, 0.5) / 3600, 2) AS median_finish_hours
        |FROM fact_race_results
        |WHERE is_finisher = true
        |GROUP BY year, source_gender
        |ORDER BY year, source_gender""".stripMargin)

  private val baseTables: Seq[(String, String)] = Seq(
    "fact_race_results" -> PipelineConfig.tables.fact,
    "dim_athletes" -> PipelineConfig.tables.dimAthletes,
    "dim_countries" -> PipelineConfig.tables.dimCountries,
    "dim_divisions" -> PipelineConfig.tables.dimDivisions)

  /** Register gold tables + create all 15 views, PERSISTING each view
    * definition in the warehouse (the reference's views live in Unity
    * Catalog and survive the session, 05_dashboard_queries.ipynb:49) —
    * a later session re-attaches via [[restore]].
    */
  def registerAll(spark: SparkSession, store: TableStore): Unit = {
    baseTables.foreach { case (alias, table) =>
      TableStore.readParquet(spark, Seq(store.path(table))).createOrReplaceTempView(alias)
    }
    definitions.zipWithIndex.foreach { case ((name, sql), i) =>
      store.saveView(name, sql, i)
      spark.sql(s"CREATE OR REPLACE TEMP VIEW $name AS $sql")
    }
  }

  /** Re-attach a (possibly brand-new) SparkSession to the warehouse:
    * register the gold base tables and re-create every persisted view —
    * the "dashboard reconnect" path. Reads via `spark` (not the store's
    * own session) so any session can attach.
    */
  def restore(spark: SparkSession, store: TableStore): Unit = {
    baseTables.foreach { case (alias, table) =>
      TableStore.readParquet(spark, Seq(store.path(table))).createOrReplaceTempView(alias)
    }
    store.restoreViewsInto(spark)
  }

  /** Catalog-native registration (`SHOW VIEWS` / `listTables` parity
    * with the reference's Unity Catalog objects): base tables become
    * EXTERNAL parquet tables and every dashboard view a PERMANENT
    * catalog view — both live in the SparkContext's shared catalog, so
    * every session of this context sees them without a per-session
    * restore. Definitions are still persisted to the warehouse, so a
    * whole-new context re-attaches with [[restore]] (session-scoped) or
    * this method (catalog-scoped). Permanent views may not reference
    * temp objects, hence the external tables.
    */
  def registerCatalog(spark: SparkSession, store: TableStore): Unit = {
    baseTables.foreach { case (alias, table) =>
      spark.catalog.dropTempView(alias) // a temp view would shadow the table
      spark.sql(s"DROP TABLE IF EXISTS $alias")
      spark.catalog.createTable(alias, store.path(table), "parquet")
      // partitioned tables (fact's year= layout) register their partition
      // directories, or the external table silently reads zero rows
      if (store.partitionColumns(table).nonEmpty)
        spark.sql(s"MSCK REPAIR TABLE $alias")
    }
    definitions.zipWithIndex.foreach { case ((name, sql), i) =>
      store.saveView(name, sql, i)
      spark.catalog.dropTempView(name)
      spark.sql(s"CREATE OR REPLACE VIEW $name AS $sql")
    }
  }

  def view(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
