package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cross-view invariants: the 15 dashboard views must agree with each
  * other (they are all projections of one fact table) — catching any
  * view definition that silently drifts from the rest. Landing data and
  * its row count come from `LandingData`.
  */
class ViewInvariantsSpec extends SparkSpec {

  private lazy val store = {
    val wh = Files.createTempDirectory("graft-vi-").toString
    val s = Pipeline.run(spark,
      PipelineConfig(PipelineConfig.FullLoad, None,
        LandingData.files(), wh),
      Some(Timestamp.valueOf("2026-01-01 00:00:00")))
    Views.registerAll(spark, s)
    s
  }

  test("athlete totals agree across kpi, per-year, per-gender, and dnf views") {
    store // force pipeline
    val kpiTotal = spark.table("vw_kpi_metrics")
      .head().getLong(0)
    val byYear = spark.table("vw_athletes_by_year")
      .agg(sum("total_athletes")).head().getLong(0)
    val byGender = spark.table("vw_gender_distribution")
      .agg(sum("athletes")).head().getLong(0)
    val dnf = spark.table("vw_dnf_analysis")
      .agg(sum("total_athletes")).head().getLong(0)
    assert(kpiTotal == LandingData.current.rows)
    assert(byYear == kpiTotal && byGender == kpiTotal && dnf == kpiTotal)
  }

  test("finisher counts agree between kpi and finish-rate trend") {
    store
    val kpi = spark.table("vw_kpi_metrics").head()
    val finishers = kpi.getLong(kpi.fieldIndex("total_finishers"))
    val trend = spark.table("vw_finish_rate_trend")
      .agg(sum("finishers")).head().getLong(0)
    assert(trend == finishers)
  }

  test("gender and continent percentages sum to ~100 per year") {
    store
    Seq("vw_gender_distribution", "vw_continent_distribution").foreach { v =>
      spark.table(v).groupBy("year").agg(sum("percentage").as("p"))
        .collect().foreach { r =>
          val p = r.getAs[java.math.BigDecimal]("p").doubleValue()
          // continent view excludes Unknown, so it may sum below 100
          assert(p <= 100.5, s"$v year ${r.get(0)}: $p")
          if (v == "vw_gender_distribution")
            assert(math.abs(p - 100.0) < 0.5, s"$v year ${r.get(0)}: $p")
        }
    }
  }

  test("all 15 views survive a dashboard reconnect (new session + restore)") {
    val s = store
    val fresh = spark.newSession()
    intercept[Exception](fresh.table("vw_kpi_metrics").collect())
    Views.restore(fresh, s)
    assert(s.savedViews.size == Views.definitions.size)
    Views.definitions.map(_._1).foreach { name =>
      assert(fresh.table(name).columns.nonEmpty, s"$name missing after restore")
    }
    // values, not just resolution: kpi total matches the original session
    assert(fresh.table("vw_kpi_metrics").head().getLong(0) ==
      spark.table("vw_kpi_metrics").head().getLong(0))
  }

  test("catalog-native views: SHOW VIEWS lists all 15, visible across sessions") {
    val s = store
    Views.registerCatalog(spark, s)
    val listed = spark.sql("SHOW VIEWS")
      .select("viewName").collect().map(_.getString(0)).toSet
    val expected = Views.definitions.map(_._1).toSet
    assert(expected.subsetOf(listed),
      s"missing from SHOW VIEWS: ${expected -- listed}")
    assert(spark.catalog.tableExists("vw_kpi_metrics"))
    // shared catalog: a brand-new session of this context sees the views
    // WITHOUT any restore call — the Unity-Catalog-like behavior
    val other = spark.newSession()
    assert(other.table("vw_kpi_metrics").head().getLong(0) == LandingData.current.rows)
    // joins through the external dim tables resolve with real rows
    assert(other.table("vw_top_countries").count() > 0)
  }

  test("top-finishers view winner matches fastest-times per year/gender") {
    store
    val winners = spark.table("vw_top_finishers")
      .filter(col("rank") === 1)
      .select(col("year"), col("gender"), col("finish_time_seconds"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getInt(2)).toMap
    spark.table("vw_fastest_times").collect().foreach { r =>
      val key = (r.getInt(0), r.getString(1))
      val fastestHours = r.getDouble(r.fieldIndex("fastest_finish_hours"))
      winners.get(key).foreach { winnerSecs =>
        // fastest over finishers <= winner's time (rank-1 is a finisher)
        assert(fastestHours <= winnerSecs / 3600.0 + 0.01,
          s"$key fastest=$fastestHours winner=${winnerSecs / 3600.0}")
      }
    }
  }
}
