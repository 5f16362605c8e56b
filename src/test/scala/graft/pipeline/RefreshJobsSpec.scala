package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.ProbeAccess
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkSpec

/** Regression pin for table opens: every Spark job of an incremental
  * refresh belongs to an SQL execution. A `spark.read.parquet` of a table
  * without a schema runs one job outside any, to read a file footer for
  * the schema; the refresh opens its tables through `TableStore`, which
  * reads that footer on the driver.
  *
  * The refresh merges 2025 from the committed landing fixture (FIXTURES.md
  * §5) onto a 2023+2024 warehouse, as in `CodegenCacheSpec`.
  */
class RefreshJobsSpec extends SparkSpec {

  private val clock = Some(Timestamp.valueOf("2026-01-01 00:00:00"))

  private def files(years: Int*): Seq[LandingFile] =
    RunPipeline.referenceFiles(LandingData.fixture.dir).filter(f => years.contains(f.year))

  /** The incremental refresh's Spark jobs: the last stage name of each
    * job started outside any SQL execution, and the count of all jobs.
    */
  private lazy val refreshJobs: (Seq[String], Int) = {
    val wh = Files.createTempDirectory("graft-refresh-jobs-").toString
    Pipeline.run(spark, PipelineConfig(PipelineConfig.FullLoad, None, files(2023, 2024), wh), clock)
    val outside = new ConcurrentLinkedQueue[String]()
    val all = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (Option(j.properties).forall(_.getProperty(SQLExecution.EXECUTION_ID_KEY) == null))
          outside.add(j.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
      }
    }
    ProbeAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      Pipeline.run(spark, PipelineConfig(PipelineConfig.Incremental, Some(2025), files(2025), wh), clock)
      ProbeAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(counter)
    (outside.asScala.toSeq, all.get)
  }

  test("an incremental refresh starts no Spark job outside an SQL execution") {
    // 19 before table opens read their footer on the driver, all of them
    // `parquet at TableStore.scala` / `Views.scala` schema inference
    assert(refreshJobs._1.isEmpty, refreshJobs._1.mkString(", "))
  }

  test("an incremental refresh runs at most 35 Spark jobs") {
    // 33 measured, plus 2 of headroom for AQE; 51 while scd1 unioned three
    // joins that each rebuilt the source
    assert(refreshJobs._2 <= 35)
  }
}
