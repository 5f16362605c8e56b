package graft.pipeline

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.tools.Probe

/** Regression pin for the generated-code cache size set in
  * `GraftSession.builder`: a warm incremental refresh reuses the classes
  * its earlier runs compiled. With Spark's default cache of 100 entries
  * the refresh's working set (a few hundred classes) is evicted before
  * its next use and every run compiles it all again.
  *
  * Each run merges 2025 from the committed landing fixture (FIXTURES.md
  * §5) onto a fresh copy of one 2023+2024 warehouse, so all three run the
  * same plans on the same data.
  */
class CodegenCacheSpec extends SparkSpec {

  private val clock = Some(Timestamp.valueOf("2026-01-01 00:00:00"))

  private def files(years: Int*): Seq[LandingFile] =
    RunPipeline.referenceFiles(LandingData.fixture.dir).filter(f => years.contains(f.year))

  private def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  test("a third incremental refresh compiles almost nothing") {
    val root = Files.createTempDirectory("graft-codegen-")
    val base = root.resolve("base")
    Pipeline.run(spark,
      PipelineConfig(PipelineConfig.FullLoad, None, files(2023, 2024), base.toString), clock)
    val compiles = (1 to 3).map { i =>
      val wh = root.resolve(s"run$i")
      copy(base, wh)
      val c0 = Probe.compilations
      Pipeline.run(spark,
        PipelineConfig(PipelineConfig.Incremental, Some(2025), files(2025), wh.toString), clock)
      Probe.compilations - c0
    }
    info(s"compilations per refresh: ${compiles.mkString(", ")}")
    // 4 cores: 158, 10, 0 alone and 147, 4, 6 in the full suite with the
    // builder's 1000 entries; 209, 209, 211 with Spark's 100
    assert(compiles.last <= 25, compiles)
  }
}
