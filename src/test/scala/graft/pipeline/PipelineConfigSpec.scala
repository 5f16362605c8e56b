package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** S11/S12 — config validation fail-fast semantics
  * (01_config.ipynb:126-172 cells 4-6, :425-448 cell-13).
  */
class PipelineConfigSpec extends AnyFunSuite {

  private val file = LandingFile("/tmp/nope.csv", 2023, "M")

  test("invalid run_mode rejected") {
    val e = intercept[IllegalArgumentException] {
      PipelineConfig("nonsense", None, Seq(file), "/tmp/wh")
    }
    assert(e.getMessage.contains("invalid run_mode"))
  }

  test("incremental without process_year rejected") {
    val e = intercept[IllegalArgumentException] {
      PipelineConfig(PipelineConfig.Incremental, None, Seq(file), "/tmp/wh")
    }
    assert(e.getMessage.contains("process_year"))
  }

  test("full_load without year and incremental with year accepted") {
    PipelineConfig(PipelineConfig.FullLoad, None, Seq(file), "/tmp/wh")
    PipelineConfig(PipelineConfig.Incremental, Some(2024), Seq(file), "/tmp/wh")
  }

  test("validateFiles raises FileNotFoundException listing missing paths") {
    val present = java.nio.file.Files.createTempFile("graft-landing-", ".csv")
    try {
      val cfg = PipelineConfig(PipelineConfig.FullLoad, None,
        Seq(file, LandingFile(present.toString, 2023, "M")), "/tmp/wh")
      val e = intercept[java.io.FileNotFoundException] {
        PipelineConfig.validateFiles(cfg)
      }
      assert(e.getMessage.contains("/tmp/nope.csv"))
      assert(!e.getMessage.contains(present.toString))
    } finally java.nio.file.Files.delete(present)
  }
}
