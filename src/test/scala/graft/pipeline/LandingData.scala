package graft.pipeline

import java.nio.file.{Files, Paths}

/** Where the pipeline specs find their landing CSVs, and the facts they
  * assert about them.
  *
  * The data directory resolves as in `RunPipeline.main`:
  * `GRAFT_LANDING_DIR`, else the reference's `Data` directory. When it is
  * absent, the specs whose checks hold on any valid landing set fall back
  * to the committed fixture under `graft/pipeline/landing` (FIXTURES.md §5);
  * the golden specs cancel instead, since their values are facts about the
  * real files.
  */
object LandingData {

  /** Landing-set facts the specs compare pipeline output with. */
  final case class Facts(
      dir: String,
      rows: Long,             // all six files
      rows2025: Long,         // the two 2025 files
      divisionsFloor: Long)   // least dim_divisions rows after full-load 2023+2024 + incremental 2025

  val realDir: String =
    sys.env.getOrElse("GRAFT_LANDING_DIR", "/root/reference/ironman_scraper/Data")

  def realPresent: Boolean = Files.isDirectory(Paths.get(realDir))

  /** BASELINE.md: 12,526 rows, 2,535 + 1,673 of them in 2025; of its 32
    * divisions the incremental spec has always required at least `32 - 5`.
    */
  lazy val real: Facts = Facts(realDir, 12526, 2535 + 1673, 32 - 5)

  /** FIXTURES.md §5, counted from the committed CSVs with Python's `csv`
    * module: 599 rows, 121 + 80 in 2025, 28 distinct divisions in 2023+2024.
    */
  lazy val fixture: Facts = Facts(
    Paths.get(getClass.getResource("/graft/pipeline/landing").toURI).toString,
    599, 121 + 80, 28)

  /** The real CSVs when present, else the committed fixture. */
  lazy val current: Facts = if (realPresent) real else fixture

  /** `RunPipeline.referenceFiles` of `current`, restricted to `years` (all when empty). */
  def files(years: Int*): Seq[LandingFile] =
    RunPipeline.referenceFiles(current.dir)
      .filter(f => years.isEmpty || years.contains(f.year))

  /** Cancel message for specs that only the real CSVs can check. */
  def realMissing: String =
    s"real landing CSVs not found at $realDir (set GRAFT_LANDING_DIR to the directory holding them)"
}
