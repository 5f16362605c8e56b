package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-aware defaults this engine assumes.
  *
  * Local mode is a stand-in for a real cluster: shuffle partitions sized
  * to cores (not the 200 default), AQE enabled so skewed joins and
  * too-small/too-large partitions re-plan at runtime exactly as they
  * would on a 1000-executor cluster.
  *
  * The generated-code cache is sized to the engine's working set. Spark
  * keeps compiled classes in an LRU cache of
  * `spark.sql.codegen.cache.maxEntries` entries (default 100) and sizes it
  * once per JVM, when `CodeGenerator` first initializes, so the setting
  * sits on the builder every entry point starts from. Measured at 4 cores
  * with `CodegenMetrics.METRIC_COMPILATION_TIME` deltas: a perfbench
  * `gate_mix` pass touches about 250 distinct classes and a
  * `medallion_refresh` set-up plus one unit about 460, so with 100
  * entries every class was evicted before its next use and each warm pass
  * ran Janino again on the same source (202–208 compilations per
  * `gate_mix` pass, 418–426 per medallion unit, third pass as first).
  * With 1000 a warm `gate_mix` pass compiles nothing and a medallion unit
  * about 163, its merge path's first run, which set-up never warms. The
  * fixture refresh CodegenCacheSpec repeats compiles 209–211 classes per
  * run with 100 entries, and none on its third run with 1000.
  */
object GraftSession {

  /** WindowExec's "No Partition Defined" WARN is structurally
    * superseded here: every unpartitioned window in the registry is
    * audited by [[graft.tools.GlobalWindowScan]] (and pinned at zero
    * RAW findings by GlobalWindowAuditSpec) — each one provably runs
    * over a post-aggregation frame (day spines, distinct-value ranks,
    * ≤`shuffle.partitions` offset summaries inside
    * [[graft.operators.TotalOrder]]). Declaring boundedness with a
    * constant PARTITION BY cannot reach the engine (the optimizer
    * folds constant partition keys away before the physical plan), so
    * the honest choices are a log line that cries wolf 700 times per
    * bench run or a static audit that FAILS on a genuinely table-sized
    * global window. We take the audit and quiet the logger; an
    * accidental funnel now breaks the build instead of scrolling past.
    *
    * Two escape hatches close the audit's blind spot (ADVICE r9 — a
    * WRONG boundedGlobal claim is exempted by the static scan and
    * silenced here): set `SPARK_GRAFT_WINDOW_WARN=1` to keep the
    * logger's native WARN stream for a session, and/or run one verify
    * per round with `SPARK_GRAFT_BOUNDED_CHECK=1`, which makes
    * [[graft.operators.TotalOrder.checkBounded]] COUNT every
    * declared-bounded frame and fail loudly on a false claim.
    */
  def quietBoundedWindowWarn(): Unit =
    if (!sys.env.get("SPARK_GRAFT_WINDOW_WARN").contains("1"))
      try org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
      catch { case _: Throwable => () }

  def builder(appName: String = "graft", cores: Int = defaultCores): SparkSession.Builder = {
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // The reference pipeline ran under pre-ANSI (permissive) SQL
      // semantics: failed casts yield NULL rather than throwing. Parity
      // requires the same here; queries in SparkEntry stay ANSI-safe
      // regardless (they run under the driver's own default session).
      .config("spark.sql.ansi.enabled", "false")
      // the driver-generated events table stores TIMESTAMP(NANOS), which
      // the parquet reader otherwise rejects (see Tables.load)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Newer driver generations write timestamp[us] with
      // isAdjustedToUTC=false, which Spark 4 would otherwise surface as
      // TIMESTAMP_NTZ — a type event-time streaming (watermarks,
      // session_window) rejects. Read untagged parquet timestamps as
      // session-TZ TIMESTAMP (session TZ is pinned to UTC above, so the
      // wall-clock values match what DuckDB's oracle reads).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // static, read once per JVM: holds the ~460-class medallion and
      // ~250-class gate_mix working sets with about 2x headroom (see above)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
  }

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
      math.min(32, Runtime.getRuntime.availableProcessors()))

  def local(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietBoundedWindowWarn()
    spark
  }
}
