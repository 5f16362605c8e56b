package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.operators.TableStore
import graft.pipeline._
import graft.queries.Registry

/** Benchmark harness: one JVM, one closed-loop caller.
  *
  * `Main --workload W --seconds S --trace 0|1 --inputs DIR --work DIR
  *  --out FILE --cores N`
  *
  * Sets up, then runs units of work back to back until S seconds
  * have passed, then the correctness observations, and
  * writes every raw figure to FILE as JSON. `perfbench/run.py` turns the
  * figures into metrics and compares the observations with the input facts.
  * With `--trace 1` units alternate traced and untraced, so the report
  * also carries the cost of tracing itself.
  */
object Main {

  final case class Opts(
      workload: String, seconds: Double, trace: Boolean, inputs: String,
      work: String, out: String, cores: Int)

  /** Writes the report and the span lines (Scala maps and sequences). */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Fixed load clock, so two loads of the same input give identical rows. */
  val clock = Some(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))

  /** Wall seconds of `body`, and its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seconds").toDouble, m("trace") == "1", m("inputs"),
      m("work"), m("out"), m("cores").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work))
    val spark = GraftSession.builder("perfbench", o.cores)
      // gates run in an ANSI session, like the engine's gate bench
      .config("spark.sql.ansi.enabled", (o.workload == "gate_mix").toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.quietBoundedWindowWarn()
    val tracer = new Tracer(spark, o.trace)
    val sessionReadyMs = System.currentTimeMillis()
    val w: Workload = o.workload match {
      case "medallion_refresh" => new MedallionRefresh(spark, tracer, o)
      case "gate_mix" => new GateMix(spark, tracer, o)
      case other => sys.error(s"unknown workload $other")
    }
    val report = try Harness.run(w, tracer, o) finally spark.stop()
    mapper.writeValue(Paths.get(o.out).toFile, report ++ Map(
      "session_ready_ms" -> sessionReadyMs, "cores" -> o.cores, "peak_rss_mb" -> peakRssMb()))
  }

  /** High-water resident set of this process, in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Timings of one unit of work: its wall time and the wall time of each
  * user-visible request inside it (a dashboard view, a gate).
  */
final case class UnitResult(seconds: Double, requests: Seq[Double])

trait Workload {
  /** Builds the state the units use, and any warm-up before them. */
  def setup(): Unit
  def unit(i: Int): UnitResult
  /** Correctness observations and layer facts, gathered outside the timed region. */
  def observe(): Map[String, Any]
}

object Harness {
  def run(w: Workload, tracer: Tracer, o: Main.Opts): Map[String, Any] = {
    tracer.active = false
    val (setupS, _) = Main.timed(w.setup())
    val units = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var failed = 0
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    // at least one unit; in trace mode even units run traced and odd units
    // untraced, and at least one of each, for the tracing-overhead figure.
    // The traced unit comes first, like the first unit an untraced run times.
    while (System.nanoTime() < deadline || i < (if (o.trace) 2 else 1)) {
      val traced = o.trace && i % 2 == 0
      tracer.active = traced
      tracer.run = i + 1
      tracer.drain()
      val cpu0 = tracer.total.cpuNs.get
      val out0 = tracer.total.outBytes.get
      try {
        val r = w.unit(i)
        tracer.drain()
        units += Map("s" -> r.seconds, "requests" -> r.requests, "traced" -> traced,
          "cpu_s" -> (tracer.total.cpuNs.get - cpu0) / 1e9,
          "out_bytes" -> (tracer.total.outBytes.get - out0))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] unit $i failed: $e")
      }
      i += 1
    }
    tracer.active = false
    val observeStart = System.nanoTime()
    val observations =
      try w.observe()
      catch { case e: Exception =>
        System.err.println(s"[perfbench] observation failed: $e")
        Map("error" -> e.toString)
      }
    val observeS = (System.nanoTime() - observeStart) / 1e9
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else {
        val reduced = tracer.reduce()
        Files.write(Paths.get(o.work, "spans.jsonl"),
          tracer.spansJsonLines(reduced).asJava)
        // one value per layer metric: the median over traced units
        reduced.toSeq.flatMap { case (span, ms) => ms.map { case (k, v) => s"${span.name}.$k" -> v } }
          .groupBy(_._1).map { case (k, vs) => k -> Harness.median(vs.map(_._2)) }
      }
    Map("workload" -> o.workload, "setup_s" -> setupS, "observe_s" -> observeS, "units" -> units,
      "failed_units" -> failed, "observations" -> observations, "layers" -> layers)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** A nightly refresh and its readers: `Pipeline.run(incremental)` of the last
  * landing year onto a warehouse holding every earlier year, then one
  * sequential pass collecting all 15 dashboard views. The earlier years are
  * loaded once in set-up (`Pipeline.run(full_load)`) and restored from a
  * copy before each unit.
  */
final class MedallionRefresh(spark: SparkSession, tracer: Tracer, o: Main.Opts) extends Workload {
  import PipelineConfig.tables

  val landing: Seq[(LandingFile, Long)] =
    Files.readAllLines(Paths.get(o.inputs, "files.tsv")).asScala.toSeq.map { l =>
      val Array(path, year, gender, bytes) = l.split("\t")
      (LandingFile(path, year.toInt, gender), bytes.toLong)
    }
  val lastYear: Int = landing.map(_._1.year).max
  val allTables = Seq(tables.bronze, tables.silver, tables.dimAthletes,
    tables.dimCountries, tables.dimDivisions, tables.fact)
  private val views = Views.definitions.map(_._1)
  private val base = dir("base")
  private val reference = dir("reference")
  private var last: Option[Path] = None
  private var first: Map[String, Seq[String]] = Map.empty
  private var differingPasses = 0

  def dir(name: String): Path = Paths.get(o.work, name)

  def fullConfig(wh: Path, upTo: Int): PipelineConfig =
    PipelineConfig(PipelineConfig.FullLoad, None,
      landing.map(_._1).filter(_.year <= upTo), wh.toString)

  def incrementalConfig(wh: Path): PipelineConfig =
    PipelineConfig(PipelineConfig.Incremental, Some(lastYear),
      landing.map(_._1).filter(_.year == lastYear), wh.toString)

  /** `Pipeline.run` untraced; traced, the same stage calls, each in a span. */
  def runPipeline(config: PipelineConfig): TableStore =
    if (!tracer.active) Pipeline.run(spark, config, Main.clock)
    else tracer.span("pipeline.run") {
      PipelineConfig.validateFiles(config)
      val store = new TableStore(spark, config.warehouse)
      tracer.span("pipeline.bronze")(Bronze.run(spark, store, config, Main.clock))
      tracer.span("pipeline.silver")(Silver.run(spark, store, config))
      tracer.span("pipeline.dims")(Dims.run(spark, store, config, Main.clock))
      tracer.span("pipeline.fact")(Fact.run(spark, store, config))
      tracer.span("pipeline.views")(Views.registerAll(spark, store))
      store
    }

  /** Collects every view; returns each view's wall time and sorted rows. */
  private def dashboardPass(): Map[String, (Double, Seq[String])] =
    tracer.span("dashboard.pass") {
      views.map { v =>
        val (s, rows) = Main.timed(tracer.span(s"dashboard.$v")(spark.table(v).collect()))
        v -> (s, rows.map(_.mkString("|")).toSeq.sorted)
      }.toMap
    }

  /** Loads the reference warehouse (one full load of every year, which the
    * refreshed fact table is checked against), reads every view of it once
    * as a warm-up, then loads the base warehouse the units refresh. The
    * units' read passes thus run warm; the merge path has no warm-up (a
    * warm-up refresh would add about 13 s to every run, more than a full
    * set of runs, meant to take under an hour, can hold), so each unit's
    * refresh is the JVM's first or a later run of it.
    */
  def setup(): Unit = {
    Pipeline.run(spark, fullConfig(reference, lastYear), Main.clock)
    dashboardPass()
    Pipeline.run(spark, fullConfig(base, lastYear - 1), Main.clock)
  }

  def unit(i: Int): UnitResult = {
    val wh = dir(s"unit-$i")
    Main.copyTree(base, wh)
    val t0 = System.nanoTime()
    runPipeline(incrementalConfig(wh))
    val reads = dashboardPass()
    val s = (System.nanoTime() - t0) / 1e9
    last.foreach(Main.deleteTree)
    last = Some(wh)
    if (first.isEmpty) first = reads.map { case (v, (_, rows)) => v -> rows }
    else if (reads.exists { case (v, (_, rows)) => first(v) != rows }) differingPasses += 1
    UnitResult(s, views.map(reads(_)._1))
  }

  def observe(): Map[String, Any] = {
    val wh = last.get
    val store = new TableStore(spark, wh.toString)
    val audit = Fact.fkAudit(store.read(tables.fact)).head()
    // data files the run wrote: paths the base warehouse lacks
    val written = allTables.map { t =>
      val s = Files.walk(wh.resolve(t))
      t -> (try s.iterator().asScala.filter { p =>
        p.toString.endsWith(".parquet") && !Files.exists(base.resolve(wh.relativize(p).toString))
      }.map(_.toString).toList finally s.close())
    }.toMap
    // the same input as one full load must give the same fact rows
    val inc = store.read(tables.fact)
    val full = new TableStore(spark, reference.toString).read(tables.fact)
      .select(inc.columns.map(col): _*)
    Map(
      "rows" -> allTables.map(t => t -> store.read(t).count()).toMap,
      "duplicate_row_keys" -> Seq(tables.bronze, tables.fact).map { t =>
        t -> store.read(t).groupBy("row_key").count().filter(col("count") > 1).count()
      }.toMap,
      "fk_audit" -> Seq("unmatched_athletes", "unmatched_divisions", "unmatched_countries")
        .map(k => k -> audit.getAs[Long](k)).toMap,
      "fact_rows_differing_from_full_load" ->
        (inc.exceptAll(full).count() + full.exceptAll(inc).count()),
      "files_written" -> written,
      "passes_differing_from_first" -> differingPasses,
      "view_rows" -> first.filter { case (v, _) =>
        v == "vw_kpi_metrics" || v == "vw_athletes_by_year" },
      "view_columns" -> Seq("vw_kpi_metrics", "vw_athletes_by_year")
        .map(v => v -> spark.table(v).columns.toSeq).toMap,
      "landing_bytes" -> landing.filter(_._1.year == lastYear).map(_._2).sum,
      "landing_bytes_to_date" -> landing.map(_._2).sum) ++ diskFacts(wh)
  }

  /** Per table: files and bytes of the current generation, and bytes of
    * retained history it does not share (snapshots are hard links); and the
    * bytes of distinct files under the whole warehouse.
    */
  def diskFacts(wh: Path): Map[String, Any] = {
    def files(p: Path): Seq[Path] =
      if (!Files.exists(p)) Nil
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
      }
    def inode(p: Path): Any = Files.getAttribute(p, "unix:ino")
    val current = allTables.map(t => t -> files(wh.resolve(t)).filter(_.toString.endsWith(".parquet")))
    val shared = current.flatMap(_._2).map(inode).toSet
    def historyBytes(t: String): Long = files(wh.resolve("_history").resolve(t))
      .filter(p => p.toString.endsWith(".parquet") && !shared(inode(p))).map(Files.size).sum
    Map(
      "tables" -> current.map { case (t, fs) =>
        t -> Map("files" -> fs.size, "bytes" -> fs.map(Files.size).sum,
          "history_bytes" -> historyBytes(t)) }.toMap,
      "warehouse_bytes" -> files(wh).groupBy(inode).values.map(ps => Files.size(ps.head)).sum)
  }
}

/** One pass over a fixed list of oracle-backed gates: build, then count. */
final class GateMix(spark: SparkSession, tracer: Tracer, o: Main.Opts) extends Workload {
  val gates: Seq[graft.queries.OpQuery] = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    GateMix.names.map(byName)
  }
  private var counts: Map[String, Long] = Map.empty
  private var differingPasses = 0

  private def pass(): Seq[(String, Double, Long)] =
    tracer.span("queries.pass") {
      gates.map { q =>
        val (s, n) = Main.timed(tracer.span(s"queries.${q.name}")(q.build(spark, o.inputs).count()))
        (q.name, s, n)
      }
    }

  private val results = Paths.get(o.work, "gate_results")

  /** The warm-up pass writes each gate's result for the oracle comparison. */
  def setup(): Unit =
    gates.foreach(q => q.build(spark, o.inputs).write.mode("overwrite")
      .parquet(results.resolve(q.name).toString))

  def unit(i: Int): UnitResult = {
    val t0 = System.nanoTime()
    val r = pass()
    val s = (System.nanoTime() - t0) / 1e9
    val c = r.map { case (n, _, k) => n -> k }.toMap
    if (counts.isEmpty) counts = c else if (c != counts) differingPasses += 1
    UnitResult(s, r.map(_._2))
  }

  def observe(): Map[String, Any] =
    Map("results_dir" -> results.toString, "counts" -> counts,
      "passes_differing_from_first" -> differingPasses,
      "oracle_sql" -> gates.map(q => q.name -> q.oracle.get).toMap)
}

object GateMix {
  /** `q1_agg`, a plain aggregate, gives the per-gate floor; the rest cover
    * operators the pipeline never calls: Merge scd2, IncrementalJoin, the IVF
    * index (AnnIndex) and Dedup.
    */
  val names = Seq("q1_agg", "s15_scd2_merge", "ivm_join_refresh", "sim_ivf_topk",
    "dedup_clusters")
}
