package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, ProbeAccess, SparkSession}
import org.apache.spark.sql.execution.{CollectLimitExec, CollectTailExec, CommandResultExec,
  EmptyRelationExec, FormattedMode, LocalTableScanExec, QueryExecution, SQLExecution, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

import graft.queries.Registry

/** Gate profiler: runs a registry gate ([[graft.SparkEntry.queries]]) and
  * records, from Spark's own listener events, one [[Probe.Action]] per
  * action the gate issues: the eager materializations inside operators
  * (checkpoints, table writes, counts, collects) and, last, `result`, the
  * execution of the returned frame. Per gate it adds build and execution
  * seconds, [[Probe.Cost]], the budget PlanBudgetSpec pins, and the
  * number of classes Janino compiled while the gate built and ran.
  *
  * Scoping: the gate runs under a job group of its own, whose id is also
  * a job tag. A thread the gate starts inherits the tag even when it sets
  * a job group of its own (a streaming query's micro-batch thread does),
  * so a job or SQL execution is the gate's when it carries either. Gates
  * measured in parallel in one JVM never see each other's jobs. The
  * listener is attached per call and removed afterwards. The compile
  * count is the exception: Spark keeps one process-wide counter, so it
  * also counts what other threads compiled in the same window.
  *
  *   runMain graft.tools.Probe <sfDir> <gates-csv> [--reps N] [--plans DIR]
  *
  * prints one JSON line per action and one per gate, in the session
  * [[graft.Bench]] times gates in; `--plans` writes each action's
  * formatted plan (for `result`, the AQE-final plan) under `DIR`.
  */
object Probe {

  /** Job, stage and task counters, in Spark's own units. */
  final case class Counters(
      jobs: Int = 0, stages: Int = 0, cpuNs: Long = 0L, gcMs: Long = 0L,
      scanBytes: Long = 0L, shuffleReadBytes: Long = 0L,
      shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L) {
    def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
      cpuNs + o.cpuNs, gcMs + o.gcMs, scanBytes + o.scanBytes,
      shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  }

  /** One action: a SQL execution (`name` is Spark's action name, such as
    * `localCheckpoint`, `command` or `collect`), or a job run outside any
    * SQL execution (`name` = `rdd`). `site` is the call site, `phases`
    * the analysis, optimization and planning seconds. `qe` is kept only
    * when plans are asked for.
    */
  final case class Action(
      name: String, site: String, phases: Map[String, Double] = Map.empty,
      counters: Counters = Counters(), qe: Option[QueryExecution] = None) {
    def seconds(phase: String): Double = phases.getOrElse(phase, 0.0)
    def plan: String = qe.fold(site)(_.explainString(FormattedMode))
  }

  /** What [[record]] saw: the actions in order, and the jobs started
    * under the job group itself.
    */
  final case class Recording(group: String, actions: Seq[Action], groupJobs: Int) {
    def total: Counters = actions.map(_.counters).foldLeft(Counters())(_ + _)
  }

  /** Shuffle and broadcast exchanges in the returned frame's final
    * (post-AQE) plan, and the jobs the gate's own job group ran while
    * building AND executing (eager materializations never show in the
    * final plan; a thread under a job group of its own is not counted).
    */
  final case class Cost(shuffles: Int, broadcasts: Int, jobs: Int) {
    override def toString = s"Cost(shuffles=$shuffles, broadcasts=$broadcasts, jobs=$jobs)"
  }

  /** `compiles`: whole-stage and expression classes Janino compiled,
    * process-wide, from the start of the build to the end of execution;
    * 0 when every class came from Spark's generated-code cache.
    */
  final case class Profile(gate: String, buildS: Double, execS: Double,
      recording: Recording, cost: Cost, compiles: Long) {
    def actions: Seq[Action] = recording.actions
  }

  def measure(spark: SparkSession, sfDir: String, gate: String,
      plans: Boolean = false): Profile =
    run(spark, gate, plans)(graft.SparkEntry.queries(gate)(spark, sfDir))

  // every shuffle flavor counts: RoundRobinPartitioning is exactly the
  // "someone added a .repartition(n)" regression the budget exists to
  // catch (ReusedExchange prints without a partitioning clause, so it
  // never inflates the count)
  private val ShuffleExchange =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)".r

  /** [[measure]] over any gate body. */
  def run(spark: SparkSession, gate: String, plans: Boolean = false)(
      build: => DataFrame): Profile = {
    val ((buildS, execS, compiles, plan), rec) = record(spark, gate, plans) {
      val c0 = compilations
      val t0 = System.nanoTime()
      val df = build
      val t1 = System.nanoTime()
      execute(df)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, compilations - c0,
        df.queryExecution.executedPlan.toString)
    }
    Profile(gate, buildS, execS, rec, Cost(ShuffleExchange.findAllIn(plan).size,
      "BroadcastExchange".r.findAllIn(plan).size, rec.groupJobs), compiles)
  }

  /** Janino compilations so far in this JVM (all threads, all sessions). */
  def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs the frame's own plan with the jobs `collect()` runs, but
    * without bringing its rows to the driver. (`count()` would run a
    * derived, column-pruned plan with different exchanges.) A final plan
    * that `collect()` answers on the driver runs no job, and a limit's
    * rows are few, so those two are collected.
    */
  private def execute(df: DataFrame): Unit = {
    val qe = df.queryExecution
    def run(plan: SparkPlan): Unit = plan match {
      case _: LocalTableScanExec | _: EmptyRelationExec | _: CommandResultExec |
          _: CollectLimitExec | _: CollectTailExec | _: TakeOrderedAndProjectExec =>
        plan.executeCollect()
      case _ => plan.execute().foreach(_ => ())
    }
    SQLExecution.withNewExecutionId(qe, Some("result")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan match {
        case aqe: AdaptiveSparkPlanExec => aqe.withFinalPlanUpdate(run)
        case plan => run(plan)
      }
    }
  }

  private val groups = new AtomicLong

  /** Runs `body` under a fresh job group and tag, and returns its value
    * and what it issued.
    */
  def record[T](spark: SparkSession, label: String, plans: Boolean = false)(
      body: => T): (T, Recording) = {
    val sc = spark.sparkContext
    val group = s"probe-$label-${groups.incrementAndGet()}"
    val recorder = new Recorder(group, plans)
    sc.addSparkListener(recorder)
    // no job description: an execution's description is then its call site
    sc.setJobGroup(group, null)
    sc.addJobTag(group)
    try {
      val out = body
      ProbeAccess.drain(sc)
      (out, recorder.recording)
    } finally {
      sc.removeJobTag(group)
      sc.clearJobGroup()
      sc.removeSparkListener(recorder)
    }
  }

  /** Listener for one recording. The bus calls it from one thread; the
    * caller reads it after draining the bus.
    */
  private[tools] final class Recorder(group: String, plans: Boolean) extends SparkListener {
    // keyed by SQL execution id; a job outside any execution by -1 - jobId
    private val actions = mutable.LinkedHashMap.empty[Long, Action]
    private val stageAction = mutable.Map.empty[Int, Long]
    private var groupJobs = 0

    private def mine(jobGroup: Option[String], tags: Iterable[String]): Boolean =
      jobGroup.contains(group) || tags.exists(_ == group)

    private def add(key: Long, c: Counters): Unit =
      actions.get(key).foreach(a => actions(key) = a.copy(counters = a.counters + c))

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart if mine(s.jobGroupId, s.jobTags) =>
          actions.getOrElseUpdate(s.executionId, Action("sql", s.description))
        case end: SparkListenerSQLExecutionEnd if actions.contains(end.executionId) =>
          val qe = ProbeAccess.queryExecution(end)
          val a = actions(end.executionId)
          actions(end.executionId) = a.copy(
            name = ProbeAccess.executionName(end).getOrElse(a.name),
            phases = qe.fold(Map.empty[String, Double])(
              _.tracker.phases.map { case (k, p) => k -> p.durationMs / 1e3 }),
            qe = qe.filter(_ => plans))
        case _ =>
      }
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      val jobGroup = prop("spark.jobGroup.id")
      if (jobGroup.contains(group)) groupJobs += 1
      if (mine(jobGroup, prop("spark.job.tags").toSeq.flatMap(_.split(",")))) {
        val key = prop(SQLExecution.EXECUTION_ID_KEY).fold(-1L - j.jobId)(_.toLong)
        // the result stage has the highest id; its name is the call site
        val site = j.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)
        actions.getOrElseUpdate(key, Action(if (key < 0) "rdd" else "sql", site))
        add(key, Counters(jobs = 1))
        j.stageIds.foreach(stageAction.getOrElseUpdate(_, key))
      }
    }

    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
      stageAction.get(s.stageInfo.stageId).foreach(add(_, Counters(stages = 1)))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) stageAction.get(t.stageId).foreach(add(_, Counters(
        cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        scanBytes = m.inputMetrics.bytesRead,
        shuffleReadBytes =
          m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)))
    }

    def recording: Recording = synchronized(Recording(group, actions.values.toSeq, groupJobs))
  }

  /** Writes each action's plan to `dir/<gate>/<rep>-<nn>-<action>.txt`
    * (an `rdd` action's file holds its call site).
    */
  def writePlans(dir: Path, p: Profile, rep: Int): Seq[Path] = {
    val gateDir = Files.createDirectories(dir.resolve(p.gate))
    p.actions.zipWithIndex.map { case (a, i) =>
      Files.writeString(gateDir.resolve(f"$rep-${i + 1}%02d-${a.name}.txt"), a.plan)
    }
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def counterFields(c: Counters): ListMap[String, Any] = ListMap(
    "jobs" -> c.jobs, "stages" -> c.stages, "task_cpu_s" -> c.cpuNs / 1e9,
    "gc_s" -> c.gcMs / 1e3, "scan_bytes" -> c.scanBytes,
    "shuffle_read_bytes" -> c.shuffleReadBytes,
    "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes)

  /** One JSON line per action, then one for the gate. The gate line
    * carries the gate's [[Registry]] family (null for a name that is not
    * a registered gate).
    */
  def jsonLines(p: Profile, rep: Int, planFiles: Seq[Path]): Seq[String] = {
    val id = ListMap[String, Any]("gate" -> p.gate, "rep" -> rep)
    p.actions.zipWithIndex.map { case (a, i) =>
      id ++ ListMap("action" -> (i + 1), "name" -> a.name, "site" -> a.site,
        "analysis_s" -> a.seconds("analysis"),
        "optimization_s" -> a.seconds("optimization"),
        "planning_s" -> a.seconds("planning")) ++ counterFields(a.counters) ++
        planFiles.lift(i).map(f => "plan" -> f.toString)
    } :+ (id ++ ListMap("family" -> Registry.familyOf(p.gate).orNull,
      "build_s" -> p.buildS, "exec_s" -> p.execS,
      "actions" -> p.actions.size, "shuffles" -> p.cost.shuffles,
      "broadcasts" -> p.cost.broadcasts, "group_jobs" -> p.cost.jobs,
      "codegen_compiles" -> p.compiles) ++
      counterFields(p.recording.total))
  }.map(mapper.writeValueAsString)

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <sfDir> <gates-csv> [--reps N] [--plans DIR]"
    require(args.length >= 2 && args.length % 2 == 0, usage)
    val opts = args.drop(2).grouped(2).map(kv => kv(0) -> kv(1)).toMap
    require(opts.keySet.subsetOf(Set("--reps", "--plans")), usage)
    val reps = opts.get("--reps").fold(1)(_.toInt)
    val plansDir = opts.get("--plans").map(Paths.get(_))
    val spark = graft.Bench.session("graft-probe")
    try for (gate <- args(1).split(",").toSeq; rep <- 1 to reps) {
      val p = measure(spark, args(0), gate, plans = plansDir.isDefined)
      jsonLines(p, rep, plansDir.fold(Seq.empty[Path])(writePlans(_, p, rep)))
        .foreach(println)
    } finally spark.stop()
  }
}
