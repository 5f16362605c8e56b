package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, FreezeAccess}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

import graft.SparkSpec
import graft.tools.Probe

/** [[Freeze]]: what a frozen frame tells the planner, and what freezing
  * costs in jobs.
  */
class FreezeSpec extends SparkSpec {

  /** 2000 rows whose size estimate is the product of its inputs'
    * (about 3 GB): a self-join on a unique key.
    */
  private def smallJoin: DataFrame = {
    val t = spark.range(0, 2000).selectExpr("id AS k", "concat('v', id) AS v")
    t.join(t.withColumnRenamed("v", "w"), "k")
  }

  private def sizeOf(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  private def jobsOf[T](label: String)(body: => T): (T, Int) = {
    val (out, rec) = Probe.record(spark, label)(body)
    (out, rec.groupJobs)
  }

  /** The adaptive final plan with its query stages opened. */
  private def finalPlan(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("an eager freeze reports its stored bytes, and a join broadcasts it") {
    val estimate = sizeOf(smallJoin)
    assert(estimate > (1L << 30), estimate)
    val frozen = Freeze.eager(smallJoin)
    val stored = FreezeAccess.storedBytes(frozen)
    assert(stored > 0 && stored < (4L << 20), stored)
    assert(sizeOf(frozen) == BigInt(stored))
    // the other side's estimate (1.6 MB) is above the frozen bytes and
    // under the broadcast threshold: the smaller side is built
    val other = spark.range(0, 200000).selectExpr("id % 2000 AS k", "id AS x")
    val plan = finalPlan(other.join(frozen, "k"))
    assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty, plan.head.treeString)
    val built = plan.collect { case b: BroadcastExchangeExec => b }
    assert(built.size == 1, plan.head.treeString)
    assert(built.head.collectLeaves().map(_.nodeName) == Seq("Scan ExistingRDD"),
      plan.head.treeString)
  }

  test("a lazy freeze keeps Spark's estimate and runs no more jobs than a lazy localCheckpoint") {
    val narrow = spark.range(0, 2000).selectExpr("id AS k")
    val (frozenNarrow, narrowJobs) = jobsOf("freeze-lazy-narrow")(Freeze.lazily(narrow))
    assert(narrowJobs == 0)
    assert(sizeOf(frozenNarrow) == sizeOf(narrow))
    // under AQE, checkpointing a plan with exchanges runs its stages
    // before the checkpoint; the final stage waits for the first action
    val (_, raw) = jobsOf("checkpoint-lazy")(smallJoin.localCheckpoint(false))
    val df = smallJoin
    val (frozen, jobs) = jobsOf("freeze-lazy")(Freeze.lazily(df))
    assert(jobs == raw)
    assert(sizeOf(frozen) == sizeOf(df))
    assert(frozen.count() == 2000)
  }

  test("an eager freeze runs exactly the jobs of an eager localCheckpoint") {
    val (_, raw) = jobsOf("checkpoint-eager")(smallJoin.localCheckpoint(true))
    val (frozen, jobs) = jobsOf("freeze-eager")(Freeze.eager(smallJoin))
    assert(raw >= 1)
    assert(jobs == raw)
    // sizing it ran nothing either: reading the frozen frame's stats is
    // driver-side
    assert(jobsOf("freeze-stats")(sizeOf(frozen))._2 == 0)
  }

  test("Freeze is the only caller of localCheckpoint in the main sources") {
    // run from the project root, as sbt runs its tests
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val callers = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Freeze.scala")
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("localCheckpoint(") => s"$p:${i + 1}"
      })
      .toSeq
    assert(callers.isEmpty, callers.mkString("freeze through Freeze, not localCheckpoint: ", ", ", ""))
  }
}
