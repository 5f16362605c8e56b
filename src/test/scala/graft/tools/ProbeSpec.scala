package graft.tools

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusPeek
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, ProbeAccess}
import org.apache.spark.sql.functions.{col, lit, raise_error}

import graft.SparkSpec

/** [[Probe]]: what it records, and that it records only its own gate. */
class ProbeSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("probe-spec")

  /** Tiny tables in the layout `Tables.load` reads. */
  private lazy val sf: String = {
    def write(name: String, df: DataFrame): Unit =
      df.write.parquet(dir.resolve(s"sf/$name.parquet").toString)
    write("lineitem", spark.range(200).select((col("id") % 7).as("l_suppkey"),
      (col("id") % 23).as("l_partkey")))
    write("supplier", spark.range(7).select(col("id").as("s_suppkey"),
      (col("id") % 3).as("s_nationkey")))
    write("t", spark.range(1000).select(col("id"), (col("id") % 10).as("g")))
    dir.resolve("sf").toString
  }

  // written before any recording starts, so no test sees these writes
  override def beforeAll(): Unit = { super.beforeAll(); sf }

  private def t: DataFrame = spark.read.parquet(s"$sf/t.parquet")

  /** An eager checkpoint, a table write, and a frame over both. */
  private def checkpointAndWrite(out: String): DataFrame = {
    val agg = t.groupBy("g").count().localCheckpoint(true)
    agg.write.mode("overwrite").parquet(out)
    agg.join(spark.read.parquet(out).withColumnRenamed("count", "n"), "g")
  }

  private def recorders =
    ListenerBusPeek.listeners(spark.sparkContext).filter(_.isInstanceOf[Probe.Recorder]).toSet

  test("an eager localCheckpoint and a table write each yield a record") {
    val p = Probe.run(spark, "cp_write")(checkpointAndWrite(dir.resolve("out1").toString))
    val names = p.actions.map(_.name)
    assert(names.count(_ == "localCheckpoint") == 1, names)
    assert(names.count(_ == "command") == 1, names)
    assert(names.last == "result", names)
    val byName = p.actions.filter(a => a.name != "rdd").map(a => a.name -> a).toMap
    assert(byName("localCheckpoint").counters.jobs >= 1)
    assert(byName("localCheckpoint").counters.scanBytes > 0)
    assert(byName("command").counters.jobs >= 1)
    assert(byName("localCheckpoint").phases.keySet("optimization"))
    assert(p.cost.jobs == p.actions.map(_.counters.jobs).sum)
    assert(p.cost.jobs > p.actions.find(_.name == "result").get.counters.jobs)
  }

  test("the returned frame runs the jobs collect() runs, limits and driver-side plans too") {
    val frames: Seq[() => DataFrame] = Seq(
      () => t.groupBy("g").count(),
      () => t.filter(col("g") > 100).groupBy("g").count().orderBy("g"), // empty at runtime
      () => t.orderBy(col("id").desc).limit(5),
      () => spark.sql("VALUES (1), (2)"))
    frames.foreach { f =>
      val result = Probe.run(spark, "result")(f()).actions.last
      val (_, collected) = Probe.record(spark, "collect")(f().collect())
      assert(result.name == "result")
      assert(result.counters.jobs == collected.actions.last.counters.jobs, f().queryExecution)
    }
  }

  test("measure's job count is the number of jobs its job group started") {
    val groups = new ConcurrentLinkedQueue[String]()
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val p = Probe.measure(spark, sf, "graph_bfs")
      ProbeAccess.drain(spark.sparkContext)
      val started = groups.asScala.count(_ == p.recording.group)
      assert(p.cost.jobs == started)
      assert(started > 1, "graph_bfs checkpoints its frontier eagerly")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("jobs of a thread the gate starts are recorded, under their own job group too") {
    // a streaming query's micro-batch thread sets a job group of its own
    val p = Probe.run(spark, "thread") {
      val th = new Thread(() => {
        spark.sparkContext.setJobGroup("own-group", "micro-batch")
        t.groupBy("g").count().localCheckpoint(true)
      })
      th.start(); th.join()
      t
    }
    assert(p.actions.map(_.name).filter(_ != "rdd") == Seq("localCheckpoint", "result"))
    // the budget counts the gate's own job group only
    assert(p.cost.jobs < p.recording.total.jobs)
  }

  test("no listener, job group or tag is left behind, also when the gate throws") {
    val sc = spark.sparkContext
    val before = recorders
    Probe.run(spark, "ok")(t.groupBy("g").count())
    intercept[IllegalStateException](
      Probe.run(spark, "throws in build")(throw new IllegalStateException("boom")))
    intercept[Exception](
      Probe.run(spark, "throws in execution")(t.select(raise_error(lit("boom")))))
    assert(recorders == before)
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
    assert(sc.getJobTags().isEmpty)
  }

  test("two gates measured at once from two threads do not see each other's jobs") {
    def checkpoints(latch: Option[CountDownLatch]): DataFrame = {
      val a = t.filter(col("g") < 5).localCheckpoint(true)
      latch.foreach { l => l.countDown(); l.await() }
      a.groupBy("g").count().localCheckpoint(true)
    }
    def writes(latch: Option[CountDownLatch], out: String): DataFrame = {
      t.write.mode("overwrite").parquet(out)
      latch.foreach { l => l.countDown(); l.await() }
      t.filter(col("g") > 5).write.mode("overwrite").parquet(out + "_2")
      spark.read.parquet(out + "_2")
    }
    def shape(p: Probe.Profile) = (p.cost.jobs, p.actions.map(_.name).filter(_ != "rdd"))
    // each gate on its own first
    val soloA = shape(Probe.run(spark, "a")(checkpoints(None)))
    val soloB = shape(Probe.run(spark, "b")(writes(None, dir.resolve("solo").toString)))
    // both gates are inside their recording when either issues its second action
    val latch = new CountDownLatch(2)
    val fa = Future(Probe.run(spark, "a")(checkpoints(Some(latch))))
    val fb = Future(Probe.run(spark, "b")(writes(Some(latch), dir.resolve("both").toString)))
    val (pa, pb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    assert(shape(pa) == soloA)
    assert(shape(pb) == soloB)
    assert(soloA._2.toSet == Set("localCheckpoint", "result"))
    assert(soloB._2.toSet == Set("command", "result"))
  }

  test("--plans writes one file per recorded action") {
    val p = Probe.run(spark, "plans", plans = true)(
      checkpointAndWrite(dir.resolve("out2").toString))
    val planDir = dir.resolve("plans")
    val files = Probe.writePlans(planDir, p, rep = 1)
    val written = Files.list(planDir.resolve("plans")).iterator().asScala.toSet
    assert(files.size == p.actions.size)
    assert(written == files.toSet)
    val result = Files.readString(files.last)
    assert(files.last.getFileName.toString == f"1-${p.actions.size}%02d-result.txt")
    assert(result.contains("AdaptiveSparkPlan") && result.contains("Final Plan"), result)
    val cp = files(p.actions.indexWhere(_.name == "localCheckpoint"))
    assert(Files.readString(cp).contains("HashAggregate"))
    assert(Probe.jsonLines(p, 1, files).size == p.actions.size + 1)
  }
}
