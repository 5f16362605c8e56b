package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, ProbeAccess}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StringType

import graft.{SparkSpec, Tables}

/** [[TableStore.readParquet]]: opening each layout the store writes starts
  * no Spark job and gives the schema Spark's own inference gives.
  */
class TableReadSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("table-read-spec")
  private lazy val store = new TableStore(spark, root.resolve("wh").toString)

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ProbeAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val r = body
      ProbeAccess.drain(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** `open` starts no job, and its schema is the one Spark infers for
    * `path`, nullability and metadata included.
    */
  private def assertOpens(path: String, inferred: DataFrame => DataFrame = identity)(
      open: => DataFrame): Unit = {
    val (schema, jobs) = jobsDuring(open.schema)
    assert(jobs == 0, s"opening $path started $jobs Spark job(s)")
    assert(schema == inferred(spark.read.parquet(path)).schema)
  }

  private def frame(n: Int) = spark.range(n).select(
    col("id"), (col("id") * 1.5).as("x"), (col("id") % 3 + 2023).cast("int").as("year"),
    col("id").cast("string").as("s"))

  test("a flat table") {
    store.overwrite("flat", frame(20), numFiles = 2)
    assertOpens(store.path("flat"))(store.read("flat"))
  }

  test("a table partitioned by an int year") {
    store.overwrite("by_year", frame(30), partitionBy = Seq("year"))
    assertOpens(store.path("by_year"))(store.read("by_year"))
  }

  test("a table partitioned by string values Spark escapes in directory names") {
    val df = frame(12).withColumn("k",
      lit(Array("x/y", "p:q=r", "50%", "plain")).getItem((col("id") % 4).cast("int")))
    store.overwrite("by_str", df, partitionBy = Seq("k"))
    assert(new java.io.File(store.path("by_str")).list().exists(_.contains("%")))
    assertOpens(store.path("by_str"))(store.read("by_str"))
  }

  test("a 3-level table name") {
    store.overwrite("cat.sch.tbl", frame(10))
    assertOpens(store.path("cat.sch.tbl"))(store.read("cat.sch.tbl"))
  }

  test("a history generation through read(t, asOf)") {
    store.overwrite("hist", frame(10).drop("s"))
    store.overwrite("hist", frame(10))
    val v0 = root.resolve("wh").resolve("_history").resolve("hist").resolve("v00000")
    assert(Files.isDirectory(v0))
    assertOpens(v0.toString)(store.read("hist", 0))
    assert(store.read("hist", 0).schema != store.read("hist").schema)
  }

  test("a table grown by append, and the changes fast-path frame") {
    store.overwrite("grown", frame(10))
    val v0 = store.currentVersion("grown")
    store.append("grown", frame(5))
    assertOpens(store.path("grown"))(store.read("grown"))
    assertOpens(store.path("grown"), _.withColumn("_change_type", lit("insert")))(
      store.changes("grown", v0, store.currentVersion("grown")))
    assert(store.changes("grown", v0, store.currentVersion("grown")).count() == 5)
  }

  test("a table widened by insertOnlyPartitionAligned") {
    store.overwrite("wide", frame(12), partitionBy = Seq("year"))
    Merge.insertOnlyPartitionAligned(store, "wide",
      frame(30).filter(col("id") >= 20).withColumn("extra", col("id").cast(StringType)),
      Seq("id"), "year")
    assert(store.read("wide").columns.contains("extra"))
    assertOpens(store.path("wide"))(store.read("wide"))
  }

  test("a generation that mixes schemas resolves to the file Spark's inference reads") {
    // `k=a-b/…` sorts before `k=a/…` by full path, after it by directory name
    val mixed = root.resolve("mixed").toString
    spark.range(3).select(col("id"), (col("id") * 1.5).as("x"))
      .write.parquet(s"$mixed/k=a-b")
    spark.range(3).select(col("id"), col("id").cast("string").as("y"))
      .write.parquet(s"$mixed/k=a")
    assertOpens(mixed)(TableStore.readParquet(spark, Seq(mixed)))
    assert(TableStore.readParquet(spark, Seq(mixed)).columns.toSeq == Seq("id", "x", "k"))
  }

  test("a partition overwrite of another schema fails and leaves the table as it was") {
    store.overwrite("strict", frame(12), partitionBy = Seq("year"))
    val before = store.read("strict").collect().toSet
    val e = intercept[IllegalArgumentException](store.overwritePartitions("strict",
      frame(12).filter(col("year") === 2023).withColumn("x", col("x").cast("float")),
      "year", Seq(2023)))
    assert(e.getMessage.contains("x:float"), e.getMessage)
    assert(store.read("strict").collect().toSet == before)
    assert(store.read("strict").schema("x").dataType.simpleString == "double")
    assert(!new java.io.File(store.root).list().exists(_.startsWith(".tmp-")))
  }

  test("Tables.load of all ten sf0.001 tables") {
    val sf = "/root/testdata/sf0.001"
    Tables.all.foreach { name =>
      assertOpens(s"$sf/$name.parquet",
        df => if (name == "events") Tables.normalizeEventTs(df) else df)(
        Tables.load(spark, sf, name))
    }
  }

  test("a directory with no data file still fails with Spark's own error") {
    val empty = Files.createDirectories(root.resolve("empty"))
    Files.createFile(empty.resolve("_SUCCESS"))
    assert(TableStore.dataSchema(spark, Seq(empty.toString)).isEmpty)
    val e = intercept[AnalysisException](TableStore.readParquet(spark, Seq(empty.toString)))
    assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
  }
}
