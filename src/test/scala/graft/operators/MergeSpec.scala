package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft-merge-").toString)

  test("insert-only merge adds absent keys, never updates, idempotent rerun") {
    val store = freshStore()
    val v1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    store.overwrite("t", v1)
    val src = Seq((2, "CHANGED"), (3, "c")).toDF("k", "v")
    Merge.mergeInto(store, "t", src, Seq("k"))
    val after = store.read("t").orderBy("k").as[(Int, String)].collect().toSeq
    assert(after == Seq((1, "a"), (2, "b"), (3, "c"))) // 2 not updated
    // rerun with identical source adds 0 rows (FIXTURES.md edge 8)
    Merge.mergeInto(store, "t", src, Seq("k"))
    assert(store.read("t").count() == 3)
  }

  test("scd1 merge updates listed attrs only, inserts new, keeps survivors") {
    val store = freshStore()
    val target = Seq((1, "a", "keep1"), (2, "b", "keep2")).toDF("k", "v", "stable")
    store.overwrite("t2", target)
    val src = Seq((2, "B2", "ignored"), (3, "c", "new3")).toDF("k", "v", "stable")
    Merge.mergeInto(store, "t2", src, Seq("k"), updateCols = Seq("v"))
    val after = store.read("t2").orderBy("k").as[(Int, String, String)].collect().toSeq
    assert(after == Seq(
      (1, "a", "keep1"),    // survivor untouched
      (2, "B2", "keep2"),   // v updated, stable kept from target
      (3, "c", "new3")))    // inserted whole
    // idempotence: rerunning the same source changes nothing
    Merge.mergeInto(store, "t2", src, Seq("k"), updateCols = Seq("v"))
    assert(store.read("t2").orderBy("k").as[(Int, String, String)].collect().toSeq == after)
  }

  test("overwrite swap is atomic-ish: table readable after repeated overwrites") {
    val store = freshStore()
    (1 to 3).foreach { i =>
      store.overwrite("t3", Seq((i, s"v$i")).toDF("k", "v"))
      assert(store.read("t3").as[(Int, String)].head() == ((i, s"v$i")))
    }
    assert(store.exists("t3"))
    assert(!store.exists("never-written"))
  }

  test("schema evolution: new source columns widen the table, old rows get nulls") {
    val store = freshStore()
    store.overwrite("t5", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    // source grew a column; evolveSchema widens instead of failing
    Merge.mergeInto(store, "t5",
      Seq((2, "CHANGED", 9.5), (3, "c", 7.0)).toDF("k", "v", "score"),
      keys = Seq("k"), evolveSchema = true)
    val rows = store.read("t5").orderBy("k")
      .select("k", "v", "score").as[(Int, String, Option[Double])].collect().toSeq
    // insert-only: key 2 untouched but table gained the column (null)
    assert(rows == Seq((1, "a", None), (2, "b", None), (3, "c", Some(7.0))))

    // an OLD-schema source still merges into the widened table
    Merge.mergeInto(store, "t5", Seq((4, "d")).toDF("k", "v"),
      keys = Seq("k"), evolveSchema = true)
    assert(store.read("t5").count() == 4)
    assert(store.read("t5").filter($"k" === 4).select("score")
      .as[Option[Double]].head().isEmpty)

    // scd1 can update INTO a brand-new column in the same merge
    Merge.mergeInto(store, "t5",
      Seq((1, "a2", "gold")).toDF("k", "v", "tier"),
      keys = Seq("k"), updateCols = Seq("v", "tier"), evolveSchema = true)
    val r1 = store.read("t5").filter($"k" === 1)
      .select("v", "tier").as[(String, Option[String])].head()
    assert(r1 == (("a2", Some("gold"))))

    // same name, different type: loud failure, no silent coercion
    val e = intercept[IllegalArgumentException] {
      Merge.mergeInto(store, "t5", Seq((9, 123)).toDF("k", "v"),
        keys = Seq("k"), evolveSchema = true)
    }
    assert(e.getMessage.contains("type conflict"))
  }

  test("scd2 merge: change closes and reopens, no-op passes, new key inserts, history untouched") {
    // current: 1→a, 2→b; history: 1 had 'z' before
    val target = Seq(
      (1, "a", "2023-01-01", null.asInstanceOf[String], true),
      (2, "b", "2023-01-01", null.asInstanceOf[String], true),
      (1, "z", "2022-01-01", "2023-01-01", false)
    ).toDF("k", "v", "valid_from", "valid_to", "is_current")
    // 1 changes, 2 is a no-op, 3 is new
    val source = Seq((1, "A2"), (2, "b"), (3, "c")).toDF("k", "v")
    val out = Merge.scd2(target, source, Seq("k"), trackCols = Seq("v"),
      effectiveDate = "2024-06-01")
    val rows = out.orderBy("k", "valid_from")
      .as[(Int, String, String, Option[String], Boolean)].collect().toSeq
    assert(rows == Seq(
      (1, "z", "2022-01-01", Some("2023-01-01"), false),  // history untouched
      (1, "a", "2023-01-01", Some("2024-06-01"), false),  // closed out
      (1, "A2", "2024-06-01", None, true),                // new current version
      (2, "b", "2023-01-01", None, true),                 // no-op load: no churn
      (3, "c", "2024-06-01", None, true)))                // brand-new key
    // null-safe tracking: null → value and value → null both count as change
    val t2 = Seq((1, null.asInstanceOf[String], "2023-01-01", null.asInstanceOf[String], true))
      .toDF("k", "v", "valid_from", "valid_to", "is_current")
    val s2 = Seq((1, "x")).toDF("k", "v")
    assert(Merge.scd2(t2, s2, Seq("k"), Seq("v"), "2024-01-01").count() == 2)
    // idempotence: merging the SAME source again produces no new versions
    val again = Merge.scd2(out, source, Seq("k"), Seq("v"), "2024-07-01")
    assert(again.count() == out.count())
  }

  test("fullSync merge mirrors the source: update, insert, and delete-by-absence") {
    val target = Seq((1, "a", "keep1"), (2, "b", "keep2"), (3, "c", "keep3"))
      .toDF("k", "v", "stable")
    val source = Seq((2, "B2", "ignored"), (4, "d", "new4")).toDF("k", "v", "stable")
    val out = Merge.fullSync(target, source, Seq("k"), updateCols = Seq("v"))
      .orderBy("k").as[(Int, String, String)].collect().toSeq
    assert(out == Seq(
      (2, "B2", "keep2"),   // updated, target-only column kept
      (4, "d", "new4")))    // inserted; 1 and 3 dropped (not matched by source)
    // delete-only variant: matched rows keep target values
    val keep = Merge.fullSync(target, source, Seq("k"), updateCols = Nil)
      .orderBy("k").as[(Int, String, String)].collect().toSeq
    assert(keep == Seq((2, "b", "keep2"), (4, "d", "new4")))
  }

  test("compact rewrites into requested file count, same data") {
    val store = freshStore()
    store.overwrite("t4", spark.range(1000).toDF("id").repartition(8))
    store.compact("t4", 1)
    assert(store.read("t4").count() == 1000)
    val files = new java.io.File(s"${store.root}/t4")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1)
  }

  test("precombine keeps the max-order version per key, deterministically") {
    val src = Seq(
      (1, 10, "v1"), (1, 30, "v3"), (1, 20, "v2"),   // key 1: version 30 wins
      (2, 5, "only"),                                 // singleton untouched
      (3, 7, "tie-a"), (3, 7, "tie-z")                // tie: payload struct breaks it
    ).toDF("k", "ver", "payload")
    val out = Merge.precombine(src, Seq("k"), Seq("ver"))
      .orderBy("k").as[(Int, Int, String)].collect().toSeq
    assert(out === Seq((1, 30, "v3"), (2, 5, "only"), (3, 7, "tie-z")))
    // layout invariance: same survivors on any partitioning
    val shuffled = Merge.precombine(src.repartition(7), Seq("k"), Seq("ver"))
      .orderBy("k").as[(Int, Int, String)].collect().toSeq
    assert(shuffled === out)
  }

  test("precombine output has unique keys — safe merge input") {
    val src = (1 to 500).map(i => (i % 50, i, s"p$i")).toDF("k", "ver", "p")
    val pre = Merge.precombine(src, Seq("k"), Seq("ver"))
    assert(pre.count() === 50)
    assert(pre.groupBy("k").count().filter($"count" > 1).count() === 0)
    // survivor is the true max version per key
    val got = pre.as[(Int, Int, String)].collect().map(r => r._1 -> r._2).toMap
    (0 until 50).foreach { k =>
      val expect = (1 to 500).filter(_ % 50 == k).max
      assert(got(k) === expect, s"key $k")
    }
  }

  test("scd1/scd2 refuse duplicate source keys like Delta MERGE") {
    // the guard is FUSED into the merge plan (no separate pre-merge
    // job), so the refusal surfaces at first action, raised from the
    // executor via raise_error — assert on the full cause chain
    def rootMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val target = Seq((1L, "a")).toDF("k", "v")
    val dupSource = Seq((1L, "b"), (1L, "c")).toDF("k", "v")
    val e1 = intercept[Exception](
      Merge.scd1(target, dupSource, Seq("k"), Seq("v")).count())
    assert(rootMessages(e1).contains("multiple source rows"))
    val t2 = Seq((1L, "a", "2024-01-01", null: String, true))
      .toDF("k", "v", "valid_from", "valid_to", "is_current")
    val e2 = intercept[Exception](
      Merge.scd2(t2, dupSource, Seq("k"), Seq("v"), "2024-06-01").count())
    assert(rootMessages(e2).contains("multiple source rows"))
    // a dup key that matches NOTHING in the target must still refuse
    // (it would otherwise insert twice — duplicate primary keys)
    val unmatchedDup = Seq((9L, "x"), (9L, "y")).toDF("k", "v")
    val e3 = intercept[Exception](
      Merge.scd1(target, unmatchedDup, Seq("k"), Seq("v")).count())
    assert(rootMessages(e3).contains("multiple source rows"))
    // deduplicated via precombine, the same batch merges fine
    val combined = Merge.precombine(dupSource, Seq("k"), Seq("v"))
    assert(Merge.scd1(target, combined, Seq("k"), Seq("v")).count() === 1)
  }

  test("scd2 keeps rows whose is_current flag is NULL (as history)") {
    val target = Seq(
      (1L, "a", "2024-01-01", null: String, Option(true)),
      (2L, "old", "2023-01-01", "2024-01-01", Option(false)),
      (3L, "widened", null: String, null: String, Option.empty[Boolean]))
      .toDF("k", "v", "valid_from", "valid_to", "is_current")
    val source = Seq((1L, "a2")).toDF("k", "v")
    val out = Merge.scd2(target, source, Seq("k"), Seq("v"), "2024-06-01")
    // the NULL-flag row survives (as history), not silently dropped
    assert(out.filter($"k" === 3).count() === 1)
    assert(out.count() === 4) // hist + closed-out 1 + new 1 + null-flag row
  }

  test("alignSchemas treats names case-insensitively like Spark resolution") {
    val target = Seq((1L, "x")).toDF("id", "v")
    val source = Seq((2L, "y")).toDF("Id", "v")
    // same column, different case: NOT a new column — the old behavior
    // nulled out the target's id via withColumn("Id", null)
    val (t, s2) = Merge.alignSchemas(target, source)
    assert(t.columns.toSeq === Seq("id", "v"))
    assert(t.filter($"id".isNull).count() === 0)
    assert(s2.select("id").as[Long].collect().toSeq === Seq(2L))
    // and a true type conflict across cases still fails loudly
    val bad = Seq((2, "y")).toDF("Id", "v") // Int vs Long
    intercept[IllegalArgumentException](Merge.alignSchemas(target, bad))
  }

  private def partFiles(store: TableStore, table: String, part: String) = {
    val d = java.nio.file.Paths.get(store.root, table, part)
    val s = java.nio.file.Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(p => (p.getFileName.toString,
        java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p))).toSet
    } finally s.close()
  }

  test("scd1PartitionAligned equals full scd1 and leaves untouched partitions byte-identical") {
    val store = freshStore()
    val target = Seq(
      (1L, 2023, "a", "x"), (2L, 2023, "b", "y"),
      (3L, 2024, "c", "z"), (4L, 2024, "d", "w")).toDF("k", "year", "v", "stable")
    store.overwrite("t", target, partitionBy = Seq("year"))
    val before2023 = partFiles(store, "t", "year=2023")
    // source updates one 2024 key and inserts another — 2023 untouched
    val src = Seq((3L, 2024, "C2", "ignored"), (9L, 2024, "new", "n"))
      .toDF("k", "year", "v", "stable")
    Merge.scd1PartitionAligned(store, "t", src, Seq("k"), Seq("v"), "year")
    // partitioned read-back puts the partition column last and types it
    // from the dir name — normalize the projection before comparing
    val got = store.read("t")
      .select($"k", $"year".cast("int"), $"v", $"stable").orderBy("k")
      .as[(Long, Int, String, String)].collect().toSeq
    // full-scd1 oracle over the same inputs
    val want = Merge.scd1(target, src, Seq("k"), Seq("v"))
      .select($"k", $"year".cast("int"), $"v", $"stable")
      .orderBy("k").as[(Long, Int, String, String)].collect().toSeq
    assert(got === want)
    assert(got.find(_._1 == 3L).get._3 === "C2") // updated col
    assert(got.find(_._1 == 3L).get._4 === "z")  // non-update col kept
    // the untouched partition's files: same names, sizes, AND mtimes —
    // nothing was rewritten, the copy-on-write cost was O(touched)
    assert(partFiles(store, "t", "year=2023") === before2023)
    // updating the partition column is refused loudly
    intercept[IllegalArgumentException] {
      Merge.scd1PartitionAligned(store, "t", src, Seq("k"), Seq("v", "year"), "year")
    }
  }

  test("scd2PartitionAligned: per-partition history maintenance, untouched partitions untouched") {
    val store = freshStore()
    val d1 = "2024-01-01"
    // bootstrap via the aligned path itself (creates metadata columns)
    val init = Seq((1L, "p0", "a"), (2L, "p0", "b"), (3L, "p1", "c"))
      .toDF("k", "part", "v")
    Merge.scd2PartitionAligned(store, "t", init, Seq("k"), Seq("v"), d1, "part")
    assert(store.read("t").filter($"is_current").count() === 3)
    val beforeP1 = partFiles(store, "t", "part=p1")
    // second load: change k=1, no-op k=2, brand-new k=5 in a NEW partition
    val d2 = "2024-02-01"
    val src = Seq((1L, "p0", "A2"), (2L, "p0", "b"), (5L, "p2", "e"))
      .toDF("k", "part", "v")
    Merge.scd2PartitionAligned(store, "t", src, Seq("k"), Seq("v"), d2, "part")
    val rows = store.read("t")
      .select("k", "part", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, String, String, Option[String], Boolean)]
      .collect().toSet
    assert(rows === Set(
      (1L, "p0", "a", d1, Some(d2), false),  // closed
      (1L, "p0", "A2", d2, None, true),      // reopened
      (2L, "p0", "b", d1, None, true),       // no-op: no churn version
      (3L, "p1", "c", d1, None, true),       // untouched partition
      (5L, "p2", "e", d2, None, true)))      // new key in new partition
    // p1 was never opened: byte-identical
    assert(partFiles(store, "t", "part=p1") === beforeP1)
    // tracking or updating the partition column is refused
    intercept[IllegalArgumentException] {
      Merge.scd2PartitionAligned(store, "t", src, Seq("k"), Seq("part"), d2, "part")
    }
  }

  test("insertOnlyPartitionAligned with a WIDER source widens every partition") {
    val store = freshStore()
    store.overwrite("t",
      Seq((1L, 2023, "a"), (2L, 2024, "b")).toDF("k", "year", "v"),
      partitionBy = Seq("year"))
    // source adds a new column and touches only year=2024
    val wider = Seq((3L, 2024, "c", "blue")).toDF("k", "year", "v", "color")
    Merge.insertOnlyPartitionAligned(store, "t", wider, Seq("k"), "year")
    val back = store.read("t")
    // every row carries the new column (old partitions as nulls) — no
    // listing-order-dependent schema
    assert(back.columns.contains("color"))
    assert(back.count() === 3)
    assert(back.filter($"k" === 1 && $"color".isNull).count() === 1)
    assert(back.filter($"k" === 3 && $"color" === "blue").count() === 1)
  }

  test("scd1 over inputs too big to broadcast: one shuffle exchange per side, one source scan") {
    // a session of its own with broadcasting off, as for a target and a
    // source above the broadcast threshold
    val big = spark.newSession()
    big.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val store = new TableStore(big, Files.createTempDirectory("graft-merge-plan-").toString)
    store.overwrite("scd1_target", big.range(0, 2000)
      .selectExpr("id AS k", "concat('v', id) AS v", "concat('keep', id) AS stable"))
    store.overwrite("scd1_source", big.range(1000, 3000)
      .selectExpr("id AS k", "concat('new', id) AS v", "'src' AS stable"))
    val merged = Merge.scd1(store.read("scd1_target"), store.read("scd1_source"),
      Seq("k"), Seq("v"))
    assert(merged.collect().length === 3000)
    val plan = merged.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head // AQE prints the final plan first
    // 9 exchanges before the one-pass join: each of its three branches
    // (inner update, anti survivors, anti inserts) shuffled the source anew
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2, plan)
    assert("FileScan parquet".r.findAllIn(plan).size === 2, plan)
    assert("scd1_source".r.findAllIn(plan).size === 1, plan)
  }
}
