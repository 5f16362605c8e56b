package graft.operators

import java.nio.file.Files

import org.scalacheck.{Gen, rng}

import graft.SparkSpec

/** Randomized merge-layer properties: the partition-aligned rewrite must
  * be observationally identical to the plain insert-only merge, and both
  * must be idempotent, for arbitrary overlapping key sets.
  */
class MergePropertySpec extends SparkSpec {
  import spark.implicits._

  private val seed0 = rng.Seed(42L)

  private def gen(seed: rng.Seed): (Seq[(Long, Int, String)], Seq[(Long, Int, String)]) = {
    // the partition-aligned contract requires key → partition to be a
    // function (like row_key embedding its year), so derive part from k
    val rowGen = for {
      k <- Gen.chooseNum(0L, 300L)
      v <- Gen.alphaStr.map(_.take(6))
    } yield (k, 2020 + (k % 6).toInt, v)
    val g = for {
      t <- Gen.listOfN(120, rowGen)
      s <- Gen.listOfN(80, rowGen)
    } yield (t.distinctBy(_._1), s.distinctBy(_._1))
    g.pureApply(Gen.Parameters.default, seed)
  }

  test("partition-aligned insert-only ≡ plain insert-only ≡ idempotent, on random data") {
    (0 until 3).foreach { trial =>
      val (targetRows, sourceRows) = gen(seed0.next(trial))
      val target = targetRows.toDF("k", "part", "v")
      val source = sourceRows.toDF("k", "part", "v")

      val plain = Merge.insertOnly(target, source, Seq("k"))
        .as[(Long, Int, String)].collect().sorted.toSeq

      val store = new TableStore(spark,
        Files.createTempDirectory(s"graft-mp$trial-").toString)
      store.overwrite("t", target, partitionBy = Seq("part"))
      Merge.insertOnlyPartitionAligned(store, "t", source, Seq("k"), "part")
      val aligned = store.read("t")
        .select($"k", $"part", $"v")
        .as[(Long, Int, String)].collect().sorted.toSeq
      assert(aligned == plain, s"trial $trial: aligned != plain")

      // idempotence
      Merge.insertOnlyPartitionAligned(store, "t", source, Seq("k"), "part")
      val again = store.read("t")
        .select($"k", $"part", $"v")
        .as[(Long, Int, String)].collect().sorted.toSeq
      assert(again == plain, s"trial $trial: rerun changed the table")
    }
  }

  test("scd2 == driver-side reference on random merge sequences") {
    (0 until 3).foreach { trial =>
      val rnd = new scala.util.Random(100 + trial)
      // target: current rows for a key subset (+ some closed history)
      val keys = (1L to 40L).filter(_ => rnd.nextBoolean())
      val cur = keys.map(k => (k, s"v${rnd.nextInt(3)}", "2023-01-01",
        null.asInstanceOf[String], true))
      val hist = keys.filter(_ % 3 == 0).map(k =>
        (k, "old", "2022-01-01", "2023-01-01", false))
      val target = (cur ++ hist).toDF("k", "v", "valid_from", "valid_to", "is_current")
      // source: arbitrary keys, some matching, values shuffled
      val srcRows = (1L to 40L).filter(_ => rnd.nextBoolean())
        .map(k => (k, s"v${rnd.nextInt(3)}"))
      val source = srcRows.toDF("k", "v")

      // driver-side reference of the SCD2 contract
      val curMap = cur.map(r => r._1 -> r._2).toMap
      type R = (Long, String, String, Option[String], Boolean)
      val expected = scala.collection.mutable.Set.empty[R]
      hist.foreach(h => expected += ((h._1, h._2, h._3, Some(h._4), h._5)))
      val srcMap = srcRows.toMap
      cur.foreach { case (k, v, from, _, _) =>
        srcMap.get(k) match {
          case Some(nv) if nv != v => // changed: close out + reopen
            expected += ((k, v, from, Some("2024-06-01"), false))
            expected += ((k, nv, "2024-06-01", None, true))
          case _ => // unchanged or unmatched current: passes through
            expected += ((k, v, from, None, true))
        }
      }
      srcRows.foreach { case (k, nv) =>
        if (!curMap.contains(k)) expected += ((k, nv, "2024-06-01", None, true))
      }

      val got = Merge.scd2(target, source, Seq("k"), Seq("v"), "2024-06-01")
        .as[(Long, String, String, Option[String], Boolean)].collect().toSet
      assert(got == expected,
        s"trial $trial: diff ${(got diff expected).take(3)} / ${(expected diff got).take(3)}")
      // idempotence: same source again adds nothing
      val again = Merge.scd2(
        Merge.scd2(target, source, Seq("k"), Seq("v"), "2024-06-01"),
        source, Seq("k"), Seq("v"), "2024-07-01")
        .as[(Long, String, String, Option[String], Boolean)].collect().toSet
      assert(again == expected, s"trial $trial: rerun changed the dimension")
    }
  }

  private type R = (Option[Long], Option[String], String)

  test("scd1 == driver-side reference on random data") {
    // trial 0: empty source; trial 1: empty target
    (0 until 6).foreach { trial =>
      val rnd = new scala.util.Random(200 + trial)
      def value(): Option[String] = if (rnd.nextInt(4) == 0) None else Some(s"v${rnd.nextInt(3)}")
      // target: NULL keys and duplicated keys allowed
      val tgt: Seq[R] = if (trial == 1) Nil else (1 to 40).map { i =>
        val k = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(30).toLong)
        (k, value(), s"t$i")
      }
      // source: unique keys (the guard refuses duplicates), one NULL key
      // at most; a None value is an update to NULL
      val srcKeys = (0L until 40L).filter(_ => rnd.nextBoolean()).map(Option(_)) ++
        (if (rnd.nextBoolean()) Seq(None) else Nil)
      val src: Seq[R] =
        if (trial == 0) Nil else srcKeys.zipWithIndex.map { case (k, i) => (k, value(), s"s$i") }
      val target = tgt.toDF("k", "a", "b")
      val source = src.toDF("k", "a", "b")

      // driver-side reference of the SCD1 contract: `a` updates, `b` is kept
      val srcByKey = src.collect { case r @ (Some(k), _, _) => k -> r }.toMap
      val tgtKeys = tgt.flatMap(_._1).toSet
      val expected = (tgt.map {
        case (Some(k), _, b) if srcByKey.contains(k) => (Some(k), srcByKey(k)._2, b)
        case row => row
      } ++ src.filter(r => r._1.forall(k => !tgtKeys.contains(k)))).sorted

      val got = Merge.scd1(target, source, Seq("k"), Seq("a"))
        .as[R].collect().toSeq.sorted
      assert(got == expected,
        s"trial $trial: diff ${got.diff(expected).take(3)} / ${expected.diff(got).take(3)}")
    }
  }

  private implicit class SeedOps(s: rng.Seed) {
    def next(n: Int): rng.Seed = (0 until n).foldLeft(s)((acc, _) => acc.next)
  }
}
