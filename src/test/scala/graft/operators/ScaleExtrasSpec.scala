package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.queries.StatsGates

class ScaleExtrasSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("approx_count_distinct within its configured relative error") {
    val rows = StatsGates.a11_approx_distinct.build(spark, sf).collect()
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      val relErr = math.abs(approx - exact) / exact
      assert(relErr < 0.1, s"flag ${r.getString(0)}: exact=$exact approx=$approx")
    }
  }

  test("salted aggregation equals direct groupBy exactly") {
    val orders = Tables.load(spark, sf, "orders")
    val direct = orders.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total_value"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val salted = Skew.saltedCountSum(orders, "o_custkey", "o_totalprice", 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted == direct)
  }

  test("salted join equals plain join as a multiset") {
    val orders = Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey".as("c_custkey"))
    val customer = Tables.load(spark, sf, "customer").select($"c_custkey", $"c_name")
    val plain = orders.join(customer, "c_custkey")
      .select($"o_orderkey", $"c_name").as[(Long, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(orders, customer, Seq("c_custkey"), 4)
      .select($"o_orderkey", $"c_name").as[(Long, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("hotKeyJoin equals plain join for any hot-key set, incl. empty and dim-absent keys") {
    val orders = Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey".as("c_custkey"))
    val customer = Tables.load(spark, sf, "customer").select($"c_custkey", $"c_name")
    val plain = orders.join(customer, "c_custkey")
      .select($"o_orderkey", $"c_name").as[(Long, String)].collect().sorted.toSeq
    // empty hot set → pure shuffle branch; keys absent from the dim or
    // the fact must not invent or drop rows
    // a null in the hot set must not flip isin() three-valued and drop
    // every cold row (round-5 advice item)
    for (hot <- Seq(Seq.empty[Any], Seq[Any](1L, 2L, 3L), Seq[Any](-5L, 999999999L, 4L),
                    Seq[Any](null, 3L), Seq[Any](null))) {
      val split = Skew.hotKeyJoin(orders, customer, "c_custkey", hot)
        .select($"o_orderkey", $"c_name").as[(Long, String)].collect().sorted.toSeq
      assert(split == plain, s"hot=$hot")
    }
  }

  test("hotKeyJoin with null-valued join keys in the data routes them cold (dropped, like the plain join)") {
    val big = Seq((1L, Option(10L)), (2L, Option(10L)), (3L, None), (4L, Option(20L)))
      .toDF("id", "k")
    val dim = Seq((Option(10L), "a"), (None, "x"), (Option(20L), "b")).toDF("k", "v")
    val plain = big.join(dim, "k").select($"id", $"v").as[(Long, String)]
      .collect().sorted.toSeq
    val split = Skew.hotKeyJoin(big, dim, "k", Seq[Any](10L))
      .select($"id", $"v").as[(Long, String)].collect().sorted.toSeq
    assert(split == plain)
  }

  test("detectHotKeys: empty sample returns empty, null keys never reported hot") {
    val tiny = Seq(1L, 2L, 3L).toDF("k")
    assert(Skew.detectHotKeys(tiny, "k", sampleFraction = 0.0001) == Seq.empty)
    val nullHeavy = spark.range(50000)
      .select(when($"id" % 10 < 8, lit(null).cast("long")).otherwise($"id" % 100).as("k"))
    val hot = Skew.detectHotKeys(nullHeavy, "k", sampleFraction = 0.05, minShare = 0.05)
    assert(!hot.contains(null), s"null reported hot: $hot")
  }

  test("hotKeyJoin broadcasts the hot branch") {
    val orders = Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey".as("c_custkey"))
    val customer = Tables.load(spark, sf, "customer").select($"c_custkey", $"c_name")
    val planned = Skew.hotKeyJoin(orders, customer, "c_custkey", Seq[Any](1L, 2L))
      .queryExecution.executedPlan.toString
    assert(planned.contains("BroadcastHashJoin"),
      s"expected a broadcast hot branch in:\n$planned")
  }

  test("detectHotKeys surfaces a planted hot key with bounded driver traffic") {
    // 60% of rows on key 7, the rest uniform over 10k keys
    val skewed = spark.range(200000).select(
      when($"id" % 10 < 6, lit(7L))
        .otherwise(pmod(hash($"id"), lit(10000L)).cast("long")).as("k"))
    val hot = Skew.detectHotKeys(skewed, "k", sampleFraction = 0.01, minShare = 0.05)
    assert(hot.contains(7L), s"planted hot key not found in $hot")
    // minShare bounds how many keys can come back: at most 1/minShare
    assert(hot.size <= 20, s"unbounded hot set: ${hot.size}")
    // seeded sample → deterministic across calls
    assert(hot == Skew.detectHotKeys(skewed, "k", sampleFraction = 0.01, minShare = 0.05))
  }

  test("HLL sketches: partial-merge estimate within bound, invariant to merge granularity") {
    val events = Tables.load(spark, sf, "events")
    // gate shape: daily sketches unioned to weekly
    val viaDaily = events
      .groupBy(date_trunc("week", $"ts").as("wk"), to_date($"ts").as("d"))
      .agg(hll_sketch_agg($"user_id").as("sk"))
      .groupBy($"wk")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
    // direct weekly sketch (no intermediate merge) must estimate the same
    val direct = events
      .groupBy(date_trunc("week", $"ts").as("wk"))
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("est"))
    val exact = events
      .groupBy(date_trunc("week", $"ts").as("wk"))
      .agg(countDistinct($"user_id").as("n"))
    val a = viaDaily.join(exact, "wk").collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = direct.collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(a.nonEmpty)
    a.foreach { case (wk, (est, exact)) =>
      assert(math.abs(est - exact).toDouble / exact <= 0.05,
        s"week $wk: estimate $est vs exact $exact out of bound")
      assert(est === b(wk),
        s"week $wk: daily-merged $est != direct ${b(wk)} — merge not lossless")
    }
  }
}
