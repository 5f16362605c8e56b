package graft.queries

import graft.SparkSpec

/** Physical-plan regression guards: the properties that make these
  * queries scale (filter/column pushdown to the parquet scan, broadcast
  * of dimension tables, TakeOrderedAndProject for top-k, whole-stage
  * codegen presence) asserted against `.explain` output, so a future
  * edit that silently de-optimizes a plan fails the build.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: OpQuery): String = {
    val df = q.build(spark, sf)
    df.collect() // materialize THIS plan so AQE finalizes it (codegen spans visible)
    df.queryExecution.executedPlan.toString
  }

  test("p1: filter and projection reach the parquet scan") {
    val p = plan(RelationalGates.p1_project_filter)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema") &&
      !p.contains("o_orderdate"), "column pruning lost: full schema read")
  }

  test("j1/j3: dimension joins broadcast (no shuffle of the fact side)") {
    assert(plan(RelationalGates.j1_left_join_broadcast).contains("BroadcastHashJoin"))
    val star = plan(RelationalGates.j3_star_join)
    assert(star.split("BroadcastHashJoin").length >= 4,
      s"expected >=3 broadcast joins in star plan")
    assert(!star.contains("SortMergeJoin"), "star join degraded to sort-merge")
  }

  test("o2: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(RelationalGates.o2_topk)
    assert(p.contains("TakeOrderedAndProject"), s"top-k not optimized:\n$p")
  }

  test("q1: aggregation is two-phase hash (map-side partial combine)") {
    val p = plan(RelationalGates.q1_agg)
    assert(p.split("HashAggregate").length >= 3,
      "expected partial + final HashAggregate")
    assert(p.contains("*("), "flagship query fell out of whole-stage codegen")
  }

  test("similarity top-k: query side broadcast, corpus streams map-side") {
    val p = plan(VectorsGates.sim_topk_bruteforce)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$p")
  }

  test("q5: join pyramid broadcasts all four dims, facts never sort-merge") {
    val p = plan(TpchGates.tpch_q5_shape)
    assert(p.split("BroadcastHashJoin").length >= 5,
      s"expected >=4 broadcast joins in q5 pyramid:\n$p")
    assert(!p.contains("SortMergeJoin"), "q5 dim join degraded to sort-merge")
    // the date filter reaches the orders scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"orders date filter not pushed:\n$p")
  }

  test("merge rewrite: small-source anti joins broadcast under AQE") {
    val p = plan(TablesGates.s6_insert_only_merge)
    assert(p.contains("LeftAnti"), s"insert-only merge lost its anti join:\n$p")
  }

  test("q7: both nation dims broadcast, fact side never sort-merges") {
    val p = plan(TpchGates.tpch_q7_shape)
    assert(p.split("BroadcastHashJoin").length >= 5,
      s"expected >=4 broadcast joins in q7:\n$p")
    assert(!p.contains("SortMergeJoin"), "q7 dim join degraded to sort-merge")
  }

  test("scd2: every key-wise join broadcasts its dimension-sized side") {
    val p = plan(TablesGates.s15_scd2_merge)
    assert(!p.contains("SortMergeJoin"),
      s"scd2 degraded to sort-merge on a broadcastable side:\n$p")
  }

  test("corpus_select: prefix sum is partitioned, never one global window") {
    val p = plan(graft.queries.TextGates.corpus_select)
    // the corpus-sized running sum must window WITHIN partitions (__pid);
    // the only permissible global window is the partition-count-sized
    // offsets frame — so a global windowspec must never see token data
    assert(p.contains("__pid"), s"range-partitioned prefix sum missing:\n$p")
    // a Window node prints "..., [partitionExprs], [orderExprs]": an
    // empty partition list ("], [], [") is a single-reducer global
    // window — only the partition-count-sized offsets frame may do that
    val globalWindows = p.split("\n").filter(l =>
      l.contains("windowspecdefinition(") && l.contains("], [], ["))
      .filter(l => l.contains("n_tokens#") || l.contains("quality#"))
    assert(globalWindows.isEmpty,
      s"corpus-sized global window found:\n${globalWindows.mkString("\n")}")
  }

  test("sample_weighted: heap aggregation, no window, no global sort before the cut") {
    val p = plan(RelationalGates.sample_weighted)
    assert(!p.contains("Window"), s"weighted sample fell back to a window:\n$p")
    assert(p.contains("partial_topk"),
      s"bounded-heap partial aggregation missing:\n$p")
  }

  test("dedup_fuzzy_names: pigeonhole blocking never degrades to a cartesian product") {
    val p = plan(DedupGates.dedup_fuzzy_names)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join lost its equi-join block keys:\n$p")
  }

  test("feature_winsorize: bounds broadcast back, fact side never sort-merges") {
    val p = plan(MlGates.feature_winsorize)
    assert(p.contains("BroadcastHashJoin"), s"bounds join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"winsorize degraded to sort-merge:\n$p")
  }

  test("emb_class_stats: centroids broadcast back onto the corpus") {
    val p = plan(VectorsGates.emb_class_stats)
    assert(p.contains("BroadcastHashJoin"), s"centroid join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"centroid join degraded:\n$p")
  }

  test("join hints override the planner's default strategy choice") {
    // when the optimizer's default (broadcast, here) is wrong for a
    // workload — e.g. the "small" side is small in rows but huge in
    // bytes — hints are the sanctioned override; prove they reach the
    // physical plan
    graft.Tables.load(spark, sf, "orders").createOrReplaceTempView("graft_h_orders")
    graft.Tables.load(spark, sf, "customer").createOrReplaceTempView("graft_h_customer")
    def planOf(hint: String): String = {
      val df = spark.sql(
        s"""SELECT /*+ $hint(c) */ o.o_orderkey, c.c_name
           |FROM graft_h_orders o JOIN graft_h_customer c
           |  ON o.o_custkey = c.c_custkey""".stripMargin)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(planOf("SHUFFLE_HASH").contains("ShuffledHashJoin"))
    assert(planOf("MERGE").contains("SortMergeJoin"))
    assert(planOf("BROADCAST").contains("BroadcastHashJoin"))
  }

  test("q18: the HAVING-IN subquery plans as a semi join, never a distinct+inner") {
    val p = plan(TpchGates.tpch_q18_shape)
    assert(p.contains("LeftSemi"), s"IN subquery not planned as semi join:\n$p")
  }

  test("q22: NOT EXISTS plans as an anti join; the avg is a broadcast scalar") {
    val p = plan(TpchGates.tpch_q22_shape)
    assert(p.contains("LeftAnti"), s"NOT EXISTS not planned as anti join:\n$p")
    assert(!p.contains("CartesianProduct"), "scalar subquery degraded to cartesian")
  }

  test("q8: all seven dimension legs broadcast, the fact spine never sort-merges") {
    val p = plan(TpchGates.tpch_q8_shape)
    assert(p.split("BroadcastHashJoin").length >= 7,
      s"expected >=6 broadcast joins in the Q8 tree")
    assert(!p.contains("SortMergeJoin"), "Q8 degraded to sort-merge")
  }

  test("mips: corpus scores map-side against broadcast queries (no corpus shuffle before ranking)") {
    val p = plan(VectorsGates.sim_mips_topk)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries not broadcast:\n$p")
  }

  test("dpp: the partitioned fact scan carries a dynamic pruning subquery") {
    val p = plan(RelationalGates.j22_dynamic_partition_pruning)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n$p")
  }

  test("runtime bloom filter: a selective dim filter reaches the fact scan of a shuffle join") {
    // The optimizer's InjectRuntimeFilter builds a bloom filter from the
    // selective creation side and pushes might_contain into the big
    // side's scan — the shuffle-join analog of DPP, and the mechanism
    // that keeps a 100 TB fact scan from shipping rows a filtered dim
    // will drop anyway. Local datasets sit below the default 10 GB
    // application-side threshold, so the thresholds are scoped down for
    // this test and restored after.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "true")
      conf.set(keys(1), "0")
      conf.set(keys(2), "-1") // force the shuffle join bloom filters serve
      val li = graft.Tables.load(spark, sf, "lineitem")
        .select(org.apache.spark.sql.functions.col("l_orderkey"),
          org.apache.spark.sql.functions.col("l_quantity"))
      val ord = graft.Tables.load(spark, sf, "orders")
        .filter("o_totalprice < 1000") // selective creation side
        .select(org.apache.spark.sql.functions.col("o_orderkey"))
      val joined = li.join(ord,
        li("l_orderkey") === ord("o_orderkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"no runtime bloom filter injected into the fact side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("s48: the year-partitioned fact scan is dynamically pruned by the dim filter") {
    val p = plan(TablesGates.s48_dpp_join)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in the s48 fact scan:\n$p")
  }

  test("q16: NOT IN plans as a null-aware broadcast anti-join, never a nested loop over data") {
    val p = plan(TpchGates.tpch_q16_shape)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"NOT IN not a broadcast anti-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "NOT IN degraded to a nested-loop join")
  }

  test("q21: EXISTS/NOT EXISTS become semi+anti joins, no per-row subquery execution") {
    val p = plan(TpchGates.tpch_q21_shape)
    assert(p.contains("LeftSemi"), s"EXISTS not a semi-join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not an anti-join:\n$p")
  }

  test("hot/cold skew join: the hot branch broadcasts, the cold branch keeps the equi-join") {
    val p = plan(RelationalGates.skew_hotcold_join)
    assert(p.contains("BroadcastHashJoin"), s"hot branch not broadcast:\n$p")
    assert(p.contains("Union"), s"missing split-union shape:\n$p")
  }
}
