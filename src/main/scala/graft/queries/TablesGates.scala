package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsOfJoin, BloomPrune, Bucketing,
  ConcurrentWriteException, Freeze, IncrementalAgg, IncrementalJoin, MaterializedAgg,
  Merge, OptimisticWriter, ShardExport, TableStore}

/** Table maintenance: MERGE (insert-only, SCD1, SCD2, full sync),
  * change feeds, incremental view maintenance, optimistic concurrency,
  * Delta and Iceberg protocol round trips, and physical layout
  * (z-order, bloom filters, bucketing, partition pruning, sharding).
  */
object TablesGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** S6 insert-only MERGE: keys already in the target are never updated;
    * absent keys are inserted. Target = orders with key % 3 != 0; source =
    * all orders restamped 'SRC' (so any update would be visible).
    * Ref: 02_bronze.ipynb:300-320 (cell-8).
    */
  val s6_insert_only_merge = OpQuery(
    "s6_insert_only_merge",
    """WITH target AS (
      |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0
      |), source AS (
      |  SELECT o_orderkey, 'SRC' AS o_orderstatus FROM orders
      |)
      |SELECT o_orderkey, o_orderstatus FROM target
      |UNION ALL
      |SELECT s.o_orderkey, s.o_orderstatus FROM source s
      |WHERE NOT EXISTS (SELECT 1 FROM target x WHERE x.o_orderkey = s.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val orders = t(spark, dir, "orders")
    val target = orders.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val source = orders.select(col("o_orderkey"), lit("SRC").as("o_orderstatus"))
    Merge.insertOnly(target, source, Seq("o_orderkey"))
      .orderBy(col("o_orderkey"))
  }

  /** S7 SCD1 MERGE: matched keys take the source's listed attributes and
    * keep the rest; unmatched source keys are inserted whole. Target =
    * customers with key % 4 != 0 plus a 'stable' column the merge must
    * not touch; source = all customers with an updated segment.
    * Ref: 04a_gold_dim_athletes.ipynb:300-333 (cell-10).
    */
  val s7_scd1_merge = OpQuery(
    "s7_scd1_merge",
    """WITH target AS (
      |  SELECT c_custkey, c_mktsegment, concat('orig_', CAST(c_nationkey AS VARCHAR)) AS stable
      |  FROM customer WHERE c_custkey % 4 <> 0
      |), source AS (
      |  SELECT c_custkey, concat('NEW_', c_mktsegment) AS c_mktsegment,
      |         'src_stable' AS stable
      |  FROM customer
      |)
      |SELECT t.c_custkey, s.c_mktsegment, t.stable
      |FROM target t JOIN source s ON t.c_custkey = s.c_custkey
      |UNION ALL
      |SELECT s.c_custkey, s.c_mktsegment, s.stable
      |FROM source s
      |WHERE NOT EXISTS (SELECT 1 FROM target x WHERE x.c_custkey = s.c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val customer = t(spark, dir, "customer")
    val target = customer.filter(col("c_custkey") % 4 =!= 0)
      .select(
        col("c_custkey"), col("c_mktsegment"),
        concat(lit("orig_"), col("c_nationkey").cast("string")).as("stable"))
    val source = customer.select(
      col("c_custkey"),
      concat(lit("NEW_"), col("c_mktsegment")).as("c_mktsegment"),
      lit("src_stable").as("stable"))
    Merge.scd1(target, source, Seq("c_custkey"), updateCols = Seq("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** SCD Type 2 MERGE: effective-dated dimension history. Target =
    * current snapshot (keys % 3 != 0) plus closed historical rows for
    * keys % 5 = 0; source = all customers with the segment moved for
    * keys % 4 = 0. The oracle states every clause relationally: history
    * passes through, unchanged matches pass, changed matches close out
    * at the effective date AND re-open as the new current version, and
    * brand-new keys insert as current. `is_current` emitted as INT (the
    * driver hash has no verified bool parity rule).
    */
  val s15_scd2_merge = OpQuery(
    "s15_scd2_merge",
    """WITH cur AS (
      |  SELECT c_custkey, c_mktsegment,
      |         '2023-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to, TRUE AS cur_flag
      |  FROM customer WHERE c_custkey % 3 <> 0
      |), hist AS (
      |  SELECT c_custkey, concat('OLD_', c_mktsegment) AS c_mktsegment,
      |         '2022-01-01' AS valid_from, '2023-01-01' AS valid_to, FALSE AS cur_flag
      |  FROM customer WHERE c_custkey % 3 <> 0 AND c_custkey % 5 = 0
      |), src AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 4 = 0 THEN 'SEG_MOVED' ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer
      |), changed AS (
      |  SELECT c.c_custkey FROM cur c JOIN src s USING (c_custkey)
      |  WHERE s.c_mktsegment IS DISTINCT FROM c.c_mktsegment
      |)
      |SELECT c_custkey, c_mktsegment, valid_from, valid_to, CAST(cur_flag AS INT) AS is_current
      |FROM (
      |  SELECT * FROM hist
      |  UNION ALL
      |  SELECT c.* FROM cur c
      |  WHERE NOT EXISTS (SELECT 1 FROM changed ch WHERE ch.c_custkey = c.c_custkey)
      |  UNION ALL
      |  SELECT c.c_custkey, c.c_mktsegment, c.valid_from, '2024-06-01', FALSE
      |  FROM cur c JOIN changed ch ON ch.c_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT s.c_custkey, s.c_mktsegment, '2024-06-01', NULL, TRUE
      |  FROM src s JOIN changed ch ON ch.c_custkey = s.c_custkey
      |  UNION ALL
      |  SELECT s.c_custkey, s.c_mktsegment, '2024-06-01', NULL, TRUE
      |  FROM src s
      |  WHERE NOT EXISTS (SELECT 1 FROM cur c WHERE c.c_custkey = s.c_custkey)
      |)
      |ORDER BY c_custkey, valid_from, is_current""".stripMargin) { (spark, dir) =>
    val customer = t(spark, dir, "customer")
    val cur = customer.filter(col("c_custkey") % 3 =!= 0)
      .select(
        col("c_custkey"), col("c_mktsegment"),
        lit("2023-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
    val hist = customer.filter(col("c_custkey") % 3 =!= 0 && col("c_custkey") % 5 === 0)
      .select(
        col("c_custkey"), concat(lit("OLD_"), col("c_mktsegment")).as("c_mktsegment"),
        lit("2022-01-01").as("valid_from"),
        lit("2023-01-01").as("valid_to"),
        lit(false).as("is_current"))
    val source = customer.select(
      col("c_custkey"),
      when(col("c_custkey") % 4 === 0, lit("SEG_MOVED"))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    Merge.scd2(cur.unionByName(hist), source,
        keys = Seq("c_custkey"), trackCols = Seq("c_mktsegment"),
        effectiveDate = "2024-06-01")
      .withColumn("is_current", col("is_current").cast("int"))
      .orderBy(col("c_custkey"), col("valid_from"), col("is_current"))
  }

  /** Full-sync MERGE (`WHEN NOT MATCHED BY SOURCE THEN DELETE`): the
    * target mirrors the source extract exactly — matched rows take the
    * source's segment and keep target-only columns, unmatched source
    * rows insert, and target keys missing from the source drop.
    */
  val s16_full_sync_merge = OpQuery(
    "s16_full_sync_merge",
    """WITH target AS (
      |  SELECT c_custkey, c_mktsegment,
      |         concat('keep_', CAST(c_nationkey AS VARCHAR)) AS stable
      |  FROM customer WHERE c_custkey % 3 <> 0
      |), source AS (
      |  SELECT c_custkey, concat('SYNC_', c_mktsegment) AS c_mktsegment,
      |         'src_stable' AS stable
      |  FROM customer WHERE c_custkey % 2 = 0
      |)
      |SELECT t.c_custkey, s.c_mktsegment, t.stable
      |FROM target t JOIN source s ON t.c_custkey = s.c_custkey
      |UNION ALL
      |SELECT s.c_custkey, s.c_mktsegment, s.stable
      |FROM source s
      |WHERE NOT EXISTS (SELECT 1 FROM target x WHERE x.c_custkey = s.c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val customer = t(spark, dir, "customer")
    val target = customer.filter(col("c_custkey") % 3 =!= 0)
      .select(
        col("c_custkey"), col("c_mktsegment"),
        concat(lit("keep_"), col("c_nationkey").cast("string")).as("stable"))
    val source = customer.filter(col("c_custkey") % 2 === 0)
      .select(
        col("c_custkey"),
        concat(lit("SYNC_"), col("c_mktsegment")).as("c_mktsegment"),
        lit("src_stable").as("stable"))
    Merge.fullSync(target, source, Seq("c_custkey"), updateCols = Seq("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Partition-aligned SCD1 MERGE through the store: the target is a
    * partitioned table (part = c_custkey % 5), the source touches ONLY
    * partitions {0,1} (updates for key % 4 = 0 plus brand-new keys at
    * +200000 — which stay in-partition because 200000 % 5 = 0), and
    * [[Merge.scd1PartitionAligned]] rewrites only those two partitions;
    * partitions 2-4 pass through from files never reopened. The oracle
    * states the full merge relationally, so the compare proves the
    * pruned rewrite equals the unpruned semantics.
    */
  val s18_scd1_aligned = OpQuery(
    "s18_scd1_aligned",
    """WITH target AS (
      |  SELECT c_custkey, CAST(c_custkey % 5 AS INT) AS part, c_mktsegment,
      |         concat('orig_', CAST(c_nationkey AS VARCHAR)) AS stable
      |  FROM customer
      |), source AS (
      |  SELECT c_custkey, CAST(c_custkey % 5 AS INT) AS part,
      |         concat('NEW_', c_mktsegment) AS c_mktsegment, 'src_stable' AS stable
      |  FROM customer WHERE c_custkey % 4 = 0 AND c_custkey % 5 IN (0, 1)
      |  UNION ALL
      |  SELECT c_custkey + 200000, CAST((c_custkey + 200000) % 5 AS INT),
      |         'INSERTED', 'ins_stable'
      |  FROM customer WHERE c_custkey % 97 = 0 AND c_custkey % 5 IN (0, 1)
      |)
      |SELECT t.c_custkey, t.part, s.c_mktsegment, t.stable
      |FROM target t JOIN source s ON t.c_custkey = s.c_custkey
      |UNION ALL
      |SELECT t.c_custkey, t.part, t.c_mktsegment, t.stable
      |FROM target t
      |WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.c_custkey = t.c_custkey)
      |UNION ALL
      |SELECT s.c_custkey, s.part, s.c_mktsegment, s.stable
      |FROM source s
      |WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.c_custkey = s.c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val scratch = graft.queries.GateScratch.dir("graft-scd1a-gate-")
    val store = new graft.operators.TableStore(spark, scratch.toString)
    val customer = t(spark, dir, "customer")
    // part cast to INT so the in-memory source matches the partition-dir
    // inferred type on read-back (alignSchemas refuses type conflicts)
    val part = (col("c_custkey") % 5).cast("int").as("part")
    store.overwrite("dim", customer.select(
      col("c_custkey"), part, col("c_mktsegment"),
      concat(lit("orig_"), col("c_nationkey").cast("string")).as("stable")),
      partitionBy = Seq("part"))
    val updates = customer
      .filter(col("c_custkey") % 4 === 0 && (col("c_custkey") % 5).isin(0, 1))
      .select(col("c_custkey"), part,
        concat(lit("NEW_"), col("c_mktsegment")).as("c_mktsegment"),
        lit("src_stable").as("stable"))
    val inserts = customer
      .filter(col("c_custkey") % 97 === 0 && (col("c_custkey") % 5).isin(0, 1))
      .select((col("c_custkey") + 200000).as("c_custkey"),
        ((col("c_custkey") + 200000) % 5).cast("int").as("part"),
        lit("INSERTED").as("c_mktsegment"), lit("ins_stable").as("stable"))
    Merge.scd1PartitionAligned(store, "dim", updates.unionByName(inserts),
      Seq("c_custkey"), updateCols = Seq("c_mktsegment"), partCol = "part")
    store.read("dim")
      .select(col("c_custkey"), col("part").cast("int").as("part"),
        col("c_mktsegment"), col("stable"))
      .orderBy(col("c_custkey"))
  }

  /** Partition-aligned SCD2 MERGE through the store: history maintenance
    * that opens only the partitions the source touches. Bootstrap load
    * at 2024-01-01 (everything current), then a second load confined to
    * partitions {0,1}: segment moved for key % 4 = 0, brand-new keys at
    * +200000. Changed keys close out and reopen IN their partition;
    * partitions 2-4 keep their bootstrap files untouched. Oracle states
    * every SCD2 clause relationally over the same two loads.
    */
  val s19_scd2_aligned = OpQuery(
    "s19_scd2_aligned",
    """WITH cur AS (
      |  SELECT c_custkey, CAST(c_custkey % 5 AS INT) AS part, c_mktsegment,
      |         '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to, TRUE AS f
      |  FROM customer
      |), src AS (
      |  SELECT c_custkey, CAST(c_custkey % 5 AS INT) AS part,
      |         CASE WHEN c_custkey % 4 = 0 THEN 'SEG_MOVED' ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer WHERE c_custkey % 5 IN (0, 1)
      |  UNION ALL
      |  SELECT c_custkey + 200000, CAST((c_custkey + 200000) % 5 AS INT), 'BRAND_NEW'
      |  FROM customer WHERE c_custkey % 97 = 0 AND c_custkey % 5 IN (0, 1)
      |), changed AS (
      |  SELECT c.c_custkey FROM cur c JOIN src s ON s.c_custkey = c.c_custkey
      |  WHERE s.c_mktsegment IS DISTINCT FROM c.c_mktsegment
      |)
      |SELECT c_custkey, part, c_mktsegment, valid_from, valid_to,
      |       CAST(f AS INT) AS is_current
      |FROM (
      |  SELECT c.c_custkey, c.part, c.c_mktsegment, c.valid_from, c.valid_to, c.f
      |  FROM cur c
      |  WHERE NOT EXISTS (SELECT 1 FROM changed ch WHERE ch.c_custkey = c.c_custkey)
      |  UNION ALL
      |  SELECT c.c_custkey, c.part, c.c_mktsegment, c.valid_from, '2024-06-01', FALSE
      |  FROM cur c JOIN changed ch ON ch.c_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT s.c_custkey, s.part, s.c_mktsegment, '2024-06-01', NULL, TRUE
      |  FROM src s JOIN changed ch ON ch.c_custkey = s.c_custkey
      |  UNION ALL
      |  SELECT s.c_custkey, s.part, s.c_mktsegment, '2024-06-01', NULL, TRUE
      |  FROM src s
      |  WHERE NOT EXISTS (SELECT 1 FROM cur c WHERE c.c_custkey = s.c_custkey)
      |)
      |ORDER BY c_custkey, valid_from, is_current""".stripMargin) { (spark, dir) =>
    val scratch = graft.queries.GateScratch.dir("graft-scd2a-gate-")
    val store = new graft.operators.TableStore(spark, scratch.toString)
    val customer = t(spark, dir, "customer")
    val part = (col("c_custkey") % 5).cast("int").as("part")
    Merge.scd2PartitionAligned(store, "dim",
      customer.select(col("c_custkey"), part, col("c_mktsegment")),
      keys = Seq("c_custkey"), trackCols = Seq("c_mktsegment"),
      effectiveDate = "2024-01-01", partCol = "part")
    val load2 = customer.filter((col("c_custkey") % 5).isin(0, 1))
      .select(col("c_custkey"), part,
        when(col("c_custkey") % 4 === 0, lit("SEG_MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .unionByName(customer
        .filter(col("c_custkey") % 97 === 0 && (col("c_custkey") % 5).isin(0, 1))
        .select((col("c_custkey") + 200000).as("c_custkey"),
          ((col("c_custkey") + 200000) % 5).cast("int").as("part"),
          lit("BRAND_NEW").as("c_mktsegment")))
    Merge.scd2PartitionAligned(store, "dim", load2,
      keys = Seq("c_custkey"), trackCols = Seq("c_mktsegment"),
      effectiveDate = "2024-06-01", partCol = "part")
    store.read("dim")
      .select(col("c_custkey"), col("part").cast("int").as("part"),
        col("c_mktsegment"), col("valid_from"), col("valid_to"),
        col("is_current").cast("int").as("is_current"))
      .orderBy(col("c_custkey"), col("valid_from"), col("is_current"))
  }

  /** DML surface: UPDATE then DELETE as versioned generations on the
    * store. The update's assignments see OLD row values (both reference
    * c_acctbal before the change); the delete drops key % 11 = 0; the
    * oracle states both relationally. Each DML lands as its own
    * generation, so v0→v2 history stays queryable.
    */
  val s17_update_delete = OpQuery(
    "s17_update_delete",
    """SELECT c_custkey,
      |       CASE WHEN c_custkey % 6 = 0 THEN concat('U_', c_mktsegment)
      |            ELSE c_mktsegment END AS c_mktsegment,
      |       CAST(CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS DOUBLE) AS bal,
      |       CAST(CASE WHEN c_custkey % 6 = 0 THEN c_acctbal ELSE 0.0 END AS DOUBLE) AS old_bal
      |FROM customer
      |WHERE c_custkey % 11 <> 0
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val scratch = graft.queries.GateScratch.dir("graft-dml-gate-")
    val store = new graft.operators.TableStore(spark, scratch.toString)
    val customer = t(spark, dir, "customer")
    store.overwrite("t", customer.select(
      col("c_custkey"), col("c_mktsegment"),
      col("c_acctbal").as("bal"), lit(0.0).as("old_bal")))
    // both assignments reference the PRE-update bal — SQL UPDATE semantics
    store.updateWhere("t", col("c_custkey") % 6 === 0, Map(
      "c_mktsegment" -> concat(lit("U_"), col("c_mktsegment")),
      "bal" -> (col("bal") + 100),
      "old_bal" -> col("bal")))
    store.deleteWhere("t", col("c_custkey") % 11 === 0)
    store.read("t").orderBy(col("c_custkey"))
  }

  /** Change data feed over the versioned store: customer is written as
    * generation 0, then overwritten with deletes (key % 7 = 0 removed)
    * and updates (segment rewritten for key % 10 = 0) as generation 1;
    * `changes(0, 1)` must emit exactly the delete/insert row diff the
    * oracle derives relationally with EXCEPT ALL. Updates appear as
    * their delete+insert pair, so an updated key sorts as two rows.
    */
  val cdc_changes = OpQuery(
    "cdc_changes",
    """WITH v0 AS (
      |  SELECT c_custkey, c_mktsegment FROM customer
      |), v1 AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 10 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer WHERE c_custkey % 7 <> 0
      |)
      |SELECT c_custkey, c_mktsegment, 'insert' AS change_type
      |FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, 'delete' AS change_type
      |FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1)
      |ORDER BY c_custkey, change_type""".stripMargin) { (spark, dir) =>
    val scratch = graft.queries.GateScratch.dir("graft-cdc-gate-")
    val store = new graft.operators.TableStore(spark, scratch.toString)
    val customer = t(spark, dir, "customer")
    val v0 = customer.select(col("c_custkey"), col("c_mktsegment"))
    val v1 = customer.filter(col("c_custkey") % 7 =!= 0)
      .select(
        col("c_custkey"),
        when(col("c_custkey") % 10 === 0, lit("CHANGED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    store.overwrite("t", v0)
    store.overwrite("t", v1)
    store.changes("t", 0, 1)
      .withColumnRenamed("_change_type", "change_type")
      .orderBy(col("c_custkey"), col("change_type"))
  }

  /** Incremental view maintenance: the customer table mutates v0 → v1
    * (same recipe as `cdc_changes`: key % 7 = 0 deleted, segment
    * rewritten for key % 10 = 0), and the maintained per-segment
    * aggregate — built over v0, refreshed ONLY with the CDC delta —
    * must equal the oracle's direct full aggregation of v1.
    */
  val ivm_refresh = OpQuery(
    "ivm_refresh",
    """WITH v1 AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 10 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment,
      |         c_acctbal
      |  FROM customer WHERE c_custkey % 7 <> 0
      |)
      |SELECT c_mktsegment,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_c_acctbal
      |FROM v1
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    import graft.operators.{IncrementalAgg, TableStore}
    val scratch = graft.queries.GateScratch.dir("graft-ivm-gate-")
    val store = new TableStore(spark, scratch.toString)
    val customer = t(spark, dir, "customer")
    val v0 = customer.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val v1 = customer.filter(col("c_custkey") % 7 =!= 0)
      .select(
        col("c_custkey"),
        when(col("c_custkey") % 10 === 0, lit("CHANGED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        col("c_acctbal"))
    store.overwrite("base", v0)
    store.overwrite("agg",
      IncrementalAgg.fullAggregate(store.read("base"), Seq("c_mktsegment"), "c_acctbal"))
    store.overwrite("base", v1)
    IncrementalAgg.refresh(store, "agg", "base", 0, 1,
      Seq("c_mktsegment"), "c_acctbal")
    store.read("agg")
      .select(
        col("c_mktsegment"), col("n_rows"),
        col("total_c_acctbal").cast("double").as("total_c_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Z-order clustered write + selective 2-dim read-back: events are
    * rewritten clustered on (user_id, value) into a scratch warehouse,
    * then filtered on BOTH clustered dimensions. The oracle is the same
    * filter over the source table — the clustered re-layout must be
    * observationally identical (file-pruning efficacy is pinned in
    * ZOrderSpec; this gate pins that the re-layout loses/changes
    * nothing).
    */
  val zorder_cluster = OpQuery(
    "zorder_cluster",
    """SELECT event_id, user_id, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
      |FROM events
      |WHERE user_id BETWEEN 100 AND 160 AND value BETWEEN 10 AND 60
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    val scratch = graft.queries.GateScratch.dir("graft-zorder-gate-")
    val store = new TableStore(spark, scratch.toString)
    store.overwriteClustered(
      "events_z",
      t(spark, dir, "events").select(col("event_id"), col("user_id"), col("value")),
      clusterBy = Seq("user_id", "value"), numFiles = 16)
    store.read("events_z")
      .filter(col("user_id").between(100, 160) && col("value").between(10, 60))
      .select(
        col("event_id"), col("user_id"),
        col("value").cast("decimal(18,2)").cast("double").as("value"))
      .orderBy(col("event_id"))
  }

  /** Bloom-filter runtime pruning: orders is pre-filtered by a bloom
    * filter built over the BUILDING-segment customer keys, then joined.
    * Bloom filters have no false negatives and the join discards false
    * positives, so the result must be EXACTLY the plain selective join —
    * which is the oracle. The filter's own invariants (no false
    * negatives, FPP bound, interpreted == codegen) are BloomFilterSpec.
    */
  val bloom_prune_join = OpQuery(
    "bloom_prune_join",
    """SELECT o.o_orderkey, o.o_custkey, c.c_name
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |ORDER BY o.o_orderkey""".stripMargin) { (spark, dir) =>
    val building = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    BloomPrune.prune(
        t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        "o_custkey", building, "c_custkey",
        expectedItems = 10000L, fpp = 0.01)
      .join(building, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
      .orderBy(col("o_orderkey"))
  }

  /** Pre-combine + SCD1 merge ([[Merge.precombine]]): an extract with
    * MANY updates per key (every order a customer placed) collapses to
    * the latest-by-(date, key) version per customer, then merges. The
    * oracle states the whole thing declaratively — window top-1 +
    * left join — proving precombine∘scd1 ≡ the declarative form.
    */
  val s21_precombine_merge = OpQuery(
    "s21_precombine_merge",
    """WITH latest AS (
      |  SELECT o_custkey, new_bal FROM (
      |    SELECT o_custkey,
      |           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS new_bal,
      |           ROW_NUMBER() OVER (PARTITION BY o_custkey
      |             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1
      |)
      |SELECT c_custkey, c_name,
      |       CAST(COALESCE(l.new_bal,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)) AS DOUBLE) AS bal
      |FROM customer c LEFT JOIN latest l ON c.c_custkey = l.o_custkey
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val customer = t(spark, dir, "customer")
    val target = customer
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
    // the extract carries the FULL target row shape (scd1's insert
    // branch needs every target column) plus the precombine ordering
    val source = t(spark, dir, "orders")
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("bal"),
        col("o_orderdate"), col("o_orderkey"))
    val pre = Merge.precombine(source, Seq("c_custkey"),
        orderCols = Seq("o_orderdate", "o_orderkey"))
      .select(col("c_custkey"), col("c_name"), col("bal"))
    Merge.scd1(target, pre, keys = Seq("c_custkey"), updateCols = Seq("bal"))
      .orderBy(col("c_custkey"))
  }

  /** Join-view IVM driven end-to-end on the versioned store: build the
    * multiset join view over version-0 slices, mutate BOTH base tables
    * (inserts and deletes), refresh via the signed delta algebra
    * (ΔA⋈B₀ + A₀⋈ΔB + ΔA⋈ΔB), and emit the refreshed view. The oracle
    * states the FULL join of the final slices — a hash match proves the
    * incremental path reproduces it without the full re-join.
    */
  val ivm_join_refresh = OpQuery(
    "ivm_join_refresh",
    """WITH a1 AS (
      |  SELECT o_custkey AS k, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_orderkey % 100 < 6),
      |b1 AS (
      |  SELECT c_custkey AS k, c_mktsegment FROM customer WHERE c_custkey % 4 < 3)
      |SELECT a1.k, a1.o_orderkey, CAST(a1.price AS DOUBLE) AS price,
      |       b1.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS mult
      |FROM a1 JOIN b1 ON a1.k = b1.k
      |GROUP BY a1.k, a1.o_orderkey, a1.price, b1.c_mktsegment
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val customer = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment"))

    val root = graft.queries.GateScratch.dir("graft-ivmj-gate-").toString
    val store = new TableStore(spark, root, retainVersions = 5)
    // version 0: different slices than the final state — both tables
    // will see inserts AND deletes on the way to v1
    store.overwrite("A", orders.filter(col("o_orderkey") % 100 < 4))
    store.overwrite("B", customer.filter(col("k") % 4 > 0))
    val (av0, bv0) = (store.currentVersion("A"), store.currentVersion("B"))
    store.overwrite("V",
      IncrementalJoin.fullJoin(store.read("A"), store.read("B"), Seq("k")))

    store.overwrite("A", orders.filter(col("o_orderkey") % 100 < 6))
    store.overwrite("B", customer.filter(col("k") % 4 < 3))
    val (av1, bv1) = (store.currentVersion("A"), store.currentVersion("B"))
    IncrementalJoin.refresh(store, "V", "A", av0, av1, "B", bv0, bv1, Seq("k"))

    store.read("V")
      .select(col("k"), col("o_orderkey"), col("price").cast("double").as("price"),
        col("c_mktsegment"), col("__mult").cast("long").as("mult"))
      .orderBy("o_orderkey")
  }

  /** Partition evolution end-to-end: events stored partitioned by
    * event_type, evolved to a value-band layout, then aggregated off the
    * NEW layout. The oracle aggregates the source — evolution must be
    * content-neutral while the physical tree changes underneath.
    */
  val s30_partition_evolution = OpQuery(
    "s30_partition_evolution",
    """SELECT CAST(CAST(TRUNC(value) AS INT) // 25 AS INT) AS band,
      |       event_type,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM events
      |WHERE event_id % 5 = 0
      |GROUP BY 1, 2
      |ORDER BY band, event_type""".stripMargin) { (spark, dir) =>
    val events = Tables.load(spark, dir, "events")
      .filter(col("event_id") % 5 === 0)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("band", (col("value").cast("int") / lit(25)).cast("int"))
    val root = graft.queries.GateScratch.dir("graft-evolve-gate-").toString
    val store = new TableStore(spark, root, retainVersions = 3)
    store.overwrite("ev", events, partitionBy = Seq("event_type"))
    store.evolvePartitioning("ev", Seq("band"))
    require(store.partitionColumns("ev") == Seq("band"),
      "evolution did not change the layout")
    store.read("ev")
      .groupBy(col("band").cast("int").as("band"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy("band", "event_type")
  }

  /** Bucketed co-located join: both sides are written hash-clustered on
    * the join key (8 buckets, sorted, one file per bucket), so the join
    * plans WITHOUT an Exchange on either side — verified in-gate by a
    * plan assertion, not just by the spec. The oracle only checks the
    * join's algebra; the plan shape is the point of the operator (at
    * 100 TB the bucketed layout turns every subsequent join on the key
    * into a zero-shuffle merge).
    */
  val s47_bucketed_join = OpQuery(
    "s47_bucketed_join",
    """SELECT c.c_mktsegment AS segment,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    Bucketing.writeBucketed(spark, "graft_b_customer",
      Tables.load(spark, dir, "customer"), Seq("c_custkey"), 8)
    Bucketing.writeBucketed(spark, "graft_b_orders",
      Tables.load(spark, dir, "orders"), Seq("o_custkey"), 8)
    val joined = spark.table("graft_b_orders").hint("MERGE")
      .join(spark.table("graft_b_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"))
      .select(col("segment"), col("n_orders"), col("revenue"))
      .orderBy(col("segment"))
    val shuffles = Bucketing.keyExchanges(joined, Seq("o_custkey", "c_custkey"))
    require(shuffles == 0,
      s"bucketed join planned $shuffles Exchange(s) on the bucket key")
    joined
  }

  /** Deterministic shard export: md5-ordered pseudo-random shuffle +
    * size-balanced shard assignment via a distributed prefix sum
    * ([[graft.operators.TotalOrder.prefixAggs]] — one range shuffle, no
    * single-reducer window). The oracle replays the ENTIRE assignment
    * (same md5 order, same running-sum arithmetic) in DuckDB, so shard
    * membership is pinned engine-independently, not just shard counts.
    */
  val shard_export = OpQuery(
    "shard_export",
    """WITH ordered AS (
      |  SELECT doc_id, n_chars,
      |         SUM(n_chars) OVER (
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |           ROWS UNBOUNDED PRECEDING) AS pfx
      |  FROM documents
      |)
      |SELECT CAST(FLOOR((pfx - n_chars) / 10000.0) AS BIGINT) AS shard,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_cost,
      |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM ordered
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
    val assigned = ShardExport.assignShards(
      docs, idCol = "doc_id", costCol = "n_chars", targetCost = 10000L)
    assigned.groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("total_cost"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  /** Dynamic partition pruning: the fact table is stored partitioned by
    * order year; the dim side's filter is only known at RUNTIME (it's a
    * predicate on a different column of the dim), so static pruning
    * can't help — Spark broadcasts the dim, extracts the surviving join
    * keys, and injects them as a partition filter into the fact scan
    * (`dynamicpruningexpression` in the scan's PartitionFilters). The
    * in-gate require asserts DPP actually fired; the oracle checks the
    * join algebra. At 100 TB this is the difference between scanning 1
    * year and scanning all of them.
    */
  val s48_dpp_join = OpQuery(
    "s48_dpp_join",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE EXTRACT(year FROM o_orderdate) % 3 = 0
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    val out = graft.queries.GateScratch.dir("graft-dpp").toString
    Tables.load(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(out)
    val fact = spark.read.parquet(out)
    // dim: one row per year with an attribute, built from the RAW table
    // (not the partitioned scan); the runtime-only filter is on the
    // attribute, not the partition key — the join key itself stays the
    // bare partition column so the DPP rule can target the scan
    val dim = Tables.load(spark, dir, "orders")
      .select(year(col("o_orderdate")).as("yr")).distinct()
      .withColumn("keep", pmod(col("yr"), lit(3)) === 0)
    val joined = fact
      .join(dim.filter(col("keep")).select(col("yr")), Seq("yr"))
      .groupBy(col("yr"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"))
      .select(col("yr").cast("long").as("yr"), col("n_orders"), col("revenue"))
      .orderBy(col("yr"))
    // The dynamic-pruning plan assertion lives in PlanSpec ("s48: ..."),
    // not here: an in-gate collect() would execute the query twice
    // (round-5 verdict item 3) — the gate runs it exactly once.
    joined
  }

  /** Delta interop round trip: a 2-generation TableStore table is
    * exported as a stock `_delta_log` Delta table ([[graft.operators
    * .DeltaExport]]) and read back through the protocol-level reader
    * ([[graft.operators.DeltaImport]]) — log parse, live-set
    * reconstruction, partition-column reattachment from
    * partitionValues, `VERSION AS OF` both generations. The oracle is
    * the source query itself: two storage round-trips through the
    * public Delta protocol must be observationally invisible. Import of
    * FOREIGN logs (checkpoints, cleaned-up JSON, refusal of v3
    * features) is DeltaImportSpec.
    */
  val s49_delta_roundtrip = OpQuery(
    "s49_delta_roundtrip",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
      |       CAST(year(o_orderdate) AS INT) AS o_year
      |FROM orders
      |WHERE o_orderkey % 7 = 0
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import graft.operators.{DeltaExport, DeltaImport, TableStore}
    val scratch = graft.queries.GateScratch.dir("graft-delta-rt-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val src = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("total"),
        year(col("o_orderdate")).cast("int").as("o_year"))
    // generation 0: a half-slice; generation 1: the full slice — import
    // must serve the LATEST generation (and spec covers AS OF 0)
    store.overwrite("rt", src.filter(col("o_orderkey") % 14 === 0),
      partitionBy = Seq("o_year"))
    store.overwrite("rt", src, partitionBy = Seq("o_year"))
    val exported = DeltaExport.exportTable(store, "rt",
      scratch.resolve("delta").toString)
    DeltaImport.read(spark, exported.toString)
      .select(col("o_orderkey"), col("o_orderstatus"), col("total"), col("o_year"))
      .orderBy(col("o_orderkey"))
  }

  /** Iceberg interop round trip — the [[s49_delta_roundtrip]] twin for
    * the other major open table format: a 2-generation partitioned
    * TableStore table exported as an Iceberg v2 table
    * (`metadata.json` + Avro manifest lists/manifests per the public
    * spec, via [[graft.operators.IcebergExport]]) and read back through
    * the protocol-level reader ([[graft.operators.IcebergImport]]) —
    * snapshot resolution, manifest streaming, typed identity-partition
    * reattachment. Same oracle: two storage round trips through the
    * public protocol must be observationally invisible. Spec-level
    * conformance (field-ids, manifest metadata, per-snapshot replay,
    * refusals) is IcebergExportSpec / IcebergImportSpec.
    */
  val s50_iceberg_roundtrip = OpQuery(
    "s50_iceberg_roundtrip",
    """SELECT o_orderkey, o_orderpriority,
      |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
      |       CAST(year(o_orderdate) AS INT) AS o_year
      |FROM orders
      |WHERE o_orderkey % 9 = 0
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import graft.operators.{IcebergExport, IcebergImport, TableStore}
    val scratch = graft.queries.GateScratch.dir("graft-ice-rt-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val src = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 9 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("total"),
        year(col("o_orderdate")).cast("int").as("o_year"))
    store.overwrite("rt", src.filter(col("o_orderkey") % 18 === 0),
      partitionBy = Seq("o_year"))
    store.overwrite("rt", src, partitionBy = Seq("o_year"))
    val exported = IcebergExport.exportTable(store, "rt",
      scratch.resolve("iceberg").toString)
    IcebergImport.read(spark, exported.toString)
      .select(col("o_orderkey"), col("o_orderpriority"), col("total"), col("o_year"))
      .orderBy(col("o_orderkey"))
  }

  val s51_incremental_agg_cdf = OpQuery(
    "s51_incremental_agg_cdf",
    """WITH v1 AS (
      |  SELECT o_custkey % 97 AS bucket,
      |         CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
      |              ELSE o_totalprice END AS DECIMAL(18,2)) AS price
      |  FROM orders)
      |SELECT bucket,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(price) AS DOUBLE) AS sum_price
      |FROM v1 GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), (col("o_custkey") % 97).as("bucket"),
        col("o_totalprice"))
    // v0: two-thirds of the orders at original prices
    val v0 = orders.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("bucket"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    // v1: the full table, every 5th order's price doubled — so the diff
    // holds inserts (new orders), deletes+inserts (price updates), and
    // untouched rows, all in one feed
    val v1 = orders.select(col("o_orderkey"), col("bucket"),
      when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
        .otherwise(col("o_totalprice")).cast("decimal(18,2)").as("price"))
    val root = graft.queries.GateScratch.dir("graft-mvagg-").toString
    val store = new TableStore(spark, root)
    store.overwrite("t", v0) // version 0
    store.overwrite("t", v1) // version 1
    val state0 = MaterializedAgg.compute(store.read("t", 0),
      Seq("bucket"), Seq("price"))
    val maintained = MaterializedAgg.applyDelta(state0,
      store.changes("t", 0, 1), Seq("bucket"), Seq("price"))
    maintained.select(col("bucket"),
        col("__mv_count").as("n_rows"),
        col("sum_price").cast("double").as("sum_price"))
      .orderBy(col("bucket"))
  }

  val ivm_join_agg_refresh = OpQuery(
    "ivm_join_agg_refresh",
    """WITH a1 AS (
      |  SELECT o_custkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_orderkey % 100 < 6),
      |b1 AS (
      |  SELECT c_custkey AS k, c_mktsegment FROM customer WHERE c_custkey % 4 < 3)
      |SELECT b1.c_mktsegment,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(price) AS DOUBLE) AS total_price
      |FROM a1 JOIN b1 ON a1.k = b1.k
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val customer = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment"))

    val root = graft.queries.GateScratch.dir("graft-ivmja-gate-").toString
    val store = new TableStore(spark, root, retainVersions = 5)
    // v0 slices differ from the final state in both directions, so the
    // refresh must survive inserts AND deletes on BOTH tables
    store.overwrite("A", orders.filter(col("o_orderkey") % 100 < 4))
    store.overwrite("B", customer.filter(col("k") % 4 > 0))
    val (av0, bv0) = (store.currentVersion("A"), store.currentVersion("B"))
    store.overwrite("V",
      IncrementalJoin.fullJoinAgg(store.read("A"), store.read("B"), Seq("k"),
        groupCols = Seq("c_mktsegment"), measureCol = "price"))

    store.overwrite("A", orders.filter(col("o_orderkey") % 100 < 6))
    store.overwrite("B", customer.filter(col("k") % 4 < 3))
    IncrementalJoin.refreshAgg(store, "V",
      "A", av0, store.currentVersion("A"),
      "B", bv0, store.currentVersion("B"),
      Seq("k"), groupCols = Seq("c_mktsegment"), measureCol = "price")

    store.read("V")
      .select(col("c_mktsegment"), col("n_rows"),
        col("total_price").cast("double").as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** MIN/MAX IVM — the NON-additive case: deletes that hit a stored
    * extremum force a rescan of ONLY the affected groups
    * ([[IncrementalJoin]] companion in `IncrementalAgg.refreshMinMax`).
    * The gate mutates the base with inserts AND deletes (including
    * extremum-hitting ones — the v0 slice holds each segment's cheapest
    * orders, and v1 removes part of it) and hash-matches the full
    * recompute of the final state.
    */
  val ivm_minmax_refresh = OpQuery(
    "ivm_minmax_refresh",
    """WITH base AS (
      |  SELECT o.o_orderkey, c.c_mktsegment AS g,
      |         CAST(o.o_totalprice AS DECIMAL(18,2)) AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE o.o_orderkey % 10 < 6 AND o.o_orderkey % 3 <> 0
      |)
      |SELECT g, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(MIN(v) AS DOUBLE) AS min_v,
      |       CAST(MAX(v) AS DOUBLE) AS max_v
      |FROM base GROUP BY g ORDER BY g""".stripMargin) { (spark, dir) =>
    // the v0 and v1 base writes both slice this join — freeze it once
    // (lazy; the v0 write populates the cache) instead of re-running
    // the orders⋈customer join per generation write
    val joined = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("g"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
      .transform(Freeze.lazily)
    val root = graft.queries.GateScratch.dir("graft-ivmm-gate-").toString
    val store = new TableStore(spark, root, retainVersions = 5)
    store.overwrite("base", joined.filter(col("o_orderkey") % 10 < 4))
    store.overwrite("mm",
      IncrementalAgg.fullMinMax(store.read("base"), Seq("g"), "v"))
    // v1: widen the slice (inserts) AND delete every 3rd order key —
    // some deletions hit per-segment extrema, forcing targeted rescans
    store.overwrite("base",
      joined.filter(col("o_orderkey") % 10 < 6 && col("o_orderkey") % 3 =!= 0))
    IncrementalAgg.refreshMinMax(
      store, "mm", "base", 0, 1, Seq("g"), "v")
    store.read("mm")
      .select(col("g"), col("n_rows"),
        col("min_v").cast("double").as("min_v"),
        col("max_v").cast("double").as("max_v"))
      .orderBy(col("g"))
  }

  val scd2_asof_enrichment = OpQuery(
    "scd2_asof_enrichment",
    """WITH versions AS (
      |  SELECT c.c_custkey AS k, v.v AS v,
      |         1995 + v.v AS valid_from,
      |         (c.c_custkey + v.v * 7) % 5 AS attr
      |  FROM customer c, (SELECT unnest([0, 1, 2]) AS v) v
      |  WHERE v.v <= c.c_custkey % 3
      |), facts AS (
      |  SELECT o_orderkey, o_custkey AS k,
      |         CAST(strftime(o_orderdate, '%Y') AS INT) AS event_year
      |  FROM orders WHERE o_orderkey % 7 = 0
      |), picked AS (
      |  SELECT f.o_orderkey, f.k, f.event_year,
      |         MAX(ver.valid_from) AS vf
      |  FROM facts f LEFT JOIN versions ver
      |    ON ver.k = f.k AND ver.valid_from <= f.event_year
      |  GROUP BY 1, 2, 3
      |)
      |SELECT p.o_orderkey, p.event_year,
      |       CAST(ver.attr AS BIGINT) AS asof_attr,
      |       CAST(p.vf AS INT) AS asof_valid_from
      |FROM picked p LEFT JOIN versions ver
      |  ON ver.k = p.k AND ver.valid_from = p.vf
      |ORDER BY p.o_orderkey""".stripMargin) { (spark, dir) =>
    val versions = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("k"),
        explode(sequence(lit(0L), col("c_custkey") % 3)).as("v"))
      .select(col("k"),
        (lit(1995) + col("v")).cast("int").as("valid_from"),
        ((col("k") + col("v") * 7) % 5).cast("long").as("attr"))
    val facts = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("k"),
        year(col("o_orderdate")).cast("int").as("event_year"))
    AsOfJoin.asOf(facts, versions, keys = Seq("k"),
        leftTime = "event_year", rightTime = "valid_from")
      .select(col("o_orderkey"), col("event_year"),
        col("asof_attr"),
        col("asof_valid_from").cast("int").as("asof_valid_from"))
      .orderBy(col("o_orderkey"))
  }

  val occ_disjoint_writers = OpQuery(
    "occ_disjoint_writers",
    """WITH final AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 'X'
      |              ELSE o_orderstatus END AS st
      |  FROM orders
      |  WHERE o_orderpriority <> '5-LOW' OR o_orderkey % 2 = 0)
      |SELECT o_orderpriority,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM final
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    val scratch = graft.queries.GateScratch.dir("graft-occ-gate-")
    val store = new TableStore(spark, scratch.toString)
    val occ = new OptimisticWriter(store)
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"))
    store.overwrite("orders_mw", orders, partitionBy = Seq("o_orderpriority"))

    // three writers snapshot the SAME version before any commit lands
    val urgent = occ.begin("orders_mw")
    val low = occ.begin("orders_mw")
    val stale = occ.begin("orders_mw")

    // writer 1: flag every urgent order
    occ.commitReplacePartitions(urgent,
      orders.filter(col("o_orderpriority") === "1-URGENT")
        .withColumn("o_orderstatus", lit("X")),
      "o_orderpriority", Seq("1-URGENT"))
    // writer 2: thin the low-priority partition — DISJOINT from writer
    // 1, so it must rebase and commit even though the table advanced
    occ.commitReplacePartitions(low,
      orders.filter(col("o_orderpriority") === "5-LOW" &&
        col("o_orderkey") % 2 === 0),
      "o_orderpriority", Seq("5-LOW"))
    // writer 3: a stale full-table overwrite must ABORT (it read v0,
    // two commits landed since) and leave no trace
    val aborted =
      try { occ.commitOverwrite(stale, orders.limit(1)); false }
      catch { case _: ConcurrentWriteException => true }
    require(aborted, "stale full-table overwrite must conflict")

    store.read("orders_mw")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum(when(col("o_orderstatus") === "X", 1).otherwise(0))
          .cast("long").as("n_flagged"),
        sum(col("o_orderkey")).cast("long").as("key_sum"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bloom-sidecar point lookup ([[graft.operators.TableStore
    * .analyzeBloomColumn]] / `readPrunedEquals`): the equality-predicate
    * counterpart to the min/max zone maps — `column = v` schedules only
    * the files whose per-file bloom might contain v. The gate runs the
    * FULL lifecycle (range-clustered write, ANALYZE, pruned read) and
    * must return exactly the plain filter's rows — pruning is invisible
    * in results (no false negatives by the bloom contract); the actual
    * file-count reduction and stats-shedding discipline are pinned in
    * BloomSkipSpec.
    */
  val s54_bloom_point_lookup = OpQuery(
    "s54_bloom_point_lookup",
    """SELECT o_orderkey, o_custkey,
      |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      |FROM orders WHERE o_custkey = 371
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import graft.operators.TableStore
    val root = graft.queries.GateScratch.dir("graft-bloomskip-").toString
    val store = new TableStore(spark, root)
    store.overwrite("orders_bl",
      Tables.load(spark, dir, "orders")
        .repartitionByRange(16, col("o_custkey")))
    store.analyzeBloomColumn("orders_bl", "o_custkey", expectedPerFile = 100000L)
    store.readPrunedEquals("orders_bl", "o_custkey", 371L)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(12,2)").cast("double").as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** Delta deletion-vector read (VERDICT r11 item 7): stock engines'
    * DELETE increasingly writes DVs instead of rewriting files, and
    * [[graft.operators.DeltaImport]] refused them loudly — a real
    * migration user hits the refusal on day one. The gate FORGES a
    * stock-shaped reader-version-3 table (two parquet data files; a
    * second commit re-adds both with deletion vectors marking every
    * `doc_id % 7 = 3` row — one DV as an on-disk `deletion_vector_
    * <uuid>.bin` with z85-uuid "u" addressing, the other inline "i"),
    * then reads it back through the protocol-level importer. The oracle
    * is the logical table: documents minus the deleted predicate — so
    * the bitmap serialization, z85 path derivation, CRC framing, and
    * row-index anti-join must ALL be exactly right for the hash to
    * match.
    */
  val s51_delta_import_dv: OpQuery = OpQuery(
    "s51_delta_import_dv",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE NOT (doc_id % 7 = 3)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import java.nio.file.Files
    import graft.operators.{DeletionVectors, DeltaImport}
    val scratch = GateScratch.dir("graft-delta-dv-")
    val table = scratch.resolve("tbl")
    Files.createDirectories(table.resolve("_delta_log"))
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

    // one sorted single-file slice per parity; returns (fileName,
    // deleted positions within the file's row order, file size)
    def forgeFile(parity: Int): (String, Array[Long], Long) = {
      val name = s"part-dv$parity.parquet"
      val slice = docs.filter(col("doc_id") % 2 === parity)
        .repartition(1).sortWithinPartitions("doc_id")
      val tmp = scratch.resolve(s"tmp$parity")
      slice.write.mode("overwrite").parquet(tmp.toString)
      import scala.collection.JavaConverters._
      val listing = Files.list(tmp)
      val found = try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
      val target = table.resolve(name)
      Files.move(found, target)
      // row i of the file is the i-th doc_id in ascending order (the
      // slice was written sorted from one task); positions of the
      // deleted predicate — bounded collect, fixture-sized
      val ids = slice.select("doc_id").collect().map(_.getLong(0)).sorted
      val deleted = ids.zipWithIndex
        .collect { case (id, i) if id % 7 == 3 => i.toLong }
      (name, deleted, Files.size(target))
    }
    val (nameA, delA, sizeA) = forgeFile(0)
    val (nameB, delB, sizeB) = forgeFile(1)

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val schemaJson = jstr(docs.schema.json)

    // commit 0: plain reader-v1 table with both adds
    Files.write(table.resolve("_delta_log/00000000000000000000.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"f00d0000-0000-4000-8000-000000000012","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{},"createdTime":0}}""",
        s"""{"add":{"path":"$nameA","partitionValues":{},"size":$sizeA,"modificationTime":0,"dataChange":true}}""",
        s"""{"add":{"path":"$nameB","partitionValues":{},"size":$sizeB,"modificationTime":0,"dataChange":true}}""")
        .mkString("", "\n", "\n")).getBytes("UTF-8"))

    // commit 1: protocol upgrade to v3/deletionVectors; both files
    // re-added with DVs — "u" (on-disk, z85-uuid path) and "i" (inline)
    val (dvPathA, offA) = DeletionVectors.writeFile(table, delA)
    val dvDataA = DeletionVectors.serialize(delA)
    val dvDataB = DeletionVectors.serialize(delB)
    val padB = dvDataB ++ Array.fill((4 - dvDataB.length % 4) % 4)(0.toByte)
    val inlineB = DeletionVectors.z85Encode(padB)
    Files.write(table.resolve("_delta_log/00000000000000000001.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        s"""{"remove":{"path":"$nameA","deletionTimestamp":1,"dataChange":true}}""",
        s"""{"add":{"path":"$nameA","partitionValues":{},"size":$sizeA,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"$dvPathA","offset":$offA,"sizeInBytes":${dvDataA.length},"cardinality":${delA.length}}}}""",
        s"""{"remove":{"path":"$nameB","deletionTimestamp":1,"dataChange":true}}""",
        s"""{"add":{"path":"$nameB","partitionValues":{},"size":$sizeB,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inlineB","sizeInBytes":${dvDataB.length},"cardinality":${delB.length}}}}""")
        .mkString("", "\n", "\n")).getBytes("UTF-8"))

    DeltaImport.read(spark, table.toString)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Iceberg v2 merge-on-read position deletes — the
    * [[s51_delta_import_dv]] twin for the other open table format: a
    * TableStore table exports as Iceberg ([[graft.operators
    * .IcebergExport]]), a DELETE lands as a position-delete snapshot
    * (`appendPositionDeletes` — delete parquet + content-1 manifest +
    * new manifest list, no data file rewritten), and the
    * protocol-level reader serves the table MINUS the deleted
    * positions. The oracle is the logical filter, so the delete-file
    * schema, manifest content codes, sequence-number scoping, and the
    * row-index anti-join must all be exact. An in-gate REQUIRE pins
    * time travel: the pre-delete snapshot still serves every row.
    */
  val s52_iceberg_import_mor: OpQuery = OpQuery(
    "s52_iceberg_import_mor",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE NOT (doc_id % 5 = 2)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{IcebergExport, IcebergImport, TableStore}
    val scratch = GateScratch.dir("graft-iceberg-mor-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    store.overwrite("mor", docs)
    val exported = IcebergExport.exportTable(
      store, "mor", scratch.resolve("ice").toString)
    // (file, position) of every to-delete row, off the scan metadata —
    // bounded fixture collect (the deleted slice of documents)
    val withPos = spark.read.parquet(s"$exported/data/*")
      .select(col("doc_id"),
        regexp_replace(url_decode(expr("_metadata.file_path")), "^file:/*", "/")
          .as("f"),
        expr("_metadata.row_index").as("p"))
      .filter(col("doc_id") % 5 === 2)
      .collect()
    val byFile = withPos.groupBy(_.getString(1)).toSeq
      .map { case (f, rs) => f -> rs.map(_.getLong(2)).toSeq }
    val before = docs.count()
    IcebergExport.appendPositionDeletes(spark, exported.toString, byFile)
    // time travel REQUIRE: the pre-delete snapshot is untouched
    val origSnap = IcebergImport.snapshots(spark, exported.toString)
      .minBy(_._2)._1
    val preCount = IcebergImport.read(spark, exported.toString, Some(origSnap)).count()
    require(preCount == before,
      s"s52: pre-delete snapshot serves $preCount of $before rows — " +
        "the MOR append rewrote history")
    IcebergImport.read(spark, exported.toString)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Iceberg v2 EQUALITY deletes (the Flink-CDC shape — one row per
    * deleted KEY, no file or position named): the keys of every
    * `doc_id % 17 = 0` document land in an equality-delete snapshot on
    * (lang, source), and the reader must drop every row matching any
    * key null-safely, scoped strictly below the delete's sequence
    * number. Oracle: the NOT EXISTS form of the same key filter
    * (null-robust, unlike NOT IN). The in-gate REQUIRE again pins
    * pre-delete time travel.
    */
  val s53_iceberg_import_eqdel: OpQuery = OpQuery(
    "s53_iceberg_import_eqdel",
    """SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
      |FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM documents k
      |                  WHERE k.doc_id % 17 = 0
      |                    AND k.lang IS NOT DISTINCT FROM d.lang
      |                    AND k.source IS NOT DISTINCT FROM d.source)
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{IcebergExport, IcebergImport, TableStore}
    val scratch = GateScratch.dir("graft-iceberg-eq-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    store.overwrite("eq", docs)
    val exported = IcebergExport.exportTable(
      store, "eq", scratch.resolve("ice").toString)
    val keys = docs.filter(col("doc_id") % 17 === 0)
      .select(col("lang"), col("source"))
    IcebergExport.appendEqualityDeletes(
      spark, exported.toString, keys, Seq("lang", "source"))
    val origSnap = IcebergImport.snapshots(spark, exported.toString)
      .minBy(_._2)._1
    val preCount = IcebergImport.read(spark, exported.toString, Some(origSnap)).count()
    require(preCount == docs.count(),
      s"s53: pre-delete snapshot serves $preCount rows — history rewritten")
    IcebergImport.read(spark, exported.toString)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Delta deletion-vector ROUND TRIP through the engine's own two
    * halves: [[graft.operators.DeltaExport.appendDeletionVectors]]
    * writes the DELETE commit (protocol upgrade + remove/re-add with a
    * z85-uuid DV file per touched data file — no data rewritten) and
    * [[graft.operators.DeltaImport]] reads it back. `s51` proves the
    * reader against a foreign-shaped forge (incl. inline DVs); this
    * proves the WRITE path emits what the reader (and any stock
    * DV-aware reader) consumes, plus time travel across the DV commit.
    */
  val s54_delta_dv_roundtrip: OpQuery = OpQuery(
    "s54_delta_dv_roundtrip",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE NOT (doc_id % 9 = 4)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{DeltaExport, DeltaImport, TableStore}
    val scratch = GateScratch.dir("graft-delta-dvrt-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    store.overwrite("rt", docs)
    val exported = DeltaExport.exportTable(
      store, "rt", scratch.resolve("delta").toString)
    // table-root-relative (file, position) pairs of the doomed rows
    val exp = exported.toString
    val pos = spark.read.parquet(s"$exp/gen-*")
      .select(col("doc_id"),
        regexp_replace(url_decode(expr("_metadata.file_path")), "^file:/*", "/")
          .as("f"),
        expr("_metadata.row_index").as("p"))
      .filter(col("doc_id") % 9 === 4)
      .collect()
    val root = java.nio.file.Paths.get(exp).toAbsolutePath.normalize.toString
    val byFile = pos.groupBy(_.getString(1)).toSeq.map { case (f, rs) =>
      f.stripPrefix(root + "/") -> rs.map(_.getLong(2)).toSeq
    }
    DeltaExport.appendDeletionVectors(exp, byFile)
    // time travel REQUIRE: the pre-delete version still serves all rows
    val prevV = DeltaImport.versions(exp).dropRight(1).last
    val preCount = DeltaImport.read(spark, exp, Some(prevV)).count()
    require(preCount == docs.count(),
      s"s54: pre-delete version serves $preCount rows — history rewritten")
    DeltaImport.read(spark, exp)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val docCols = Seq("doc_id", "lang", "source", "n_chars")

  private def docSelect(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars").cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))

  /** (table-root-relative file → row positions) of the rows matching
    * `pred` in a Delta export — the coordinates a DV names.
    */
  private def dvTargets(spark: org.apache.spark.sql.SparkSession,
      exp: String, pred: org.apache.spark.sql.Column): Seq[(String, Seq[Long])] = {
    val root = java.nio.file.Paths.get(exp).toAbsolutePath.normalize.toString
    spark.read.parquet(s"$exp/gen-*")
      .select(col("doc_id"),
        regexp_replace(url_decode(expr("_metadata.file_path")), "^file:/*", "/")
          .as("f"),
        expr("_metadata.row_index").as("p"))
      .filter(pred)
      .collect()
      .groupBy(_.getString(1)).toSeq
      .map { case (f, rs) => f.stripPrefix(root + "/") -> rs.map(_.getLong(2)).toSeq }
  }

  /** Delta CHECKPOINT round trip with deletion vectors (VERDICT r12
    * item 3): [[graft.operators.DeltaExport.writeCheckpoint]] writes a
    * MULTI-PART parquet checkpoint (+`_last_checkpoint`) after a DV
    * DELETE commit, the gate then physically DELETES every JSON commit
    * at-or-below it — the metadata-retention lifecycle — and
    * [[graft.operators.DeltaImport]] must reconstruct the state (live
    * adds, schema, protocol, DV descriptors) from the checkpoint alone.
    * A reader that lost the DV descriptor through the checkpoint would
    * resurrect the deleted rows and hash-fail here.
    */
  val s55_delta_checkpoint_dv: OpQuery = OpQuery(
    "s55_delta_checkpoint_dv",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE NOT (doc_id % 13 = 4)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{DeltaExport, DeltaImport}
    import java.nio.file.{Files, Paths}
    val scratch = GateScratch.dir("graft-delta-cp-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("cp", docs)
    val exp = DeltaExport.exportTable(
      store, "cp", scratch.resolve("delta").toString).toString
    DeltaExport.appendDeletionVectors(exp,
      dvTargets(spark, exp, col("doc_id") % 13 === 4))
    DeltaExport.writeCheckpoint(spark, exp, version = 1L, parts = 2)
    // retention sweep: the JSON history at-or-below the checkpoint goes
    // away — the import below has ONLY the checkpoint to work from
    val logDir = Paths.get(exp, "_delta_log")
    val removed = (0L to 1L).map(v => f"$v%020d.json")
      .count(n => Files.deleteIfExists(logDir.resolve(n)))
    require(removed == 2, s"s55: expected to delete 2 JSON commits, got $removed")
    val vs = DeltaImport.versions(exp)
    require(vs == Seq(1L),
      s"s55: checkpoint floor should be the only readable version, got $vs")
    docSelect(DeltaImport.read(spark, exp))
  }

  /** REORG ... APPLY (PURGE) for the deletion-vector era (VERDICT r12
    * item 4): after a DV DELETE, [[graft.operators.DeltaReorg.purge]]
    * rewrites every DV-bearing file minus its deleted rows and commits
    * clean adds. Pinned three ways: the purge touches exactly the
    * DV-bearing files, a second purge finds NOTHING to do (DV count is
    * zero), and the table reads row-identical before and after — the
    * oracle hashes the logical table, which the reorg must not change.
    */
  val s56_dv_reorg: OpQuery = OpQuery(
    "s56_dv_reorg",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE NOT (doc_id % 11 = 2)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{DeltaExport, DeltaImport, DeltaReorg}
    val scratch = GateScratch.dir("graft-delta-reorg-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("rg", docs)
    val exp = DeltaExport.exportTable(
      store, "rg", scratch.resolve("delta").toString).toString
    val targets = dvTargets(spark, exp, col("doc_id") % 11 === 2)
    DeltaExport.appendDeletionVectors(exp, targets)
    val pre = DeltaImport.read(spark, exp).transform(Freeze.eager)
    val purged = DeltaReorg.purge(spark, exp)
    require(purged == targets.size,
      s"s56: purged $purged files, expected ${targets.size} DV-bearing ones")
    require(DeltaReorg.purge(spark, exp) == 0,
      "s56: a second purge still found deletion vectors — purge left DVs live")
    // both diff directions ride ONE action (the old two-count form
    // replayed the Delta log + scan per direction); a lazy checkpoint
    // of `post` was tried and measured flat (0.98x) — not kept
    val post = DeltaImport.read(spark, exp)
    val diff = post.exceptAll(pre).union(pre.exceptAll(post)).count()
    require(diff == 0,
      s"s56: reorg changed the logical table by $diff rows")
    docSelect(post)
  }

  /** Iceberg v2 sequence-number INHERITANCE (VERDICT r12 item 3): the
    * delete manifest's entries carry NULL sequence numbers — the spec's
    * inheritance form, what real writers emit for entries added in the
    * manifest's own snapshot — and the reader must resolve them from
    * the manifest-list entry before the position-delete scoping rule
    * (`dseq >= fseq`) can fire. A reader that defaulted null to 0 would
    * scope the delete below every data file and serve the deleted rows.
    */
  val s57_iceberg_seq_inherit: OpQuery = OpQuery(
    "s57_iceberg_seq_inherit",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE NOT (doc_id % 13 = 0)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{IcebergExport, IcebergImport}
    val scratch = GateScratch.dir("graft-iceberg-inherit-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("inh", docs)
    val exported = IcebergExport.exportTable(
      store, "inh", scratch.resolve("ice").toString)
    val withPos = IcebergImport.read(spark, exported.toString)
      .select(col("doc_id"),
        regexp_replace(url_decode(expr("_metadata.file_path")), "^file:/*", "/")
          .as("f"),
        expr("_metadata.row_index").as("p"))
      .filter(col("doc_id") % 13 === 0)
      .collect()
    val byFile = withPos.groupBy(_.getString(1)).toSeq
      .map { case (f, rs) => f -> rs.map(_.getLong(2)).toSeq }
    IcebergExport.appendPositionDeletes(spark, exported.toString, byFile,
      inheritSequence = true)
    val origSnap = IcebergImport.snapshots(spark, exported.toString)
      .minBy(_._2)._1
    val preCount = IcebergImport.read(spark, exported.toString, Some(origSnap)).count()
    require(preCount == docs.count(),
      s"s57: pre-delete snapshot serves $preCount rows — history rewritten")
    docSelect(IcebergImport.read(spark, exported.toString))
  }

  /** Iceberg same-sequence DELETE-AND-REINSERT (the CDC upsert — the
    * corner the v2 strict-below rule exists for): ONE snapshot at
    * sequence N carries an equality delete on (lang, source) keys AND a
    * new data file re-inserting half the matching rows. Old versions of
    * the keys (data sequence < N) die; the reinserted file (data
    * sequence = N, inherited from its manifest) survives. Both
    * manifests use null entry sequences, so inheritance is on the read
    * path twice.
    */
  val s58_iceberg_upsert_seq: OpQuery = OpQuery(
    "s58_iceberg_upsert_seq",
    """WITH k AS (SELECT DISTINCT lang, source FROM documents WHERE doc_id % 19 = 0)
      |SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
      |FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM k
      |                  WHERE k.lang IS NOT DISTINCT FROM d.lang
      |                    AND k.source IS NOT DISTINCT FROM d.source)
      |UNION ALL
      |SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
      |FROM documents d
      |WHERE EXISTS (SELECT 1 FROM k
      |              WHERE k.lang IS NOT DISTINCT FROM d.lang
      |                AND k.source IS NOT DISTINCT FROM d.source)
      |  AND d.doc_id % 2 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{IcebergExport, IcebergImport}
    val scratch = GateScratch.dir("graft-iceberg-upsert-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("ups", docs)
    val exported = IcebergExport.exportTable(
      store, "ups", scratch.resolve("ice").toString)
    val keys = docs.filter(col("doc_id") % 19 === 0)
      .select(col("lang"), col("source")).distinct().transform(Freeze.eager)
    val reinsert = docs.join(keys,
        docs("lang") <=> keys("lang") && docs("source") <=> keys("source"),
        "left_semi")
      .filter(col("doc_id") % 2 === 0)
      .transform(Freeze.eager)
    require(reinsert.count() > 0, "s58: empty reinsert slice — fixture broke")
    IcebergExport.appendEqualityUpsert(
      spark, exported.toString, keys, Seq("lang", "source"), reinsert)
    val origSnap = IcebergImport.snapshots(spark, exported.toString)
      .minBy(_._2)._1
    val preCount = IcebergImport.read(spark, exported.toString, Some(origSnap)).count()
    require(preCount == docs.count(),
      s"s58: pre-upsert snapshot serves $preCount rows — history rewritten")
    val served = IcebergImport.read(spark, exported.toString)
    // the reinserted rows MUST be present — a `<=` scoping bug or an
    // inheritance default-to-0 would silently drop them
    val missing = reinsert.select(col("doc_id"))
      .join(served.select(col("doc_id")), Seq("doc_id"), "left_anti").count()
    require(missing == 0,
      s"s58: $missing reinserted rows were deleted by their own snapshot's eq-delete")
    docSelect(served)
  }

  /** Iceberg EXPIRE SNAPSHOTS — the metadata-retention twin of s55's
    * Delta checkpoint cleanup: three table generations export as three
    * snapshots, `expireSnapshots(keep = 1)` prunes the two old ones
    * from metadata and physically deletes their manifest lists,
    * unshared manifests, and unreferenced data files. Pinned: the
    * CURRENT state reads identically (the oracle), exactly 2 snapshots
    * expired, time travel to an expired snapshot refuses loudly, and
    * the expired snapshots' data bytes are really gone from disk
    * (hardlink-backed, so the space claim is real).
    */
  val s59_iceberg_expire: OpQuery = OpQuery(
    "s59_iceberg_expire",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE NOT (doc_id % 5 = 0)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{IcebergExport, IcebergImport}
    val scratch = GateScratch.dir("graft-iceberg-expire-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("exp", docs)
    store.overwrite("exp", docs.filter(col("doc_id") % 3 =!= 0))
    store.overwrite("exp", docs.filter(col("doc_id") % 5 =!= 0))
    val exported = IcebergExport.exportTable(
      store, "exp", scratch.resolve("ice").toString)
    val snapsBefore = IcebergImport.snapshots(spark, exported.toString)
    require(snapsBefore.size == 3,
      s"s59: expected 3 exported snapshots, got ${snapsBefore.size}")
    val oldest = snapsBefore.minBy(_._2)._1
    def dataBytes(): Long = {
      val s = java.nio.file.Files.walk(exported)
      try {
        import scala.collection.JavaConverters._
        s.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size(_)).sum
      } finally s.close()
    }
    val bytesBefore = dataBytes()
    val expired = IcebergExport.expireSnapshots(exported.toString, keep = 1)
    require(expired == 2, s"s59: expired $expired snapshots, expected 2")
    require(IcebergImport.snapshots(spark, exported.toString).size == 1,
      "s59: metadata still lists expired snapshots")
    require(dataBytes() < bytesBefore,
      "s59: expiry deleted no data bytes — orphan cleanup is a no-op")
    val refused = try {
      IcebergImport.read(spark, exported.toString, Some(oldest)).count(); false
    } catch { case _: IllegalArgumentException => true }
    require(refused, "s59: time travel to an expired snapshot still served rows")
    docSelect(IcebergImport.read(spark, exported.toString))
  }

  /** Delta time travel BY TIMESTAMP (`timestampAsOf`): three table
    * generations export as three commits whose `commitInfo.timestamp`s
    * the gate pins to a deliberately NON-monotonic wall clock (1000,
    * 3000, 2000 — a skewed second writer). The reader must apply stock
    * Delta's monotonicity adjustment (`ts(v)=max(ts(v),ts(v-1)+1)` →
    * 1000, 3000, 3001) before resolving: a reader comparing raw clocks
    * would serve the LATEST version for asOf(2500) (version 2's raw
    * 2000 <= 2500) instead of version 0, silently showing a future
    * state. Pinned: asOf(2500)→v0, asOf(3000)→v1 (the oracle),
    * asOf(now)→v2, and a timestamp before the first commit refuses
    * loudly.
    */
  val s60_delta_timestamp_as_of: OpQuery = OpQuery(
    "s60_delta_timestamp_as_of",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE NOT (doc_id % 3 = 0)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{DeltaExport, DeltaImport}
    import java.nio.file.{Files, Paths}
    val scratch = GateScratch.dir("graft-delta-tts-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("tt", docs)
    store.overwrite("tt", docs.filter(col("doc_id") % 3 =!= 0))
    store.overwrite("tt", docs.filter(col("doc_id") % 5 =!= 0))
    val exp = DeltaExport.exportTable(
      store, "tt", scratch.resolve("delta").toString).toString
    // pin each commit's in-commit timestamp; version 2's clock runs
    // BEHIND version 1's (skewed writer) to exercise the adjustment
    val logDir = Paths.get(exp, "_delta_log")
    Seq(0L -> 1000L, 1L -> 3000L, 2L -> 2000L).foreach { case (v, ts) =>
      val p = logDir.resolve(f"$v%020d.json")
      val patched = Files.readString(p).replaceFirst(
        """("commitInfo":\{"timestamp":)\d+""", "$1" + ts)
      Files.writeString(p, patched)
    }
    val adjusted = DeltaImport.commitTimestamps(spark, exp)
    require(adjusted.map(_._2) == Seq(1000L, 3000L, 3001L),
      s"s60: monotonicity adjustment wrong: $adjusted")
    val full = docs.count()
    require(DeltaImport.readAsOfTimestamp(spark, exp, 2500L).count() == full,
      "s60: asOf(2500) must serve version 0 — raw-clock resolution leaked a future state")
    require(DeltaImport.readAsOfTimestamp(spark, exp, 3001L).count() ==
      docs.filter(col("doc_id") % 5 =!= 0).count(),
      "s60: asOf(3001) must serve the current version")
    val refused = try {
      DeltaImport.readAsOfTimestamp(spark, exp, 999L); false
    } catch { case _: IllegalArgumentException => true }
    require(refused, "s60: a timestamp before the first commit must refuse")
    docSelect(DeltaImport.readAsOfTimestamp(spark, exp, 3000L))
  }

  /** Iceberg ADD-COLUMN schema evolution:
    * [[graft.operators.IcebergExport.appendEvolvedColumns]] commits a
    * snapshot whose data file carries a NEW trailing column under an
    * evolved schema (next schema-id, fresh field-id — existing ids
    * never move), and the reader must (a) null-fill the added column
    * for pre-evolution data files and (b) serve the OLD shape when
    * time-traveling to a pre-evolution snapshot (each snapshot names
    * its own schema-id). A reader pinned to the current schema would
    * grow a phantom column in the old snapshot; one resolving
    * positionally instead of by schema would misalign the evolved
    * file's columns and hash-fail.
    */
  val s61_iceberg_schema_evolution: OpQuery = OpQuery(
    "s61_iceberg_schema_evolution",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
      |       CAST(NULL AS BIGINT) AS extra_tokens
      |FROM documents
      |UNION ALL
      |SELECT doc_id + 10000000, lang, source, CAST(n_chars AS BIGINT),
      |       CAST(n_chars * 2 AS BIGINT)
      |FROM documents WHERE doc_id % 9 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{IcebergExport, IcebergImport}
    val scratch = GateScratch.dir("graft-iceberg-evolve-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("ev", docs)
    val exp = IcebergExport.exportTable(
      store, "ev", scratch.resolve("ice").toString).toString
    val preSnap = IcebergImport.snapshots(spark, exp).maxBy(_._2)._1
    val evolvedRows = docs.filter(col("doc_id") % 9 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000)
      .withColumn("extra_tokens", (col("n_chars") * 2).cast("bigint"))
    IcebergExport.appendEvolvedColumns(spark, exp, evolvedRows)
    // time travel to the pre-evolution snapshot serves the OLD shape
    val old = IcebergImport.read(spark, exp, Some(preSnap))
    require(!old.columns.contains("extra_tokens"),
      "s61: pre-evolution snapshot grew a phantom evolved column")
    require(old.count() == docs.count(),
      "s61: pre-evolution snapshot row count changed")
    val now = IcebergImport.read(spark, exp)
    require(now.columns.last == "extra_tokens",
      s"s61: evolved column missing from current read: ${now.columns.mkString(",")}")
    now.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars").cast("bigint").as("n_chars"),
      col("extra_tokens").cast("bigint").as("extra_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Delta VACUUM — the data-file-retention lifecycle (s59's Iceberg
    * expire, Delta side): after three overwrite generations and a DV
    * DELETE, [[graft.operators.DeltaVacuum.vacuum]] at retention-0
    * deletes exactly the tombstoned old-generation files while keeping
    * every live add AND the live deletion-vector file. Pinned: a
    * within-retention vacuum deletes NOTHING (the tombstone clock is
    * honored), the logical table reads identically after the purge
    * (the oracle), the DV file survives, a second vacuum finds nothing,
    * and time travel to a vacuumed version fails instead of serving a
    * partial table.
    */
  val s62_delta_vacuum: OpQuery = OpQuery(
    "s62_delta_vacuum",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE NOT (doc_id % 5 = 0) AND NOT (doc_id % 7 = 3)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{DeltaExport, DeltaImport, DeltaVacuum}
    import java.nio.file.{Files, Paths}
    val scratch = GateScratch.dir("graft-delta-vacuum-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("vc", docs)
    store.overwrite("vc", docs.filter(col("doc_id") % 3 =!= 0))
    store.overwrite("vc", docs.filter(col("doc_id") % 5 =!= 0))
    val currentGen = f"gen-v${store.currentVersion("vc")}%05d"
    val exp = DeltaExport.exportTable(
      store, "vc", scratch.resolve("delta").toString).toString
    // DV DELETE on the CURRENT generation only (old gens aren't live)
    val targets = dvTargets(spark, exp, col("doc_id") % 7 === 3)
      .filter(_._1.startsWith(currentGen))
    require(targets.nonEmpty, "s62: no DV targets in the current generation")
    DeltaExport.appendDeletionVectors(exp, targets)
    def files(prefix: String): Seq[java.nio.file.Path] = {
      val w = Files.walk(Paths.get(exp))
      try {
        import scala.collection.JavaConverters._
        w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          Paths.get(exp).relativize(p).toString.startsWith(prefix)).toList
      } finally w.close()
    }
    val oldGenFiles = files("gen-").filterNot(p =>
      Paths.get(exp).relativize(p).toString.startsWith(currentGen))
    require(oldGenFiles.nonEmpty, "s62: no old-generation files to vacuum")
    val now = System.currentTimeMillis()
    // within the retention window the tombstones are too fresh to collect
    require(DeltaVacuum.vacuum(exp, 7L * 24 * 3600 * 1000, now) == 0,
      "s62: a within-retention vacuum deleted files")
    val n = DeltaVacuum.vacuum(exp, 0L, now + 60000)
    require(n == oldGenFiles.size,
      s"s62: vacuumed $n files, expected the ${oldGenFiles.size} old-gen ones")
    require(DeltaVacuum.vacuum(exp, 0L, now + 60000) == 0,
      "s62: a second vacuum still found files")
    require(files("deletion_vector_").nonEmpty,
      "s62: the LIVE deletion-vector file was collected")
    val timeTravelFails = try {
      DeltaImport.read(spark, exp, Some(0L)).count(); false
    } catch { case _: Throwable => true }
    require(timeTravelFails,
      "s62: time travel to a vacuumed version served rows from deleted files")
    docSelect(DeltaImport.read(spark, exp))
  }

  /** Iceberg DERIVED partition transforms (bucket / truncate): a table
    * whose default spec buckets `doc_id` and truncates `lang` must read
    * correctly — the derived partition values are IGNORED (the source
    * columns live in the data files; only identity transforms need
    * reattachment) after a footer probe proves the source columns are
    * really there. An unknown transform still refuses loudly. The
    * fixture patches an exported table's spec — the manifest shape real
    * writers produce after a spec evolution on existing manifests.
    */
  val s63_iceberg_bucket_transform: OpQuery = OpQuery(
    "s63_iceberg_bucket_transform",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{IcebergExport, IcebergImport}
    import java.nio.file.{Files, Paths}
    val scratch = GateScratch.dir("graft-iceberg-bucket-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("bk", docs)
    val exp = IcebergExport.exportTable(
      store, "bk", scratch.resolve("ice").toString).toString
    val mdFile = Paths.get(exp, "metadata", "v1.metadata.json")
    val plainSpec = """"partition-specs": [{"spec-id": 0, "fields": []}]"""
    val md = Files.readString(mdFile)
    require(md.contains(plainSpec), "s63: unexpected exported spec layout")
    // field ids are position+1 in the exported schema: doc_id=1, lang=2
    def withSpec(fields: String): Unit = Files.writeString(mdFile,
      md.replace(plainSpec,
        s""""partition-specs": [{"spec-id": 0, "fields": [$fields]}]"""))
    withSpec(
      """{"name": "doc_id_bucket", "transform": "bucket[4]", "source-id": 1, "field-id": 1000},
        | {"name": "lang_trunc", "transform": "truncate[2]", "source-id": 2, "field-id": 1001}"""
        .stripMargin.replace("\n", ""))
    val read = IcebergImport.read(spark, exp)
    require(read.count() == docs.count(),
      "s63: bucketed table read lost rows")
    require(!read.columns.contains("doc_id_bucket"),
      "s63: a derived partition value leaked into the schema")
    // unknown transforms must refuse, never guess
    withSpec("""{"name": "z", "transform": "zorder", "source-id": 1, "field-id": 1000}""")
    val refused = try { IcebergImport.read(spark, exp).count(); false }
    catch { case _: IllegalArgumentException => true }
    require(refused, "s63: an unknown partition transform was silently served")
    withSpec(
      """{"name": "doc_id_bucket", "transform": "bucket[4]", "source-id": 1, "field-id": 1000}""")
    docSelect(IcebergImport.read(spark, exp))
  }

  /** Delta COLUMN MAPPING (name mode) — the modern-writer shape this
    * reader previously refused: parquet files and `partitionValues`
    * keys carry PHYSICAL names (`col-*`), the schemaString's per-field
    * `delta.columnMapping.physicalName` metadata maps them back, and
    * the DataFrame speaks logical names. The fixture is a handcrafted
    * stock-shaped log (protocol 2/5, mode=name, lang-partitioned with a
    * physical partitionValues key — the spec's writer requirement).
    * ID mode (parquet field-id resolution) still refuses loudly.
    */
  val s64_delta_column_mapping: OpQuery = OpQuery(
    "s64_delta_column_mapping",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.DeltaImport
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    import scala.collection.JavaConverters._
    val scratch = GateScratch.dir("graft-delta-cm-")
    val table = scratch.resolve("table")
    Files.createDirectories(table.resolve("_delta_log"))
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    val physOf = Map("doc_id" -> "col-d0", "lang" -> "col-l1",
      "source" -> "col-s2", "n_chars" -> "col-n3")
    def jsonStr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
    // data files: one per lang partition, PHYSICAL column names, the
    // partition column physically omitted (the stock layout)
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).sorted
    val adds = langs.zipWithIndex.map { case (l, i) =>
      val tmp = Files.createTempDirectory(scratch, "cm-part-")
      docs.filter(col("lang") === l)
        .select(col("doc_id").as("col-d0"), col("source").as("col-s2"),
          col("n_chars").as("col-n3"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val w = Files.list(tmp)
        try w.iterator().asScala.find(_.toString.endsWith(".parquet")).get
        finally w.close()
      }
      val name = f"part-$i%05d.parquet"
      Files.move(part, table.resolve(name))
      s"""{"add":{"path":"$name","partitionValues":{"col-l1":${jsonStr(l)}},""" +
        s""""size":${Files.size(table.resolve(name))},""" +
        s""""modificationTime":0,"dataChange":true}}"""
    }
    val mapped = StructType(docs.schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", i + 1L)
        .putString("delta.columnMapping.physicalName", physOf(f.name)).build())
    })
    val commit = Seq(
      """{"commitInfo":{"timestamp":0,"operation":"WRITE","engineInfo":"stock-shaped fixture"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonStr(mapped.json)},"partitionColumns":["lang"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"4"},"createdTime":0}}""") ++ adds
    val logFile = table.resolve("_delta_log").resolve(f"${0L}%020d.json")
    Files.writeString(logFile, commit.mkString("", "\n", "\n"))
    // ID mode must refuse — it resolves by parquet field id, which this
    // reader does not implement
    val asId = Files.readString(logFile).replace(
      """"delta.columnMapping.mode":"name"""",
      """"delta.columnMapping.mode":"id"""")
    Files.writeString(logFile, asId)
    val refused = try { DeltaImport.read(spark, table.toString).count(); false }
    catch { case _: IllegalArgumentException => true }
    require(refused, "s64: column mapping ID mode was silently served")
    Files.writeString(logFile, commit.mkString("", "\n", "\n"))
    val read = DeltaImport.read(spark, table.toString)
    require(read.columns.toSeq == docCols,
      s"s64: logical schema mismatch: ${read.columns.mkString(",")}")
    docSelect(read)
  }

  /** Log-derived Delta CHANGE FEED: two overwrite commits then a DV
    * DELETE, read back as per-commit row changes. The overwrites emit
    * file-level delete+insert (stock CDF's rewrite granularity); the DV
    * commit emits ONLY the newly-covered rows as deletes — the log
    * names the changed files and the DV diff names the rows, so a
    * 1-row delete never scans-and-emits the whole table. Oracle: the
    * five change slices stated directly in SQL. REQUIREs pin the
    * DV-diff-only tail and the checkpoint-collapse refusal.
    */
  val s65_delta_changes: OpQuery = OpQuery(
    "s65_delta_changes",
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
      |       'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      |FROM documents
      |UNION ALL
      |SELECT doc_id, lang, source, CAST(n_chars AS BIGINT), 'insert', 1
      |FROM documents WHERE NOT (doc_id % 3 = 0)
      |UNION ALL
      |SELECT doc_id, lang, source, CAST(n_chars AS BIGINT), 'delete', 2
      |FROM documents WHERE NOT (doc_id % 3 = 0)
      |UNION ALL
      |SELECT doc_id, lang, source, CAST(n_chars AS BIGINT), 'insert', 2
      |FROM documents WHERE NOT (doc_id % 5 = 0)
      |UNION ALL
      |SELECT doc_id, lang, source, CAST(n_chars AS BIGINT), 'delete', 3
      |FROM documents WHERE NOT (doc_id % 5 = 0) AND doc_id % 7 = 3
      |ORDER BY _commit_version, _change_type, doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{DeltaExport, DeltaImport}
    val scratch = GateScratch.dir("graft-delta-cdf-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("cf", docs)
    store.overwrite("cf", docs.filter(col("doc_id") % 3 =!= 0))
    store.overwrite("cf", docs.filter(col("doc_id") % 5 =!= 0))
    val currentGen = f"gen-v${store.currentVersion("cf")}%05d"
    val exp = DeltaExport.exportTable(
      store, "cf", scratch.resolve("delta").toString).toString
    val targets = dvTargets(spark, exp, col("doc_id") % 7 === 3)
      .filter(_._1.startsWith(currentGen))
    DeltaExport.appendDeletionVectors(exp, targets)
    // the DV-commit slice alone: exactly the diff rows, no full-file echo
    val dvOnly = DeltaImport.readChanges(spark, exp, 2L, 3L)
    val expectDv = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 3).count()
    require(dvOnly.count() == expectDv,
      s"s65: DV commit emitted ${dvOnly.count()} changes, expected the $expectDv diff rows")
    require(dvOnly.filter(col("_change_type") =!= "delete").count() == 0,
      "s65: a pure DV-cover commit emitted non-delete changes")
    val all = DeltaImport.readChanges(spark, exp, 0L, 3L)
    all.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars").cast("bigint").as("n_chars"),
      col("_change_type"), col("_commit_version").cast("bigint").as("_commit_version"))
      .orderBy(col("_commit_version"), col("_change_type"), col("doc_id"))
  }

  /** Iceberg INCREMENTAL APPEND SCAN — s65's Delta change feed, Iceberg
    * side: two `IcebergExport.appendRows` snapshots on top of the
    * initial load, read back incrementally. Only the appended data
    * files are scanned (the manifests name them — a nightly 0.1%
    * append reads 0.1% of the table). Stock parity on refusal: a range
    * crossing a non-append snapshot (here the CDC upsert, operation
    * `delete`) refuses loudly instead of misstating it as adds.
    */
  val s66_iceberg_incremental: OpQuery = OpQuery(
    "s66_iceberg_incremental",
    """SELECT doc_id + 20000000 AS doc_id, lang, source,
      |       CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents WHERE doc_id % 3 = 0
      |UNION ALL
      |SELECT doc_id + 40000000, lang, source, CAST(n_chars AS BIGINT)
      |FROM documents WHERE doc_id % 7 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.{IcebergExport, IcebergImport}
    val scratch = GateScratch.dir("graft-iceberg-inc-")
    val store = new TableStore(spark, scratch.resolve("store").toString)
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    store.overwrite("inc", docs)
    val exp = IcebergExport.exportTable(
      store, "inc", scratch.resolve("ice").toString).toString
    def shifted(mod: Int, off: Long) = docs.filter(col("doc_id") % mod === 0)
      .withColumn("doc_id", col("doc_id") + off)
    IcebergExport.appendRows(spark, exp, shifted(3, 20000000L))
    IcebergExport.appendRows(spark, exp, shifted(7, 40000000L))
    val snapIds = IcebergImport.snapshots(spark, exp).sortBy(_._2).map(_._1)
    require(snapIds.size == 3, s"s66: expected 3 snapshots, got ${snapIds.size}")
    // the tail-only range sees only the second append
    val tail = IcebergImport.readIncremental(spark, exp, snapIds(1), snapIds(2))
    require(tail.count() == shifted(7, 0).count(),
      "s66: tail incremental range read more than the last append's files")
    // a range crossing a non-append snapshot refuses
    IcebergExport.appendEqualityUpsert(spark, exp,
      docs.filter(col("doc_id") % 11 === 0).limit(5), Seq("doc_id"),
      shifted(11, 60000000L).limit(5))
    val snapIds2 = IcebergImport.snapshots(spark, exp).sortBy(_._2).map(_._1)
    val refused = try {
      IcebergImport.readIncremental(spark, exp, snapIds2(2), snapIds2(3)); false
    } catch { case _: IllegalArgumentException => true }
    require(refused, "s66: an incremental scan silently crossed a delete snapshot")
    docSelect(IcebergImport.readIncremental(spark, exp, snapIds(0), snapIds(2)))
  }

  val all: Seq[OpQuery] = Seq(
    s6_insert_only_merge, s7_scd1_merge, s15_scd2_merge, s16_full_sync_merge,
    s17_update_delete, cdc_changes, ivm_refresh, s18_scd1_aligned,
    s19_scd2_aligned, zorder_cluster, bloom_prune_join, s21_precombine_merge,
    ivm_join_refresh, s30_partition_evolution, s47_bucketed_join,
    shard_export, s48_dpp_join, s49_delta_roundtrip, s50_iceberg_roundtrip,
    s51_incremental_agg_cdf, ivm_join_agg_refresh, ivm_minmax_refresh,
    scd2_asof_enrichment, occ_disjoint_writers, s54_bloom_point_lookup,
    s51_delta_import_dv, s52_iceberg_import_mor, s53_iceberg_import_eqdel,
    s54_delta_dv_roundtrip, s55_delta_checkpoint_dv, s56_dv_reorg,
    s57_iceberg_seq_inherit, s58_iceberg_upsert_seq, s59_iceberg_expire,
    s60_delta_timestamp_as_of, s61_iceberg_schema_evolution, s62_delta_vacuum,
    s63_iceberg_bucket_transform, s64_delta_column_mapping, s65_delta_changes,
    s66_iceberg_incremental)
}
