package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 110: ORC source/sink roundtrip, a Roman-numeral
  * codec (encode by digit table, decode by dimension join), and
  * GROUPING SETS with per-column grouping flags.
  */
object Round4Ops110 {

  /** ORC roundtrip: write the supplier table to ORC (Spark-native
    * columnar sink), read it back, and aggregate — proving the ORC
    * source preserves schema and values exactly. The oracle runs the
    * same aggregate over the original parquet, so any roundtrip drift
    * hash-fails. Bounded temp dir per run.
    */
  val s45_orc_roundtrip = OpQuery(
    "s45_orc_roundtrip",
    """SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp,
      |       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
      |       MIN(s_name) AS first_name, MAX(s_name) AS last_name
      |FROM supplier
      |GROUP BY s_nationkey
      |ORDER BY nationkey""".stripMargin) { (spark, dir) =>
    val tmp = graft.queries.GateScratch.dir("graft_orc_").toString
    Tables.load(spark, dir, "supplier").write.mode("overwrite")
      .orc(s"$tmp/supplier_orc")
    spark.read.orc(s"$tmp/supplier_orc")
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"),
        min(col("s_name")).as("first_name"),
        max(col("s_name")).as("last_name"))
      .orderBy("nationkey")
  }

  /** Roman-numeral codec: encode n ∈ [1, 3999] with per-digit lookup
    * tables (repeat for thousands, canonical subtractive forms for
    * hundreds/tens/ones), decode by joining the encoded string against
    * the full 3999-row encode dimension — the classic "invert a codec
    * with its own dimension table" pattern. The gate pins the exact
    * round trip.
    */
  val f_roman = OpQuery(
    "f_roman",
    """WITH dim AS (
      |  SELECT n,
      |    repeat('M', n // 1000) ||
      |    CASE (n // 100) % 10 WHEN 0 THEN '' WHEN 1 THEN 'C' WHEN 2 THEN 'CC'
      |      WHEN 3 THEN 'CCC' WHEN 4 THEN 'CD' WHEN 5 THEN 'D' WHEN 6 THEN 'DC'
      |      WHEN 7 THEN 'DCC' WHEN 8 THEN 'DCCC' ELSE 'CM' END ||
      |    CASE (n // 10) % 10 WHEN 0 THEN '' WHEN 1 THEN 'X' WHEN 2 THEN 'XX'
      |      WHEN 3 THEN 'XXX' WHEN 4 THEN 'XL' WHEN 5 THEN 'L' WHEN 6 THEN 'LX'
      |      WHEN 7 THEN 'LXX' WHEN 8 THEN 'LXXX' ELSE 'XC' END ||
      |    CASE n % 10 WHEN 0 THEN '' WHEN 1 THEN 'I' WHEN 2 THEN 'II'
      |      WHEN 3 THEN 'III' WHEN 4 THEN 'IV' WHEN 5 THEN 'V' WHEN 6 THEN 'VI'
      |      WHEN 7 THEN 'VII' WHEN 8 THEN 'VIII' ELSE 'IX' END AS roman
      |  FROM (SELECT unnest(generate_series(1, 3999)) AS n)),
      |ids AS (
      |  SELECT event_id, CAST(event_id % 3999 + 1 AS BIGINT) AS n
      |  FROM events WHERE event_id < 200),
      |enc AS (
      |  SELECT ids.event_id, ids.n, dim.roman
      |  FROM ids JOIN dim ON dim.n = ids.n),
      |dec AS (
      |  SELECT enc.event_id, enc.n, enc.roman, d2.n AS decoded
      |  FROM enc JOIN dim d2 ON d2.roman = enc.roman)
      |SELECT event_id, n, roman, CAST(decoded AS BIGINT) AS decoded,
      |       decoded = n AS ok
      |FROM dec ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "events").createOrReplaceTempView("graft_rom_events")
    spark.sql(
      """WITH dim AS (
        |  SELECT n,
        |    repeat('M', CAST(n DIV 1000 AS INT)) ||
        |    CASE (n DIV 100) % 10 WHEN 0 THEN '' WHEN 1 THEN 'C' WHEN 2 THEN 'CC'
        |      WHEN 3 THEN 'CCC' WHEN 4 THEN 'CD' WHEN 5 THEN 'D' WHEN 6 THEN 'DC'
        |      WHEN 7 THEN 'DCC' WHEN 8 THEN 'DCCC' ELSE 'CM' END ||
        |    CASE (n DIV 10) % 10 WHEN 0 THEN '' WHEN 1 THEN 'X' WHEN 2 THEN 'XX'
        |      WHEN 3 THEN 'XXX' WHEN 4 THEN 'XL' WHEN 5 THEN 'L' WHEN 6 THEN 'LX'
        |      WHEN 7 THEN 'LXX' WHEN 8 THEN 'LXXX' ELSE 'XC' END ||
        |    CASE n % 10 WHEN 0 THEN '' WHEN 1 THEN 'I' WHEN 2 THEN 'II'
        |      WHEN 3 THEN 'III' WHEN 4 THEN 'IV' WHEN 5 THEN 'V' WHEN 6 THEN 'VI'
        |      WHEN 7 THEN 'VII' WHEN 8 THEN 'VIII' ELSE 'IX' END AS roman
        |  FROM (SELECT explode(sequence(1, 3999)) AS n)),
        |ids AS (
        |  SELECT event_id, CAST(event_id % 3999 + 1 AS BIGINT) AS n
        |  FROM graft_rom_events WHERE event_id < 200),
        |enc AS (
        |  SELECT ids.event_id, ids.n, dim.roman
        |  FROM ids JOIN dim ON dim.n = ids.n),
        |dec AS (
        |  SELECT enc.event_id, enc.n, enc.roman, d2.n AS decoded
        |  FROM enc JOIN dim d2 ON d2.roman = enc.roman)
        |SELECT event_id, n, roman, CAST(decoded AS BIGINT) AS decoded,
        |       decoded = n AS ok
        |FROM dec ORDER BY event_id""".stripMargin)
  }

  /** Explicit GROUPING SETS — the four-level (nation×segment, nation,
    * segment, grand-total) lattice in ONE pass with per-column
    * GROUPING() flags, the form ROLLUP/CUBE can't express (it skips the
    * asymmetric sets). Engine-portable: flags instead of grouping_id
    * bitmasks, which differ in bit order across engines.
    */
  val a85_grouping_sets = OpQuery.sql("a85_grouping_sets", "customer")(
    """SELECT COALESCE(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
      |       COALESCE(c_mktsegment, 'ALL') AS segment,
      |       CAST(GROUPING(c_nationkey) AS INT) AS g_nation,
      |       CAST(GROUPING(c_mktsegment) AS INT) AS g_segment,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment), (c_nationkey),
      |                        (c_mktsegment), ())
      |ORDER BY g_nation, g_segment, nation, segment""".stripMargin,
    "VARCHAR" -> "STRING")

  val all: Seq[OpQuery] = Seq(s45_orc_roundtrip, f_roman, a85_grouping_sets)
}
