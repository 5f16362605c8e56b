package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.IronmanExprs

/** Medallion pipeline derivations: time parsing, natural and surrogate
  * keys, division parsing, checksums and silver-layer semantics.
  */
object MedallionGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** D1 + the H:MM:SS formatter, round-tripped over synthetic seconds:
    * format → parse must reproduce the input (property pinned by the
    * oracle recomputing both directions in SQL).
    */
  val d1_time_roundtrip = OpQuery(
    "d1_time_roundtrip",
    """WITH secs AS (
      |  SELECT event_id, CAST((event_id * 7919) % 86399 + 1 AS BIGINT) AS s
      |  FROM events
      |), fmt AS (
      |  SELECT event_id, s,
      |         concat(CAST(s // 3600 AS VARCHAR), ':',
      |                lpad(CAST((s % 3600) // 60 AS VARCHAR), 2, '0'), ':',
      |                lpad(CAST(s % 60 AS VARCHAR), 2, '0')) AS hms
      |  FROM secs
      |)
      |SELECT event_id, s, hms,
      |  CAST(CAST(string_split(hms, ':')[1] AS INT) * 3600 +
      |       CAST(string_split(hms, ':')[2] AS INT) * 60 +
      |       CAST(string_split(hms, ':')[3] AS INT) AS BIGINT) AS s_roundtrip
      |FROM fmt
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    t(spark, dir, "events")
      .select(
        col("event_id"),
        ((col("event_id") * 7919) % 86399 + 1).cast("long").as("s"))
      .withColumn("hms", IronmanExprs.formatSeconds(col("s")))
      .withColumn("s_roundtrip",
        IronmanExprs.parseTimeToSeconds(col("hms")).cast("long"))
      .orderBy(col("event_id"))
  }

  /** D3 natural-key semantics over customer names: clean + concat_ws with
    * an UNKNOWN fallback for a nullable column (ref: 04a:130-139).
    */
  val d3_natural_key = OpQuery(
    "d3_natural_key",
    """SELECT c_custkey,
      |  lower(concat_ws('_',
      |    regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g'),
      |    coalesce(nullif(c_mktsegment, 'MACHINERY'), 'UNKNOWN'))) AS natural_key
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val seg = nullif(col("c_mktsegment"), lit("MACHINERY"))
    t(spark, dir, "customer").select(
      col("c_custkey"),
      IronmanExprs.athleteNaturalKey(col("c_name"), seg).as("natural_key"))
      .orderBy(col("c_custkey"))
  }

  /** D4 surrogate keys — abs(Murmur3 hash). Not SQL-oracle-expressible
    * (DuckDB's hash is a different function); covered by rows-only check
    * here and exact-equality unit tests in IronmanExprsSpec.
    */
  val d4_surrogate_key = OpQuery.noOracle("d4_surrogate_key") { (spark, dir) =>
    t(spark, dir, "customer").select(
      col("c_custkey"),
      IronmanExprs.surrogateKey(col("c_name")).as("customer_sk"),
      IronmanExprs.athleteSurrogateKey(col("c_name"), col("c_mktsegment"))
        .as("composite_sk"))
      .orderBy(col("c_custkey"))
  }

  /** D10 division parsing applied to a synthetic division-shaped string
    * built from part attributes, exercising startswith/contains/
    * regexp_extract/split in the exact reference composition.
    */
  val d10_division_parse = OpQuery(
    "d10_division_parse",
    """WITH div AS (
      |  SELECT p_partkey,
      |         CASE WHEN p_size % 3 = 0 THEN concat('M', CAST(p_size AS VARCHAR), '-', CAST(p_size + 4 AS VARCHAR))
      |              WHEN p_size % 3 = 1 THEN concat('F', CAST(p_size AS VARCHAR), '-', CAST(p_size + 4 AS VARCHAR))
      |              ELSE 'XPRO' END AS division
      |  FROM part
      |)
      |SELECT p_partkey, division,
      |  CASE WHEN starts_with(division, 'M') THEN 'M'
      |       WHEN starts_with(division, 'F') THEN 'F'
      |       ELSE 'UNKNOWN' END AS gender,
      |  contains(division, 'PRO') AS is_professional,
      |  CAST(CASE WHEN regexp_extract(division, '(\d+\-\d+)', 1) != ''
      |       THEN CAST(string_split(regexp_extract(division, '(\d+\-\d+)', 1), '-')[1] AS INT) END AS INT) AS age_start,
      |  CAST(CASE WHEN regexp_extract(division, '(\d+\-\d+)', 1) != ''
      |       THEN CAST(string_split(regexp_extract(division, '(\d+\-\d+)', 1), '-')[2] AS INT) END AS INT) AS age_end
      |FROM div
      |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    val division = when(col("p_size") % 3 === 0,
        concat(lit("M"), col("p_size").cast("string"), lit("-"),
          (col("p_size") + 4).cast("string")))
      .when(col("p_size") % 3 === 1,
        concat(lit("F"), col("p_size").cast("string"), lit("-"),
          (col("p_size") + 4).cast("string")))
      .otherwise(lit("XPRO"))
    t(spark, dir, "part")
      .withColumn("division", division)
      .select(
        col("p_partkey"),
        col("division"),
        IronmanExprs.divisionGender(col("division")).as("gender"),
        IronmanExprs.isProfessional(col("division")).as("is_professional"),
        IronmanExprs.ageGroupStart(col("division")).as("age_start"),
        IronmanExprs.ageGroupEnd(col("division")).as("age_end"))
      .orderBy(col("p_partkey"))
  }

  /** Composite silver-layer semantics gate: D2 row_key (dedup-rank
    * row_number + clean-name concat), D5 status flags (case-insensitive),
    * D6 null-propagating calculated total, D7 has_data_issue, D8 time
    * difference, D9 name split, D12 both gender-label variants — the
    * derived columns 03_silver.ipynb:257-305 / 02_bronze.ipynb:208-230
    * compute, replayed over athlete-shaped rows synthesized from
    * `customer` so DuckDB can hash-pin every value.
    */
  val d_silver_semantics = OpQuery(
    "d_silver_semantics",
    """WITH base AS (
      |  SELECT c_custkey,
      |    CAST(2020 + c_custkey % 5 AS INT) AS year,
      |    CASE CAST(c_custkey % 3 AS INT)
      |      WHEN 0 THEN concat('Solo', CAST(c_custkey % 11 AS VARCHAR))
      |      WHEN 1 THEN concat('Mary Jane-', CAST(c_custkey % 11 AS VARCHAR))
      |      ELSE concat('Jo O''Neil ', CAST(c_custkey % 11 AS VARCHAR)) END AS athlete_name,
      |    CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN 'M' WHEN 1 THEN 'F' ELSE 'X' END AS source_gender,
      |    CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'FINISHER' WHEN 1 THEN 'dnf' WHEN 2 THEN 'DNS' ELSE 'dq' END AS designation,
      |    CAST((c_custkey * 13) % 3600 + 1200 AS INT) AS swim,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE CAST(c_custkey % 300 + 60 AS INT) END AS t1,
      |    CAST((c_custkey * 29) % 18000 + 9000 AS INT) AS bike,
      |    CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE CAST(c_custkey % 240 + 45 AS INT) END AS t2,
      |    CAST((c_custkey * 17) % 14400 + 7200 AS INT) AS run,
      |    CASE WHEN c_custkey % 17 = 0 THEN NULL ELSE CAST(c_custkey % 500 + 1 AS INT) END AS race_rank
      |  FROM customer
      |), derived AS (
      |  SELECT *,
      |    lower(regexp_replace(athlete_name, '[^a-zA-Z0-9]', '', 'g')) AS name_clean,
      |    CAST(swim + t1 + bike + t2 + run AS INT) AS calculated_total_seconds,
      |    CASE WHEN c_custkey % 13 = 0 THEN NULL
      |         ELSE CAST(swim + coalesce(t1, 300) + bike + coalesce(t2, 300) + run + c_custkey % 90 AS INT)
      |    END AS finish_time_seconds,
      |    upper(designation) = 'FINISHER' AS is_finisher,
      |    upper(designation) = 'DNF' AS is_dnf,
      |    upper(designation) = 'DNS' AS is_dns,
      |    upper(designation) = 'DQ' AS is_dq
      |  FROM base
      |), keyed AS (
      |  SELECT *,
      |    CAST(row_number() OVER (PARTITION BY year, source_gender, name_clean ORDER BY c_custkey) AS INT) AS dup_rank
      |  FROM derived
      |)
      |SELECT c_custkey,
      |  concat(CAST(year AS VARCHAR), '_', source_gender, '_', name_clean, '_', CAST(dup_rank AS VARCHAR)) AS row_key,
      |  year, athlete_name,
      |  string_split(athlete_name, ' ')[1] AS first_name,
      |  CASE WHEN len(string_split(athlete_name, ' ')) > 1 THEN string_split(athlete_name, ' ')[-1] END AS last_name,
      |  source_gender,
      |  CASE WHEN source_gender = 'M' THEN 'Male' ELSE 'Female' END AS gender_label,
      |  CASE WHEN source_gender = 'M' THEN 'Male' ELSE source_gender END AS gender_display,
      |  designation, is_finisher, is_dnf, is_dns, is_dq,
      |  dup_rank, calculated_total_seconds, finish_time_seconds,
      |  CASE WHEN finish_time_seconds IS NULL OR calculated_total_seconds IS NULL THEN NULL
      |       ELSE abs(finish_time_seconds - calculated_total_seconds) END AS time_difference,
      |  race_rank,
      |  (is_finisher AND (race_rank IS NULL OR swim IS NULL OR bike IS NULL
      |     OR run IS NULL OR finish_time_seconds IS NULL)) AS has_data_issue
      |FROM keyed
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val ck = col("c_custkey")
    val athleteName = when(ck % 3 === 0, concat(lit("Solo"), (ck % 11).cast("string")))
      .when(ck % 3 === 1, concat(lit("Mary Jane-"), (ck % 11).cast("string")))
      .otherwise(concat(lit("Jo O'Neil "), (ck % 11).cast("string")))
    val sourceGender = when(ck % 3 === 0, "M").when(ck % 3 === 1, "F").otherwise("X")
    val designation = when(ck % 4 === 0, "FINISHER").when(ck % 4 === 1, "dnf")
      .when(ck % 4 === 2, "DNS").otherwise("dq")
    val base = t(spark, dir, "customer").select(
      ck,
      (lit(2020) + ck % 5).cast("int").as("year"),
      athleteName.as("athlete_name"),
      sourceGender.as("source_gender"),
      designation.as("designation"),
      ((ck * 13) % 3600 + 1200).cast("int").as("swim"),
      when(ck % 7 === 0, lit(null)).otherwise(ck % 300 + 60).cast("int").as("t1"),
      ((ck * 29) % 18000 + 9000).cast("int").as("bike"),
      when(ck % 11 === 0, lit(null)).otherwise(ck % 240 + 45).cast("int").as("t2"),
      ((ck * 17) % 14400 + 7200).cast("int").as("run"),
      when(ck % 17 === 0, lit(null)).otherwise(ck % 500 + 1).cast("int").as("race_rank"))
    val derived = base
      .withColumn("name_clean", IronmanExprs.cleanName(col("athlete_name")))
      .withColumn("calculated_total_seconds",
        IronmanExprs.calculatedTotalSeconds(
          col("swim"), col("t1"), col("bike"), col("t2"), col("run")).cast("int"))
      .withColumn("finish_time_seconds",
        when(ck % 13 === 0, lit(null)).otherwise(
          col("swim") + coalesce(col("t1"), lit(300)) + col("bike") +
            coalesce(col("t2"), lit(300)) + col("run") + ck % 90).cast("int"))
      .withColumn("is_finisher", IronmanExprs.statusFlag(col("designation"), "FINISHER"))
      .withColumn("is_dnf", IronmanExprs.statusFlag(col("designation"), "DNF"))
      .withColumn("is_dns", IronmanExprs.statusFlag(col("designation"), "DNS"))
      .withColumn("is_dq", IronmanExprs.statusFlag(col("designation"), "DQ"))
    val dupWindow = Window
      .partitionBy(col("year"), col("source_gender"), col("name_clean"))
      .orderBy(ck)
    derived
      .withColumn("dup_rank", row_number().over(dupWindow))
      .select(
        ck,
        IronmanExprs.rowKey(col("year"), col("source_gender"),
          col("name_clean"), col("dup_rank")).as("row_key"),
        col("year"), col("athlete_name"),
        IronmanExprs.firstName(col("athlete_name")).as("first_name"),
        IronmanExprs.lastName(col("athlete_name")).as("last_name"),
        col("source_gender"),
        IronmanExprs.genderLabel(col("source_gender")).as("gender_label"),
        IronmanExprs.genderLabelPassthrough(col("source_gender")).as("gender_display"),
        col("designation"), col("is_finisher"), col("is_dnf"), col("is_dns"), col("is_dq"),
        col("dup_rank"), col("calculated_total_seconds"), col("finish_time_seconds"),
        IronmanExprs.timeDifference(
          col("finish_time_seconds"), col("calculated_total_seconds")).as("time_difference"),
        col("race_rank"),
        when(
          col("is_finisher") === true && (
            col("race_rank").isNull || col("swim").isNull || col("bike").isNull ||
              col("run").isNull || col("finish_time_seconds").isNull),
          lit(true)).otherwise(lit(false)).as("has_data_issue"))
      .orderBy(ck)
  }

  /** Cross-engine table checksum: an order-independent fingerprint —
    * SUM of a per-row md5-derived integer over a canonical string
    * rendering (numerics through DECIMAL casts). Any engine that can
    * md5 a string can recompute it: the standard reconciliation
    * primitive after a migration or replication hop. One scan, one
    * tiny aggregate.
    */
  val d14_checksum_audit = OpQuery(
    "d14_checksum_audit",
    """WITH canon AS (
      |  SELECT CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||
      |         CAST(c_nationkey AS VARCHAR) || '|' ||
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
      |         c_mktsegment AS row_repr
      |  FROM customer
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CAST(('0x' || substr(md5(row_repr), 1, 8)) AS BIGINT)) AS BIGINT)
      |         AS checksum
      |FROM canon""".stripMargin) { (spark, dir) =>
    val repr = concat_ws("|",
      col("c_custkey").cast("string"), col("c_name"),
      col("c_nationkey").cast("string"),
      col("c_acctbal").cast("decimal(18,2)").cast("string"),
      col("c_mktsegment"))
    t(spark, dir, "customer")
      .select(conv(substring(md5(repr), 1, 8), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
  }

  /** Twin for `d4_surrogate_key` (Murmur3 — no DuckDB equivalent): the
    * PROPERTIES of a surrogate key are oracle-able even when the hash
    * values aren't. One row: key count == row count, distinct keys ==
    * distinct names (collision-free on this corpus — deterministic, so
    * stable across runs; a collision would be a data change, caught),
    * zero negatives (abs() contract), zero nulls on non-null input,
    * and determinism (two independent evaluations agree), verified
    * in-plan and emitted as a count that must equal the row count.
    */
  val d4_surrogate_props = OpQuery(
    "d4_surrogate_props",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_distinct_keys,
      |       CAST(0 AS BIGINT) AS n_negative,
      |       CAST(0 AS BIGINT) AS n_null,
      |       CAST(COUNT(*) AS BIGINT) AS n_stable
      |FROM customer""".stripMargin) { (spark, dir) =>
    import graft.functions.IronmanExprs
    val sk = IronmanExprs.surrogateKey(col("c_name"))
    t(spark, dir, "customer")
      .select(
        sk.as("sk"),
        IronmanExprs.surrogateKey(col("c_name")).as("sk2"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("sk")).as("n_distinct_keys"),
        sum(when(col("sk") < 0, 1).otherwise(0)).cast("long").as("n_negative"),
        sum(when(col("sk").isNull, 1).otherwise(0)).cast("long").as("n_null"),
        sum(when(col("sk") === col("sk2"), 1).otherwise(0)).cast("long")
          .as("n_stable"))
  }

  val all: Seq[OpQuery] = Seq(
    d1_time_roundtrip, d3_natural_key, d4_surrogate_key, d10_division_parse,
    d_silver_semantics, d14_checksum_audit, d4_surrogate_props)
}
