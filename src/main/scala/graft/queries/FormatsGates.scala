package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
  StructType}

import graft.Tables
import graft.operators.{Freeze, TableStore}

/** File formats and sources: CSV/JSON/ORC/XML/Avro/text/binary scans
  * and writes, corrupt-record handling, schema inference and merging,
  * partition discovery, codecs and JDBC extraction.
  */
object FormatsGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  val s1_csv_scan = OpQuery(
    "s1_csv_scan",
    """WITH first200 AS (
      |  SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id LIMIT 200
      |)
      |SELECT CAST(doc_id AS VARCHAR) AS doc_id,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS lang_n,
      |       CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS INT) AS n_chars,
      |       CAST(doc_id % 7 AS INT) AS shard
      |FROM first200
      |ORDER BY CAST(doc_id AS INT)""".stripMargin) { (spark, dir) =>
    val csvPath = s"/tmp/graft_landing_s1_${math.abs(dir.hashCode)}.csv"
    // deterministic landing file: every 5th lang is the "-" sentinel,
    // every 7th n_chars empty — the FIXTURES.md §1 value domains
    val rows = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
      .limit(200)
      .collect()
    val lines = "doc_id,lang,n_chars" +: rows.map { r =>
      val id = r.getLong(0)
      val lang = if (id % 5 == 0) "-" else r.getString(1)
      val n = if (id % 7 == 0) "" else r.getLong(2).toString
      s"$id,$lang,$n"
    }.toSeq
    val tmp = Paths.get(csvPath + s".tmp-${System.nanoTime()}")
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(csvPath),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(csvPath)
    // "-" -> NULL over every column (bronze P7, the shared helper), casts
    val normalized = graft.pipeline.Bronze.nullSentinelToNull(raw)
    normalized.select(
        col("doc_id"),
        col("lang").as("lang_n"),
        col("n_chars").cast("int").as("n_chars"),
        (col("doc_id").cast("int") % 7).as("shard"))
      .orderBy(col("doc_id").cast("int"))
  }

  /** JSON-lines scan with explicit schema (no inference) plus a nested
    * field: each record carries a `meta` object; the scan reads
    * dotted-path fields out of it. Self-materialized like the CSV gate;
    * the oracle derives the same rows from the parquet source.
    */
  val s18_jsonl_scan = OpQuery(
    "s18_jsonl_scan",
    """WITH first200 AS (
      |  SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id LIMIT 200
      |)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |       lang,
      |       CAST(n_chars AS BIGINT) AS n_chars,
      |       CAST(doc_id % 3 AS BIGINT) AS bucket
      |FROM first200
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val jsonPath = s"/tmp/graft_landing_s18_${math.abs(dir.hashCode)}.jsonl"
    val rows = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
      .limit(200)
      .collect()
    val lines = rows.map { r =>
      val id = r.getLong(0)
      s"""{"doc_id":$id,"lang":"${r.getString(1)}","meta":{"n_chars":${r.getLong(2)},"bucket":${id % 3}}}"""
    }.toSeq
    val tmp = Paths.get(jsonPath + s".tmp-${System.nanoTime()}")
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(jsonPath),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    val schema = "doc_id BIGINT, lang STRING, meta STRUCT<n_chars: BIGINT, bucket: BIGINT>"
    spark.read.schema(schema).json(jsonPath)
      .select(
        col("doc_id"), col("lang"),
        col("meta.n_chars").as("n_chars"),
        col("meta.bucket").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** ORC round trip: the columnar-format sibling of the parquet store —
    * written from the parquet source, read back through Spark's native
    * ORC reader (predicate pushdown included); the oracle never sees the
    * ORC file, so the compare proves the round trip lost nothing.
    */
  val s19_orc_scan = OpQuery(
    "s19_orc_scan",
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE doc_id % 4 = 1
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val orcPath = s"/tmp/graft_landing_s19_${math.abs(dir.hashCode)}.orc"
    if (!Files.exists(Paths.get(orcPath, "_SUCCESS"))) {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").orc(orcPath)
    }
    spark.read.orc(orcPath)
      .filter(col("doc_id") % 4 === 1)
      .orderBy(col("doc_id"))
  }

  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  val s13_jdbc_extract = OpQuery(
    "s13_jdbc_extract",
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val db = graft.queries.GateScratch.dir("graft-jdbc-").resolve("extractdb")
    val url = s"jdbc:derby:$db;create=true"
    val src = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    src.write.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "customers")
      .mode("overwrite").save()
    // partition bounds: one 2-value aggregate to the driver (same shape
    // as Spark's own JDBC partitioning requires)
    val bounds = src.agg(min("c_custkey"), max("c_custkey")).head()
    spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "customers")
      .option("partitionColumn", "c_custkey")
      .option("lowerBound", bounds.getLong(0))
      .option("upperBound", bounds.getLong(1) + 1)
      .option("numPartitions", 8)
      .load()
      .orderBy(col("c_custkey"))
  }

  /** binaryFile source: documents land as one raw file each (a stand-in
    * for images/audio — same reader path), are read back as bytes with
    * path provenance, and the oracle computes the EXPECTED length and
    * md5 from the source table — proving the bytes round-tripped
    * exactly without the oracle ever seeing the files (the s19
    * philosophy). Provenance id is parsed from the partition path.
    */
  val s20_binaryfile_scan = OpQuery(
    "s20_binaryfile_scan",
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
      |       md5(text || chr(10)) AS content_md5
      |FROM documents
      |WHERE doc_id % 25 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val base = s"/tmp/graft_landing_s20_${math.abs(dir.hashCode)}"
    if (!Files.exists(Paths.get(base, "_SUCCESS"))) {
      t(spark, dir, "documents")
        .filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").partitionBy("doc_id").text(base)
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .option("recursiveFileLookup", "true")
      .load(base)
      .select(
        regexp_extract(col("path"), "doc_id=(\\d+)", 1).cast("long").as("doc_id"),
        length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("doc_id"))
  }

  /** XML source (built into Spark 4): write a rowTag'd XML extract,
    * read it back with an explicit schema. The oracle states the
    * expected result straight from `documents` — the XML file is only
    * ever touched by the Spark side, so the compare proves the
    * serialize→parse round trip lost nothing.
    */
  val s22_xml_scan = OpQuery(
    "s22_xml_scan",
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE doc_id % 4 = 2
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val xmlPath = s"/tmp/graft_landing_s22_${math.abs(dir.hashCode)}.xml"
    if (!Files.exists(Paths.get(xmlPath, "_SUCCESS"))) {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").format("xml").option("rowTag", "doc")
        .save(xmlPath)
    }
    spark.read.format("xml").option("rowTag", "doc")
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
      .load(xmlPath)
      .filter(col("doc_id") % 4 === 2)
      .orderBy(col("doc_id"))
  }

  /** Error-tolerant CSV ingest: a landing file where every 13th row is
    * garbage. PERMISSIVE mode parses the good rows, quarantines the bad
    * ones into `_corrupt_record` (nothing dropped silently — FAILFAST
    * would kill the load, DROPMALFORMED would hide the loss), and the
    * raw text is still recoverable (the id is re-extracted from the
    * corrupt line). The oracle derives the same rows + corruption
    * pattern from `documents` without ever touching the file.
    */
  val s23_csv_corrupt = OpQuery(
    "s23_csv_corrupt",
    """WITH first300 AS (
      |  SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id LIMIT 300
      |)
      |SELECT CAST(CASE WHEN doc_id % 13 = 0 THEN NULL ELSE doc_id END AS INT) AS doc_id,
      |       -- PERMISSIVE keeps fields that DID parse on a corrupt row:
      |       -- the unparseable doc_id nulls, the plain-string '@' stays
      |       CASE WHEN doc_id % 13 = 0 THEN '@' ELSE lang END AS lang,
      |       doc_id % 13 = 0 AS is_corrupt,
      |       CAST(CASE WHEN doc_id % 13 = 0 THEN doc_id END AS INT) AS recovered_id
      |FROM first300
      |ORDER BY coalesce(doc_id, recovered_id)""".stripMargin) { (spark, dir) =>
    val csvPath = s"/tmp/graft_landing_s23_${math.abs(dir.hashCode)}.csv"
    if (!Files.exists(Paths.get(csvPath))) {
      val rows = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")).limit(300)
        .collect()
      val lines = "doc_id,lang" +: rows.map { r =>
        val id = r.getLong(0)
        if (id % 13 == 0) s"CORRUPT#$id,@,@,@" // wrong arity + bad types
        else s"$id,${r.getString(1)}"
      }
      val tmp = Paths.get(csvPath + ".tmp")
      Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(csvPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val schema = StructType(Seq(
      StructField("doc_id", IntegerType),
      StructField("lang", StringType),
      StructField("_corrupt_record", StringType)))
    spark.read
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .csv(csvPath)
      .select(col("doc_id"), col("lang"),
        col("_corrupt_record").isNotNull.as("is_corrupt"),
        nullif(regexp_extract(col("_corrupt_record"), "CORRUPT#(\\d+)", 1), lit(""))
          .cast("int").as("recovered_id"))
      .orderBy(coalesce(col("doc_id"), col("recovered_id")))
  }

  /** Parquet schema-merge read: two file batches written with DIFFERENT
    * schemas (a column added mid-stream — the normal life of a landing
    * zone) read back as one unified frame with `mergeSchema`, old rows
    * null-extended. The oracle restates the union from `documents`.
    */
  val s24_parquet_mergeschema = OpQuery(
    "s24_parquet_mergeschema",
    """SELECT doc_id, lang,
      |       CAST(CASE WHEN doc_id % 2 = 1 THEN n_chars END AS BIGINT) AS n_chars
      |FROM documents
      |WHERE doc_id % 4 = 3
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val base = s"/tmp/graft_landing_s24_${math.abs(dir.hashCode)}"
    if (!Files.exists(Paths.get(base, "old", "_SUCCESS"))) {
      val docs = Tables.load(spark, dir, "documents").filter(col("doc_id") % 4 === 3)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$base/old")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$base/new")
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/old", s"$base/new")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Hive-style partition discovery: write partitioned by a low-
    * cardinality column, read the directory tree back (partition column
    * reconstructed from paths), filter on the partition column — the
    * scan must touch only matching directories. The oracle filters the
    * original table and never sees the partitioned layout.
    */
  val s25_partition_discovery = OpQuery(
    "s25_partition_discovery",
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE lang IN ('en', 'fr')
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
    val out = graft.queries.GateScratch.dir("graft-partdisc-").toString
    docs.select("doc_id", "source", "lang")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("lang").isin("en", "fr"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** CSV round trip with embedded delimiters, quotes, and newlines —
    * the fields that break naive line-split ingest. multiLine=true
    * makes records span physical lines; quoting/escaping round-trips
    * the raw document text byte-for-byte. The oracle reads the source
    * table (never the CSV), so the gate proves lossless ingest.
    */
  val s26_csv_multiline_quote = OpQuery(
    "s26_csv_multiline_quote",
    """SELECT doc_id, text, lang
      |FROM documents
      |WHERE doc_id % 20 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 20 === 0)
      .select("doc_id", "text", "lang")
    val out = graft.queries.GateScratch.dir("graft-mlcsv-").toString
    docs.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .option("escape", "\"")
      .csv(out)
    spark.read
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .schema(docs.schema)
      .csv(out)
      .orderBy("doc_id")
  }

  /** Storage-codec round trip: the same table written as zstd, snappy,
    * and gzip parquet must read back byte-identical (count + order-free
    * content checksum per codec). At 100 TB the codec choice is a
    * first-order cost decision; this pins that it is content-neutral.
    */
  val s27_parquet_codecs = OpQuery(
    "s27_parquet_codecs",
    """SELECT c.codec,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT) AS content_sum
      |FROM documents, (SELECT unnest(['gzip', 'snappy', 'zstd']) AS codec) c
      |GROUP BY c.codec
      |ORDER BY c.codec""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val base = graft.queries.GateScratch.dir("graft-codec-").toString
    Seq("gzip", "snappy", "zstd").foreach { c =>
      docs.write.mode("overwrite").option("compression", c).parquet(s"$base/$c")
    }
    val read = Seq("gzip", "snappy", "zstd").map { c =>
      spark.read.parquet(s"$base/$c").select(lit(c).as("codec"), col("text"))
    }.reduce(_ unionByName _)
    read.groupBy("codec")
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .cast("long").as("content_sum"))
      .orderBy("codec")
  }

  /** Recursive file discovery: datasets land as nested date trees
    * (year/month/file); recursiveFileLookup walks the whole tree while
    * pathGlobFilter keeps sidecar files out of the scan. The oracle
    * reads the source table — the gate proves discovery is lossless and
    * filtered.
    */
  val s28_recursive_lookup = OpQuery(
    "s28_recursive_lookup",
    """SELECT doc_id, lang
      |FROM documents
      |WHERE doc_id % 10 < 2
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 < 2).select("doc_id", "lang")
    val base = graft.queries.GateScratch.dir("graft-rec-").toString
    // nested tree: two levels, plus a decoy .json sidecar the glob must skip
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$base/2024/01")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$base/2024/02")
    docs.limit(5).write.json(s"$base/2024/03-sidecar")
    spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(base)
      .orderBy("doc_id")
  }

  /** String-stats pruned read: documents range-laid on lang, ANALYZEd,
    * then read via the pruned path for a lang range. The oracle filters
    * the source table directly — the pruned scan must be invisible in
    * the result while skipping files (skipping itself is asserted in
    * StorageEvolutionSpec; here the driver pins result-equality).
    */
  val s29_string_pruned_read = OpQuery(
    "s29_string_pruned_read",
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE lang >= 'de' AND lang <= 'en'
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "lang", "source")
    val root = graft.queries.GateScratch.dir("graft-strprune-").toString
    val store = new TableStore(spark, root)
    store.overwrite("docs", docs.repartitionByRange(5, col("lang"), col("doc_id")))
    store.analyzeStringColumn("docs", "lang")
    store.readPrunedString("docs", "lang", "de", "en")
      .orderBy("doc_id")
  }

  /** JSONL WRITE round-trip: the export side of the SFT/DPO formatters —
    * df.write.json then read back with an explicit schema must be
    * lossless (types included). The oracle reads the source table only.
    */
  val s31_jsonl_write = OpQuery(
    "s31_jsonl_write",
    """SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE doc_id % 7 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 7 === 0).select("doc_id", "lang", "n_chars")
    val out = graft.queries.GateScratch.dir("graft-jsonlw-").toString
    docs.write.mode("overwrite").json(out)
    spark.read.schema(docs.schema).json(out).orderBy("doc_id")
  }

  /** Custom-delimiter CSV (pipe-separated, quoted) round trip — the
    * "every vendor ships a different flavor" ingest path. The oracle
    * reads the source table; delimiter handling must be invisible.
    */
  val s32_csv_delim = OpQuery(
    "s32_csv_delim",
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE doc_id % 9 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 9 === 0).select("doc_id", "lang", "source", "n_chars")
    val out = graft.queries.GateScratch.dir("graft-psv-").toString
    docs.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("sep", "|").option("quoteAll", "true")
      .csv(out)
    spark.read
      .option("header", "true").option("sep", "|")
      .schema(docs.schema)
      .csv(out)
      .orderBy("doc_id")
  }

  /** CREATE TABLE AS SELECT into the session catalog (managed parquet
    * table, not a temp view), read back by catalog name — the DDL
    * surface scripted ETL uses. The table is dropped and recreated so
    * the gate is rerunnable.
    */
  val s33_ctas = OpQuery(
    "s33_ctas",
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_ctas_docs")
    spark.sql("DROP TABLE IF EXISTS graft_ctas_summary")
    // a PREVIOUS session's managed-table directory survives while the
    // in-memory metastore forgets it — CTAS would fail on the stale
    // location, so clear it explicitly (rerunnability across JVMs)
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
    val stale = new java.io.File(
      if (wh.getScheme == null) wh.toString else wh.getPath, "graft_ctas_summary")
    if (stale.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(stale)
    }
    spark.sql(
      """CREATE TABLE graft_ctas_summary USING parquet AS
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM graft_ctas_docs
        |GROUP BY lang""".stripMargin)
    require(spark.catalog.tableExists("graft_ctas_summary"), "CTAS did not register")
    spark.table("graft_ctas_summary").orderBy("lang")
  }

  /** ignoreCorruptFiles: a landing directory with one garbage file must
    * yield every healthy row instead of failing the scan — the
    * half-written-upload reality of object-store ingest. The oracle
    * reads the source rows; corruption must be invisible (and is
    * scoped to this read, not session-wide).
    */
  val s34_corrupt_files = OpQuery(
    "s34_corrupt_files",
    """SELECT doc_id, lang
      |FROM documents
      |WHERE doc_id % 11 = 0
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 11 === 0).select("doc_id", "lang")
    val out = graft.queries.GateScratch.dir("graft-corrupt-").toString
    docs.write.mode("overwrite").parquet(out)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "part-99999-garbage.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    spark.read
      .option("ignoreCorruptFiles", "true")
      .schema(docs.schema)
      .parquet(out)
      .orderBy("doc_id")
  }

  /** Columnar cache: the same aggregate computed THROUGH a cached
    * DataFrame must equal the uncached oracle — exercising the
    * InMemoryRelation read path (serialization round-trip through the
    * columnar cache formats is where subtle type bugs live).
    */
  val s35_cache_scan = OpQuery(
    "s35_cache_scan",
    """SELECT o_orderstatus,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders").cache()
    try {
      orders.count() // materialize the cache so the aggregate reads from it
      orders.groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("o_orderstatus")
        .transform(Freeze.eager) // materialize THROUGH the cache before unpersist
    } finally orders.unpersist()
  }

  /** Hidden _metadata columns: file-level provenance (name, size) rides
    * every file-source scan without being part of the schema — the
    * lineage hook audit pipelines use. Rendered to stable facts (file
    * count, rows, size sanity) since physical names are random.
    */
  val s36_file_metadata = OpQuery(
    "s36_file_metadata",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(1 AS BIGINT) AS n_files,
      |       CAST(true AS BOOLEAN) AS sizes_positive
      |FROM documents WHERE doc_id % 13 = 0""".stripMargin) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 13 === 0).select("doc_id", "lang")
    val out = graft.queries.GateScratch.dir("graft-meta-").toString
    docs.coalesce(1).write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .select(col("doc_id"), col("_metadata.file_name").as("fn"),
        col("_metadata.file_size").as("fs"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("fn")).cast("long").as("n_files"),
        (min(col("fs")) > 0).as("sizes_positive"))
  }

  /** Plain-text source: a pipe-delimited landing file materialized
    * deterministically from `documents`, read back with
    * `spark.read.text` and parsed with split() — the
    * no-format-at-all ingestion path (logs, exports) that precedes any
    * structured reader. The oracle re-derives the same rows from the
    * parquet source, proving the write→scan→parse loop is lossless.
    */
  val s37_text_scan = OpQuery(
    "s37_text_scan",
    """WITH first200 AS (
      |  SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id LIMIT 200)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
      |       CAST(n_chars AS BIGINT) AS n_chars
      |FROM first200
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val txtPath = s"/tmp/graft_landing_s37_${math.abs(dir.hashCode)}.txt"
    val rows = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
      .limit(200)
      .collect()
    val lines = rows.map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}")
    val tmp = Paths.get(txtPath + s".tmp-${System.nanoTime()}")
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(txtPath),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    spark.read.text(txtPath)
      .select(split(col("value"), "\\|").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("doc_id"),
        element_at(col("f"), 2).as("lang"),
        element_at(col("f"), 3).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Quoted-CSV round trip: document previews — which contain commas,
    * quotes, and newlines — written through Spark's CSV writer with
    * full quoting/escaping and read back with the multiline reader.
    * The oracle recomputes the expected rows from parquet, so a hash
    * match proves the writer/reader escaping loop is lossless on
    * adversarial content.
    */
  val s38_csv_write_roundtrip = OpQuery(
    "s38_csv_write_roundtrip",
    """WITH first300 AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) || ':' || substr(text, 1, 80) AS preview, lang
      |  FROM documents ORDER BY doc_id LIMIT 300)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, preview, lang
      |FROM first300
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val outPath = s"/tmp/graft_csv_rt_${math.abs(dir.hashCode)}"
    Tables.load(spark, dir, "documents")
      .orderBy(col("doc_id"))
      .limit(300)
      .select(col("doc_id"), concat(col("doc_id").cast("string"), lit(":"),
        substring(col("text"), 1, 80)).as("preview"), col("lang"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(outPath)
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .option("inferSchema", "false")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(outPath)
      .select(col("doc_id").cast("long").as("doc_id"), col("preview"), col("lang"))
      .orderBy("doc_id")
  }

  /** Gzip JSONL round trip: records written as gzip-compressed JSON
    * lines and read back with an explicit schema — compressed text
    * ingestion, the most common landing format after parquet. The
    * oracle recomputes expected rows from parquet; a hash match proves
    * compression + JSON encoding round-trips exactly (including unicode
    * in document text).
    */
  val s39_jsonl_gzip_roundtrip = OpQuery(
    "s39_jsonl_gzip_roundtrip",
    """WITH first250 AS (
      |  SELECT doc_id, lang, substr(text, 1, 60) AS snippet
      |  FROM documents ORDER BY doc_id LIMIT 250)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, snippet
      |FROM first250
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val outPath = s"/tmp/graft_jsonl_gz_${math.abs(dir.hashCode)}"
    Tables.load(spark, dir, "documents")
      .orderBy(col("doc_id"))
      .limit(250)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 60).as("snippet"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("compression", "gzip")
      .json(outPath)
    spark.read
      .schema("doc_id LONG, lang STRING, snippet STRING")
      .json(outPath)
      .orderBy("doc_id")
  }

  /** Multiline JSON ARRAY ingestion (one big `[{...},{...}]` document,
    * not JSON-lines): the API-export format that needs
    * `multiLine=true` because records span physical lines. The landing
    * file is materialized deterministically; the oracle recomputes the
    * same rows from parquet, proving the whole-file parse is lossless.
    * At scale one such file is a single split — the gate documents the
    * format's parallelism cost next to the JSONL gate's splittable
    * path.
    */
  val s43_json_array_read = OpQuery(
    "s43_json_array_read",
    """WITH first150 AS (
      |  SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id LIMIT 150)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
      |       CAST(n_chars AS BIGINT) AS n_chars
      |FROM first150
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val path = s"/tmp/graft_jsonarr_${math.abs(dir.hashCode)}.json"
    val rows = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
      .limit(150)
      .collect()
    val body = rows.map { r =>
      s"""  {\n    "doc_id": ${r.getLong(0)},\n    "lang": "${r.getString(1)}",\n    "n_chars": ${r.getLong(2)}\n  }"""
    }.mkString("[\n", ",\n", "\n]\n")
    val tmp = Paths.get(path + s".tmp-${System.nanoTime()}")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(path),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    spark.read
      .option("multiLine", "true")
      .schema("doc_id LONG, lang STRING, n_chars LONG")
      .json(path)
      .orderBy("doc_id")
  }

  /** Schema-on-read projection: the parquet scan driven by an EXPLICIT
    * narrower schema (three of eleven lineitem columns, with
    * l_linenumber widened INT→LONG at read time) — proving projection
    * and upcast happen in the scan, not in a later select. The plan
    * reads only the requested columns; the oracle selects the same
    * three.
    */
  val s44_schema_on_read = OpQuery(
    "s44_schema_on_read",
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       CAST(l_quantity AS DOUBLE) AS l_quantity
      |FROM lineitem
      |WHERE l_orderkey < 600
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin) { (spark, dir) =>
    spark.read
      .schema("l_orderkey LONG, l_linenumber LONG, l_quantity DOUBLE")
      .parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") < 600)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

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

  /** Parquet bloom-filter + dictionary write path: the supplier table
    * is written with a column bloom filter on s_suppkey
    * (`parquet.bloom.filter.enabled#...`) — the row-group skipping
    * index that makes point-lookup scans on a 100 TB lake cheap — and
    * read back through a selective key-set filter. The gate proves the
    * option round-trips data byte-exactly and the filter still pushes
    * down (row-group pruning composes with the predicate, it does not
    * replace it).
    */
  val s46_parquet_bloom_write = OpQuery(
    "s46_parquet_bloom_write",
    """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
      |       CAST(s_acctbal AS DECIMAL(15,2)) AS s_acctbal
      |FROM supplier
      |WHERE s_suppkey % 100 = 7
      |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    val outPath = GateScratch.dir("graft_pq_bloom_").resolve("supplier").toString
    Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey").cast("bigint"), col("s_name"),
        col("s_acctbal").cast("decimal(15,2)"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#s_suppkey", "true")
      .option("parquet.bloom.filter.expected.ndv#s_suppkey", "100000")
      .option("parquet.enable.dictionary", "true")
      .parquet(outPath)
    spark.read.parquet(outPath)
      .where(col("s_suppkey") % 100 === 7)
      .orderBy(col("s_suppkey"))
  }

  /** Avro source/sink roundtrip: export a typed slice of orders to Avro
    * container files ([[graft.operators.AvroTable]], no spark-avro
    * connector), read them back, and aggregate OFF THE AVRO SCAN. The
    * oracle aggregates the original parquet — the format hop must be
    * observationally invisible, same proof shape as the Delta/Iceberg
    * roundtrip gates.
    */
  val s53_avro_roundtrip = OpQuery(
    "s53_avro_roundtrip",
    """SELECT o_orderstatus,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       CAST(SUM(o_custkey) AS BIGINT) AS custkey_sum
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("string").as("price_str"),
        col("o_orderstatus"))
    val out = graft.queries.GateScratch.dir("graft-avrort-").toString
    // decimals ride as strings through Avro's primitive surface — cast
    // back after the scan; exactness is part of what the hash checks
    graft.operators.AvroTable.write(orders, out)
    graft.operators.AvroTable.read(spark, out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("price_str").cast("decimal(18,2)")).cast("double").as("revenue"),
        sum(col("o_custkey")).as("custkey_sum"))
      .orderBy(col("o_orderstatus"))
  }

  val all: Seq[OpQuery] = Seq(
    s1_csv_scan, s18_jsonl_scan, s19_orc_scan, s13_jdbc_extract,
    s20_binaryfile_scan, s22_xml_scan, s23_csv_corrupt,
    s24_parquet_mergeschema, s25_partition_discovery, s26_csv_multiline_quote,
    s27_parquet_codecs, s28_recursive_lookup, s29_string_pruned_read,
    s31_jsonl_write, s32_csv_delim, s33_ctas, s34_corrupt_files,
    s35_cache_scan, s36_file_metadata, s37_text_scan, s38_csv_write_roundtrip,
    s39_jsonl_gzip_roundtrip, s43_json_array_read, s44_schema_on_read,
    s45_orc_roundtrip, s46_parquet_bloom_write, s53_avro_roundtrip)
}
