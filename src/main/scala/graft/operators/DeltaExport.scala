package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.JavaConverters._

/** Export a [[TableStore]] table's retained version history as a
  * self-contained Delta Lake table, so an external Delta reader can open
  * it — including `VERSION AS OF` time travel across the same
  * generations — without this library.
  *
  * The log follows the PUBLIC Delta protocol (delta.io PROTOCOL.md):
  * `_delta_log/<version%020d>.json`, newline-delimited JSON actions,
  * reader version 1 / writer version 2, `schemaString` = the Spark
  * StructType JSON (the same schema encoding Delta itself uses), file
  * paths relative to the exported table root. TableStore's full-swap
  * generation semantics map exactly onto Delta overwrite commits:
  * commit k+1 = remove every file of generation k + add every file of
  * generation k+1. Retained generations (survivors of vacuum) are
  * renumbered onto the contiguous 0..n-1 commit range Delta requires;
  * the original graft generation is recorded in each `commitInfo`.
  *
  * Data files are HARDLINKED into `exportDir/gen-vNNNNN/…` (parquet
  * files are immutable here, so the export is O(file count), not
  * O(bytes), and survives a later vacuum of the source history). This
  * closes the declared Delta-interop substitution as far as possible
  * offline (no Delta jars ship in this runtime): the reference stores
  * its medallion tables as Delta in Unity Catalog
  * (`01_config.ipynb:193-226`), and a stock Delta reader pointed at the
  * export sees exactly the bytes this engine's time travel serves.
  * DeltaExportSpec replays the log action-by-action and checks every
  * commit's reconstructed file set reads back row-identical to
  * `TableStore.read(table, asOf)`.
  */
object DeltaExport {

  /** Export `table` (all retained generations) to `exportDir` as a Delta
    * table; returns `exportDir`. Overwrites a previous export.
    */
  def exportTable(store: TableStore, table: String, exportDir: String): Path = {
    val out = Paths.get(exportDir)
    if (Files.exists(out)) deleteRecursively(out)
    val logDir = out.resolve("_delta_log")
    Files.createDirectories(logDir)

    val root = Paths.get(store.path(table))
    val versions = store.versions(table)
    val tableId = UUID.nameUUIDFromBytes(table.getBytes("UTF-8")).toString
    val current = store.currentVersion(table)
    var prevFiles: Seq[FileEntry] = Nil
    var prevSchema: String = null
    var prevPartCols: Seq[String] = Nil
    versions.zipWithIndex.foreach { case (v, deltaV) =>
      // history layout: <warehouse root>/_history/<flat table>/vNNNNN
      val srcDir =
        if (v == current) root
        else Paths.get(store.root, "_history",
          table.replace('.', '_'), f"v$v%05d")
      val genDir = out.resolve(f"gen-v$v%05d")
      val files = linkGeneration(srcDir, genDir, out)
      val schemaJson =
        store.spark.read.parquet(srcDir.toString).schema.json
      val ts = System.currentTimeMillis()
      val actions = Seq.newBuilder[String]
      actions += s"""{"commitInfo":{"timestamp":$ts,"operation":"${
        if (deltaV == 0) "WRITE" else "OVERWRITE"
      }","operationParameters":{},"engineInfo":"graft","graftVersion":$v}}"""
      if (deltaV == 0) {
        actions += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      }
      // partition columns are a property of THIS generation's layout —
      // the current table's layout would mislabel history across a
      // partition evolution (gen-0 flat files declared partitioned, or
      // vice versa), and stock readers take partition values from
      // metaData+partitionValues, not the files
      val genPartCols = partitionColumnsOf(srcDir)
      val partColsJson = genPartCols.map(jsonStr).mkString("[", ",", "]")
      if (deltaV == 0 || schemaJson != prevSchema || genPartCols != prevPartCols) {
        actions += s"""{"metaData":{"id":${jsonStr(tableId)},""" +
          s""""format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jsonStr(schemaJson)},""" +
          s""""partitionColumns":$partColsJson,"configuration":{},""" +
          s""""createdTime":$ts}}"""
      }
      prevFiles.foreach { f =>
        actions += s"""{"remove":{"path":${jsonStr(f.path)},""" +
          s""""deletionTimestamp":$ts,"dataChange":true}}"""
      }
      files.foreach { f =>
        actions += s"""{"add":{"path":${jsonStr(f.path)},""" +
          s""""partitionValues":${partitionValuesJson(f.path)},""" +
          s""""size":${f.size},"modificationTime":${f.mtime},""" +
          s""""dataChange":true}}"""
      }
      Files.writeString(
        logDir.resolve(f"$deltaV%020d.json"),
        actions.result().mkString("", "\n", "\n"))
      prevFiles = files
      prevSchema = schemaJson
      prevPartCols = genPartCols
    }
    out
  }

  /** Append a DELETE commit that removes rows via DELETION VECTORS
    * (reader version 3 + the deletionVectors table feature) instead of
    * rewriting data files — the write-side twin of [[DeltaImport]]'s DV
    * read: per touched file, `remove` + re-`add` with a
    * deletionVector descriptor pointing at a fresh
    * `deletion_vector_<uuid>.bin` ([[DeletionVectors.writeFile]] —
    * z85-uuid "u" addressing, CRC framing). The commit carries the
    * protocol upgrade, so a pre-DV reader refuses the table loudly
    * rather than resurrecting the deleted rows.
    *
    * `deletes`: table-root-relative data-file path → 0-based row
    * positions. The log is REPLAYED first (ADVICE r12): each targeted
    * path must be a LIVE add — a tombstoned or never-added path refuses
    * loudly — and when the live add already carries a deletion vector,
    * its bitmap is MERGED into the new one (the old writer silently
    * replaced the descriptor, resurrecting previously deleted rows).
    * The protocol action unions the table's existing features — both
    * explicit (`readerFeatures`/`writerFeatures`) and those implied by
    * a legacy version (e.g. minWriterVersion 2 → appendOnly,
    * invariants) — with deletionVectors, instead of overwriting them.
    */
  def appendDeletionVectors(tablePath: String,
      deletes: Seq[(String, Seq[Long])]): Unit = {
    require(deletes.nonEmpty && deletes.forall(_._2.nonEmpty),
      "appendDeletionVectors: empty delete set")
    val out = Paths.get(tablePath).toAbsolutePath.normalize
    val logDir = out.resolve("_delta_log")
    require(Files.isDirectory(logDir), s"not a Delta table: $tablePath")
    val (liveAdds, protocol, maxVersion) = DeltaLogReplay.replay(out)
    val next = maxVersion + 1
    val ts = System.currentTimeMillis()
    val actions = Seq.newBuilder[String]
    actions += s"""{"commitInfo":{"timestamp":$ts,"operation":"DELETE","operationParameters":{},"engineInfo":"graft"}}"""
    val readerFeats = (protocol.readerFeaturesWithLegacy :+ "deletionVectors")
      .distinct.sorted
    val writerFeats = (protocol.writerFeaturesWithLegacy :+ "deletionVectors")
      .distinct.sorted
    actions += s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      s""""readerFeatures":${readerFeats.map(jsonStr).mkString("[", ",", "]")},""" +
      s""""writerFeatures":${writerFeats.map(jsonStr).mkString("[", ",", "]")}}}"""
    deletes.foreach { case (rel, positions) =>
      val live = liveAdds.getOrElse(rel, throw new IllegalArgumentException(
        s"appendDeletionVectors: '$rel' is not a live add in the log — " +
          "deleting from a tombstoned or unknown file would corrupt the table"))
      val dataFile = out.resolve(rel)
      require(Files.isRegularFile(dataFile), s"no such data file: $rel")
      val existing: Array[Long] = live.dv match {
        case None => Array.emptyLongArray
        case Some(d) => DeletionVectors.load(
          out.toString, d.storageType, d.pathOrInlineDv, d.offset,
          d.sizeInBytes, d.cardinality)
      }
      val sorted = (existing ++ positions).distinct.sorted
      val (dvPath, offset) = DeletionVectors.writeFile(out, sorted)
      val dvSize = DeletionVectors.serialize(sorted).length
      actions += s"""{"remove":{"path":${jsonStr(rel)},"deletionTimestamp":$ts,"dataChange":true}}"""
      actions += s"""{"add":{"path":${jsonStr(rel)},""" +
        s""""partitionValues":${partitionValuesJson(rel)},""" +
        s""""size":${Files.size(dataFile)},"modificationTime":${
          Files.getLastModifiedTime(dataFile).toMillis},"dataChange":true,""" +
        s""""deletionVector":{"storageType":"u","pathOrInlineDv":${jsonStr(dvPath)},""" +
        s""""offset":$offset,"sizeInBytes":$dvSize,"cardinality":${sorted.length}}}}"""
    }
    Files.writeString(
      logDir.resolve(f"$next%020d.json"),
      actions.result().mkString("", "\n", "\n"))
  }

  /** Write a protocol-shaped parquet CHECKPOINT of the table state at
    * `version` — plus `_last_checkpoint` — so the JSON commits at or
    * below it can be cleaned up and the table still opens (the
    * metadata-retention lifecycle every long-lived Delta table goes
    * through; [[DeltaImport]] reads checkpoints, and gate
    * `s55_delta_checkpoint_dv` proves the round trip with the JSON
    * history actually deleted). `parts > 1` writes a MULTI-PART
    * checkpoint (`<v>.checkpoint.<i>.<n>.parquet`, add actions hashed
    * across parts, metaData/protocol in part 1) — the shape large
    * tables' checkpoints take in the wild.
    *
    * Checkpoint contents per PROTOCOL.md: the latest protocol and
    * metaData at-or-before `version`, and every LIVE add (expired
    * remove tombstones are omitted — this writer checkpoints for
    * readers, not for vacuum bookkeeping). Add actions carry
    * partitionValues as a true map and the deletionVector descriptor
    * when present, so a DV table survives the round trip.
    */
  def writeCheckpoint(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, version: Long, parts: Int = 1): Unit = {
    import org.apache.spark.sql.expressions.Window
    // selective import: functions._ would shadow the `version` parameter
    // with the built-in version() function
    import org.apache.spark.sql.functions.{col, lit, when, coalesce, struct,
      map, from_json, to_json, regexp_extract, input_file_name, row_number,
      pmod, xxhash64}
    import org.apache.spark.sql.types.{DataType, StructType}
    require(parts >= 1 && parts <= 9999, s"parts out of range: $parts")
    val out = Paths.get(tablePath).toAbsolutePath.normalize
    val logDir = out.resolve("_delta_log")
    val JsonCommit = """(\d{20})\.json""".r
    val listing = Files.list(logDir)
    val names = try listing.iterator().asScala
      .map(_.getFileName.toString).toSeq finally listing.close()
    val versions = names.collect { case JsonCommit(v) => v.toLong }.sorted
    require(versions.contains(version),
      s"no JSON commit for version $version (have ${versions.mkString(",")})")
    require(versions.head == 0L,
      "checkpointing needs the full JSON history from version 0")
    val files = versions.filter(_ <= version)
      .map(v => logDir.resolve(f"$v%020d.json").toString)
    val raw0 = spark.read.json(files: _*)
    def hasField(schema: StructType, dotted: String): Boolean =
      dotted.split('.').foldLeft(Option[DataType](schema)) {
        case (Some(s: StructType), n) => s.find(_.name == n).map(_.dataType)
        case _ => None
      }.isDefined
    val raw = raw0.withColumn("version",
      regexp_extract(input_file_name(), """(\d{20})\.json""", 1).cast("long"))
    def optCol(name: String) =
      if (hasField(raw0.schema, name)) col(name) else lit(null).cast("string")
    val pathCol = coalesce(
      optCol("add.path").cast("string"), optCol("remove.path").cast("string"))
    val isAdd =
      if (hasField(raw0.schema, "add")) col("add").isNotNull else lit(false)
    val w = Window.partitionBy(col("__path"))
      .orderBy(col("version").desc, col("__isAdd").desc)
    val liveAdds = raw
      .withColumn("__path", pathCol).withColumn("__isAdd", isAdd)
      .filter(col("__path").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__isAdd"))
    val dvType = "struct<storageType:string,pathOrInlineDv:string," +
      "offset:int,sizeInBytes:int,cardinality:bigint>"
    val dvStruct =
      if (hasField(raw0.schema, "add.deletionVector.storageType"))
        when(col("add.deletionVector").isNotNull, struct(
          col("add.deletionVector.storageType").cast("string").as("storageType"),
          col("add.deletionVector.pathOrInlineDv").cast("string").as("pathOrInlineDv"),
          col("add.deletionVector.offset").cast("int").as("offset"),
          col("add.deletionVector.sizeInBytes").cast("int").as("sizeInBytes"),
          col("add.deletionVector.cardinality").cast("long").as("cardinality")))
      else lit(null).cast(dvType)
    // an unpartitioned table writes "partitionValues":{} — JSON schema
    // inference DROPS an always-empty object field entirely
    val pvMap =
      if (hasField(raw0.schema, "add.partitionValues"))
        coalesce(
          from_json(to_json(col("add.partitionValues")),
            DataType.fromDDL("map<string,string>")),
          map().cast("map<string,string>"))
      else map().cast("map<string,string>")
    val addRows = liveAdds.select(struct(
      col("add.path").cast("string").as("path"),
      pvMap.as("partitionValues"),
      col("add.size").cast("long").as("size"),
      col("add.modificationTime").cast("long").as("modificationTime"),
      coalesce(col("add.dataChange").cast("boolean"), lit(true)).as("dataChange"),
      dvStruct.as("deletionVector")).as("add"))
    val metaRows = raw.filter(
        if (hasField(raw0.schema, "metaData")) col("metaData").isNotNull
        else lit(false))
      .orderBy(col("version").desc).limit(1).select(col("metaData"))
    val protoRows = raw.filter(
        if (hasField(raw0.schema, "protocol")) col("protocol").isNotNull
        else lit(false))
      .orderBy(col("version").desc).limit(1).select(col("protocol"))
    require(!metaRows.isEmpty && !protoRows.isEmpty,
      "log carries no metaData/protocol at-or-before the checkpoint version")
    val cp = addRows
      .unionByName(metaRows, allowMissingColumns = true)
      .unionByName(protoRows, allowMissingColumns = true)
      // metaData/protocol in part 1 (hash 0); adds spread across parts
      .withColumn("__part",
        when(col("add").isNull, lit(0))
          .otherwise(pmod(xxhash64(col("add.path")), lit(parts.toLong)).cast("int")))
      .transform(Freeze.eager) // one plan, N part-filtered writes below
    val nActions = cp.count()
    val partNames = (0 until parts).map { i =>
      if (parts == 1) f"$version%020d.checkpoint.parquet"
      else f"$version%020d.checkpoint.${i + 1}%010d.$parts%010d.parquet"
    }
    partNames.zipWithIndex.foreach { case (name, i) =>
      val tmp = Files.createTempDirectory(logDir, ".cp-tmp-")
      cp.filter(col("__part") === i).drop("__part")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException("no checkpoint part written"))
        finally s.close()
      }
      Files.move(part, logDir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val walk = Files.walk(tmp)
      val leftover = try walk.iterator().asScala.toSeq finally walk.close()
      leftover.reverse.foreach(p => Files.deleteIfExists(p))
    }
    val partsField = if (parts == 1) "" else s""","parts":$parts"""
    Files.writeString(logDir.resolve("_last_checkpoint"),
      s"""{"version":$version,"size":$nActions$partsField}""")
  }

  private case class FileEntry(path: String, size: Long, mtime: Long)

  /** Hardlink one generation's parquet files under `genDir`, preserving
    * partition subpaths; returns export-root-relative entries. Falls
    * back to copying if the filesystem refuses links.
    */
  private def linkGeneration(srcDir: Path, genDir: Path, exportRoot: Path): Seq[FileEntry] = {
    val walk = Files.walk(srcDir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .filter(p => !srcDir.relativize(p).toString.startsWith("_"))
      .map { p =>
        val rel = srcDir.relativize(p)
        val dst = genDir.resolve(rel)
        Files.createDirectories(dst.getParent)
        try Files.createLink(dst, p)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(p, dst)
        }
        FileEntry(
          exportRoot.relativize(dst).toString,
          Files.size(dst),
          Files.getLastModifiedTime(dst).toMillis)
      }
      .toSeq.sortBy(_.path)
    finally walk.close()
  }

  /** Partition columns of one GENERATION directory, from its first
    * level of Hive `col=` segments (recursing for multi-level layouts).
    */
  private def partitionColumnsOf(genDir: Path): Seq[String] = {
    def firstPartDir(d: Path): Option[Path] = {
      val st = Files.list(d)
      try st.iterator().asScala
        .find(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      finally st.close()
    }
    Iterator.iterate(firstPartDir(genDir))(_.flatMap(firstPartDir))
      .takeWhile(_.isDefined).map(_.get.getFileName.toString.split("=", 2)(0))
      .toSeq
  }

  /** Hive-style `k=v` path segments → Delta partitionValues map.
    * Decoded with Hive's own unescaping (the inverse of how Spark wrote
    * the directory) — URLDecoder additionally maps '+' to space, which
    * corrupts any value containing a literal plus.
    */
  private def partitionValuesJson(relPath: String): String = {
    val kvs = relPath.split('/').dropRight(1).toSeq
      .filter(_.contains('='))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        s"${jsonStr(k)}:${jsonStr(
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v))}"
      }
    kvs.mkString("{", ",", "}")
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    val all = try s.iterator().asScala.toSeq finally s.close()
    all.reverse.foreach(Files.delete)
  }
}
