package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.collection.JavaConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Read a STOCK Delta Lake table — one written by any engine following
  * the public protocol (delta.io PROTOCOL.md), not just our own
  * [[DeltaExport]] — without Delta jars: parse `_delta_log`, reconstruct
  * the live file set at a version, and serve it as a DataFrame.
  *
  * This closes the other half of the declared Delta-interop
  * substitution: [[DeltaExport]] lets a stock reader open OUR tables;
  * this lets us open THEIRS — the migration path for a reference user
  * whose medallion tables already live in Delta (`01_config.ipynb:
  * 193-226` stores every bronze/silver/gold table that way).
  *
  * Protocol surface implemented (reader version ≤ 2, and version 3
  * when the table's readerFeatures are within [deletionVectors]):
  *  - newline-delimited JSON commits `NNNNNNNNNNNNNNNNNNNN.json`
  *  - parquet checkpoints (single- and multi-part) + `_last_checkpoint`,
  *    so tables whose early JSON has been cleaned up still open
  *  - `remove` tombstones, schema evolution via the latest `metaData`
  *    at-or-before the requested version, `VERSION AS OF` time travel
  *  - partition columns reattached from each add-action's
  *    `partitionValues` (the protocol's source of truth — data files
  *    legitimately omit partition columns), cast to the table schema
  *  - deletion vectors (round 12 — VERDICT r11 item 7; stock DELETEs
  *    increasingly write them): each live add's DV decodes in an
  *    executor task ([[DeletionVectors]]) and the marked positions are
  *    anti-joined away on `_metadata.row_index`
  *
  * Refused loudly (features that change how DATA bytes are read):
  * minReaderVersion > 3, reader features beyond deletionVectors
  * (column mapping, v2 checkpoints, type widening), and
  * absolute/scheme-qualified add paths (shallow clones). Silent wrong
  * answers are worse than a clear "needs Delta jars".
  *
  * Scale posture: the log is parsed with `spark.read.json/parquet` and
  * the live-set reconstruction is a window over (path → last action) —
  * all distributed. The final live PATH LIST does collect to the driver
  * to feed `spark.read.parquet(paths)` (same order as a catalog file
  * index: ~100 bytes/file, so ~100 MB at a million files — fine for the
  * target scale, but it is driver-resident state, not zero). The
  * file→partition mapping joins broadcast against the scan.
  */
object DeltaImport {

  /** Live data as of `version` (default: latest commit). */
  def read(spark: SparkSession, tablePath: String, version: Option[Long] = None): DataFrame = {
    val target = resolveVersion(tablePath, version)
    val actions = actionFrame(spark, tablePath, target)
    checkReadable(spark, actions)

    val (schema, rawPartCols, cmMode) = latestMetadata(spark, actions)
    // column mapping (NAME mode): each logical field carries its
    // parquet-physical name in the schemaString metadata; data files and
    // partitionValues keys speak PHYSICAL, the returned DataFrame speaks
    // LOGICAL. ID mode (parquet field-id resolution) stays refused in
    // checkReadable. Nested mapped columns are out of scope — refuse.
    val phys: Map[String, String] = schema.fields.map { f =>
      val p =
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      if (cmMode == "name" && f.dataType.isInstanceOf[StructType])
        throw new IllegalArgumentException(
          s"nested column '${f.name}' under column mapping not supported")
      f.name -> p
    }.toMap
    val physToLogical = phys.map(_.swap)
    // metaData.partitionColumns: stock writers disagree on logical vs
    // physical entries under column mapping — accept either, resolve to
    // logical, refuse names matching neither
    val partCols = rawPartCols.map { pc =>
      if (schema.fieldNames.contains(pc)) pc
      else physToLogical.getOrElse(pc, throw new IllegalArgumentException(
        s"partition column '$pc' matches neither a logical nor a physical field"))
    }
    val dataSchema = StructType(
      schema.filterNot(f => partCols.contains(f.name))
        .map(f => f.copy(name = phys(f.name))))

    // live set: per path, the LAST action at-or-before target must be an
    // add (a later remove tombstones it). Window by path, order by
    // (version, add-wins-within-commit) — checkpoint rows carry their
    // checkpoint version and lose to any later JSON action on the path.
    val w = Window.partitionBy(col("path"))
      .orderBy(col("version").desc, col("isAdd").desc)
    val live = actions
      .filter(col("path").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("isAdd"))
      .select(col("path"), col("partitionValues"), col("dvStorage"),
        col("dvPathOrInline"), col("dvOffset"), col("dvSize"),
        col("dvCardinality"))
      .transform(Freeze.eager)

    // add-action paths are URL-encoded table-relative paths per the
    // protocol, but MAY be absolute URIs (e.g. shallow clones). We don't
    // implement external-file resolution, so refuse loudly rather than
    // mis-prefix them under tablePath and read garbage.
    val files = live.select("path").collect().map { r =>
      val decoded = java.net.URLDecoder.decode(r.getString(0), "UTF-8")
      require(!decoded.startsWith("/") && !decoded.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*"),
        s"absolute/scheme-qualified add path not supported (shallow clone?): $decoded")
      s"$tablePath/$decoded"
    }
    val scan =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
      else spark.read.schema(dataSchema).parquet(files.toIndexedSeq: _*)

    // deletion vectors (reader version 3 / deletionVectors feature): the
    // live add may carry a row-index bitmap of logically-deleted rows.
    // Decode each DV in an EXECUTOR task (flatMap over the descriptor
    // rows — never driver-resident), pair positions with the file's
    // table-relative path, and anti-join the scan on
    // (__rel, _metadata.row_index). The _metadata column must be bound
    // before any join — a post-shuffle input_file_name() is empty.
    val dvCount = live.filter(col("dvStorage").isNotNull).count()
    val needRel = partCols.nonEmpty || dvCount > 0
    val relExpr = url_decode(regexp_extract(input_file_name(),
      java.util.regex.Pattern.quote(tablePath) + "/(.*)$", 1))
    var df = if (needRel && files.nonEmpty) scan.withColumn("__rel", relExpr) else scan
    if (dvCount > 0 && files.nonEmpty) {
      import spark.implicits._
      val deleted = live.filter(col("dvStorage").isNotNull)
        .select(url_decode(col("path")).as("rel"), col("dvStorage"),
          col("dvPathOrInline"), col("dvOffset"), col("dvSize"),
          col("dvCardinality"))
        .as[(String, String, String, Option[Int], Int, Long)]
        .flatMap { case (rel, st, p, off, sz, card) =>
          DeletionVectors.load(tablePath, st, p, off, sz, card)
            .map(pos => (rel, pos))
        }
        .toDF("__rel", "__pos")
      df = df.withColumn("__pos", col("_metadata.row_index"))
        .join(deleted, Seq("__rel", "__pos"), "left_anti")
        .drop("__pos")
    }

    if (partCols.isEmpty)
      df.drop("__rel")
        .select(schema.map(f => col(phys(f.name)).as(f.name)): _*)
    else {
      // reattach partition columns: file → partitionValues broadcast
      // join on the table-relative path (input_file_name is a file: URI
      // with URL-encoded segments — normalize both sides via url_decode)
      val mapping = live.select(
        url_decode(col("path")).as("__rel"),
        col("partitionValues"))
      val joined =
        (if (files.isEmpty) df.withColumn("__rel", lit(null).cast("string"))
         else df)
          .join(broadcast(mapping), Seq("__rel"))
      val withParts = partCols.foldLeft(joined) { (df2, p) =>
        val tpe = schema(p).dataType
        // partitionValues keys are PHYSICAL under column mapping (spec);
        // coalesce with the logical key for legacy writers that logged
        // logical names — a genuinely-null partition value stays null
        df2.withColumn(p,
          coalesce(element_at(col("partitionValues"), phys(p)),
            element_at(col("partitionValues"), p)).cast(tpe))
      }
      withParts.select(schema.map(f =>
        (if (partCols.contains(f.name)) col(f.name)
        else col(phys(f.name))).as(f.name)): _*)
    }
  }

  /** Commit versions present in the log (JSON commits plus checkpoint
    * floors — a table whose early JSON was vacuumed lists its checkpoint
    * version as the earliest readable point).
    */
  def versions(tablePath: String): Seq[Long] = {
    val log = Paths.get(tablePath, "_delta_log")
    require(Files.isDirectory(log), s"not a Delta table (no _delta_log): $tablePath")
    val entries = listFileNames(log)
    val json = entries.collect { case JsonCommit(v) => v.toLong }
    val cp = entries.collect { case CheckpointFile(v, _, _) => v.toLong }
    (json ++ cp).distinct.sorted
  }

  /** Log-derived CHANGE FEED (stock `table_changes` semantics without
    * cdc files): for each commit in `(fromVersion, toVersion]`, emit the
    * row-level changes its actions imply, tagged `_change_type`
    * (insert/delete) + `_commit_version` —
    *
    *   - an added file (dataChange=true): its rows minus its DV →
    *     `insert`; a removed file: its rows minus its PRIOR DV (the
    *     state consumers had seen) → `delete` — file-level granularity,
    *     exactly what stock CDF emits for rewrites;
    *   - a file removed AND re-added in one commit (the DV DELETE
    *     shape): only the DV DIFF rows — newly-covered positions →
    *     `delete`, uncovered positions (a DV shrink) → `insert` — so a
    *     1-row delete on a 1M-row file emits 1 change row, not 2M.
    *
    * Scale: only CHANGED files are scanned (the log names them — this
    * is the point of log-derived CDC vs a two-sided diff), position
    * filters ride the same `_metadata.row_index` joins as [[read]].
    * Every version in the range must still have its JSON commit
    * (checkpoint-collapsed history cannot be split per-commit — refuse
    * loudly); cdc actions and column mapping are out of scope for this
    * derivation, also refused.
    */
  def readChanges(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"empty change range: ($fromVersion, $toVersion]")
    val vs = versions(tablePath)
    require(vs.contains(fromVersion) && vs.contains(toVersion),
      s"versions [$fromVersion, $toVersion] not in available ${vs.mkString(",")}")
    val log = Paths.get(tablePath, "_delta_log")
    ((fromVersion + 1) to toVersion).foreach { v =>
      require(Files.exists(log.resolve(f"$v%020d.json")),
        s"version $v has no JSON commit (checkpoint-collapsed?) — " +
          "a change feed cannot be split per-commit without it")
      val lines = Files.readAllLines(log.resolve(f"$v%020d.json")).asScala
      require(!lines.exists(_.contains("\"cdc\"")),
        s"version $v carries cdc actions — reading writer-provided change " +
          "files is not implemented; refusing a possibly-partial derivation")
    }
    val actions = actionFrame(spark, tablePath, toVersion)
    val (schema, partCols, cmMode) = latestMetadata(spark, actions)
    require(cmMode == "none",
      "change feed over column-mapped tables not supported")
    val dataSchema = StructType(schema.filterNot(f => partCols.contains(f.name)))

    // driver-side replay of (path → (partitionValues, DV rows)) — one
    // pass ascending; state BEFORE each commit in range feeds the
    // remove/diff branches. DV bitmaps are per-file and small; loading
    // the few descriptors a commit touches on the driver is
    // metadata-sized work.
    val rows = actions.select(col("version"), col("isAdd"), col("path"),
        col("partitionValues"), col("dvStorage"), col("dvPathOrInline"),
        col("dvOffset"), col("dvSize"), col("dvCardinality"), col("dataChange"))
      .filter(col("path").isNotNull)
      .collect().sortBy(r => (r.getLong(0), r.getBoolean(1)))
    final case class FState(pvals: Map[String, String], dv: Array[Long])
    val state = scala.collection.mutable.Map[String, FState]()
    def dvOf(r: org.apache.spark.sql.Row): Array[Long] =
      if (r.isNullAt(4)) Array.emptyLongArray
      else DeletionVectors.load(tablePath, r.getString(4), r.getString(5),
        if (r.isNullAt(6)) None else Some(r.getInt(6)), r.getInt(7), r.getLong(8))
    // (relPath, pvals, changeType, version, include: Some(positions) |
    //  exclude positions when include empty)
    val changes = scala.collection.mutable.ArrayBuffer[
      (String, Map[String, String], String, Long, Option[Array[Long]], Array[Long])]()
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).foreach { case (v, acts) =>
      val adds = acts.filter(_.getBoolean(1)).map(r => r.getString(2) -> r).toMap
      val rems = acts.filterNot(_.getBoolean(1)).map(_.getString(2)).toSet
      // dataChange=false actions (OPTIMIZE / compaction / Z-order
      // rewrites) rearrange bytes without changing the logical table —
      // stock CDF emits NOTHING for them; a derivation that echoed them
      // as delete+insert would misstate every maintenance commit. The
      // emission filter is per-ACTION (a commit may mix); state-apply
      // below still sees everything, so the live-file replay stays
      // correct across maintenance commits inside the range.
      val remDataChange = acts.filterNot(_.getBoolean(1))
        .map(r => r.getString(2) -> r.getBoolean(9)).toMap
      if (v > fromVersion) {
        adds.foreach { case (p, r) =>
          val pv = Option(r.getMap[String, String](3))
            .map(_.toMap).getOrElse(Map.empty)
          val newDv = dvOf(r)
          if (!r.getBoolean(9)) ()
          else if (rems.contains(p)) {
            val oldDv = state.get(p).map(_.dv).getOrElse(Array.emptyLongArray)
            val covered = newDv.toSet -- oldDv.toSet
            val uncovered = oldDv.toSet -- newDv.toSet
            if (covered.nonEmpty)
              changes += ((p, pv, "delete", v, Some(covered.toArray.sorted), Array.emptyLongArray))
            if (uncovered.nonEmpty)
              changes += ((p, pv, "insert", v, Some(uncovered.toArray.sorted), Array.emptyLongArray))
          } else {
            changes += ((p, pv, "insert", v, None, newDv))
          }
        }
        rems.filterNot(adds.contains)
          .filter(p => remDataChange.getOrElse(p, true)).foreach { p =>
          val st = state.getOrElse(p, FState(Map.empty, Array.emptyLongArray))
          changes += ((p, st.pvals, "delete", v, None, st.dv))
        }
      }
      // advance the state AFTER emitting (removes drop, adds set)
      rems.foreach(state.remove)
      adds.foreach { case (p, r) =>
        state(p) = FState(Option(r.getMap[String, String](3))
          .map(_.toMap).getOrElse(Map.empty), dvOf(r))
      }
    }

    val outSchema = StructType(schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType)))
    if (changes.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)

    // one scan per (changeType, version) group, position filters via
    // broadcast joins on (_rel, row_index)
    val groups = changes.groupBy(c => (c._3, c._4)).toSeq.sortBy(_._1._2)
    val parts: Seq[DataFrame] = groups.map { case ((ctype, v), cs0) =>
      val cs = cs0.toSeq
      val files = cs.map(c => s"$tablePath/${
        java.net.URLDecoder.decode(c._1, "UTF-8")}")
      val relExpr = url_decode(regexp_extract(input_file_name(),
        java.util.regex.Pattern.quote(tablePath) + "/(.*)$", 1))
      val scan = spark.read.schema(dataSchema).parquet(files.distinct: _*)
        .withColumn("__rel", relExpr)
        .withColumn("__pos", col("_metadata.row_index"))
      import spark.implicits._
      val incl = cs.filter(_._5.isDefined)
        .flatMap(c => c._5.get.map(p => (java.net.URLDecoder.decode(c._1, "UTF-8"), p)))
      val excl = cs.filter(_._5.isEmpty)
        .flatMap(c => c._6.map(p => (java.net.URLDecoder.decode(c._1, "UTF-8"), p)))
      val inclPaths = cs.filter(_._5.isDefined)
        .map(c => java.net.URLDecoder.decode(c._1, "UTF-8")).toSet
      var df = scan
      if (incl.nonEmpty) {
        // include-filtered files keep ONLY the listed positions; files
        // in the same group without an include list keep everything
        val inclDf = broadcast(incl.toDF("__rel", "__pos"))
        val keepAll = df.filter(!col("__rel").isin(inclPaths.toSeq: _*))
        val keepSome = df.join(inclDf, Seq("__rel", "__pos"), "left_semi")
        df = keepAll.unionByName(keepSome)
      }
      if (excl.nonEmpty)
        df = df.join(broadcast(excl.toDF("__rel", "__pos")),
          Seq("__rel", "__pos"), "left_anti")
      // partition reattach from the action's own partitionValues
      val pvRows = cs.map(c =>
        org.apache.spark.sql.Row.fromSeq(
          java.net.URLDecoder.decode(c._1, "UTF-8") +:
            partCols.map(c._2.get(_).orNull)))
      val mapping = spark.createDataFrame(
        spark.sparkContext.parallelize(pvRows.distinct.toSeq, 1),
        StructType(org.apache.spark.sql.types.StructField("__rel",
          org.apache.spark.sql.types.StringType) +:
          partCols.map(p => org.apache.spark.sql.types.StructField(
            s"__pv_$p", org.apache.spark.sql.types.StringType))))
      val withParts = partCols.foldLeft(df.join(broadcast(mapping), Seq("__rel"))) {
        (d, p) => d.withColumn(p, col(s"__pv_$p").cast(schema(p).dataType))
      }
      withParts.select(schema.map(f => col(f.name)) ++ Seq(
        lit(ctype).as("_change_type"), lit(v).as("_commit_version")): _*)
    }
    parts.reduce(_ unionByName _)
  }

  /** Time travel BY TIMESTAMP (`timestampAsOf` in stock Delta): resolve
    * the latest commit whose timestamp is <= `tsMillis`, then delegate
    * to [[read]]. Per the protocol, each commit's timestamp is its
    * `commitInfo.timestamp` when present (the in-commit form modern
    * writers emit), falling back to the log file's modification time;
    * and because both sources are wall clocks that can run backwards
    * across writers, stock readers apply the monotonicity adjustment
    * `ts(v) = max(ts(v), ts(v-1) + 1)` before the comparison — we do
    * the same, so a clock-skewed middle commit can never shadow its
    * successor (ref: the reference pipeline's daily reruns rely on
    * Databricks `timestampAsOf` audits, ironman_dag.py:189-244 retry
    * semantics).
    *
    * A timestamp earlier than the first commit refuses loudly (there is
    * no table state to serve) — same posture as stock Delta.
    */
  def readAsOfTimestamp(spark: SparkSession, tablePath: String,
                        tsMillis: Long): DataFrame = {
    val ts = commitTimestamps(spark, tablePath)
    val eligible = ts.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"timestamp $tsMillis predates the first commit " +
        s"(${ts.head._2} at version ${ts.head._1}) — no state to serve")
    read(spark, tablePath, Some(eligible.maxBy(_._1)._1))
  }

  /** (version, monotonically-adjusted commit timestamp) for every JSON
    * commit in the log, ascending by version. Checkpoint-only floors
    * (vacuumed JSON) carry the checkpoint parquet's mtime.
    */
  def commitTimestamps(spark: SparkSession, tablePath: String): Seq[(Long, Long)] = {
    val log = Paths.get(tablePath, "_delta_log")
    require(Files.isDirectory(log), s"not a Delta table (no _delta_log): $tablePath")
    val entries = listFileNames(log)
    val jsonByV = entries.collect { case n @ JsonCommit(v) => v.toLong -> n }.toMap
    val raw = versions(tablePath).map { v =>
      val fromCommitInfo = jsonByV.get(v).flatMap { n =>
        val p = log.resolve(n)
        // one tiny file per commit; driver-side line scan, same posture
        // as the action-frame's metadata walk
        Files.readAllLines(p).asScala.iterator
          .filter(_.contains("\"commitInfo\""))
          .flatMap(CommitInfoTs.findFirstMatchIn(_))
          .map(_.group(1).toLong).toSeq.headOption
      }
      val fname = jsonByV.getOrElse(v,
        entries.collectFirst {
          case n @ CheckpointFile(cv, _, _) if cv.toLong == v => n
        }.getOrElse(throw new IllegalStateException(s"version $v vanished")))
      v -> fromCommitInfo.getOrElse(
        Files.getLastModifiedTime(log.resolve(fname)).toMillis)
    }
    // stock Delta's monotonicity adjustment for backwards wall clocks
    raw.scanLeft((-1L, Long.MinValue)) { case ((_, prev), (v, t)) =>
      (v, math.max(t, if (prev == Long.MinValue) t else prev + 1))
    }.tail
  }

  private val CommitInfoTs = """"timestamp"\s*:\s*(\d+)""".r

  // ---- internals ------------------------------------------------------

  /** Files.list holds an open DirectoryStream — materialize and close,
    * or repeated imports leak file descriptors (round-5 advice item).
    */
  private def listFileNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
  }

  private val JsonCommit = """(\d{20})\.json""".r
  private val CheckpointFile =
    """(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet""".r

  private def resolveVersion(tablePath: String, requested: Option[Long]): Long = {
    val vs = versions(tablePath)
    require(vs.nonEmpty, s"empty _delta_log at $tablePath")
    requested match {
      case None => vs.max
      case Some(v) =>
        require(vs.contains(v) || (v >= vs.min && v <= vs.max),
          s"version $v not in available range [${vs.min}, ${vs.max}]")
        v
    }
  }

  /** Normalized action frame at-or-before `target`: one row per action
    * with (version, isAdd, path, partitionValues, metaData-ish columns).
    * Starts from the newest checkpoint ≤ target when one exists (its
    * JSON predecessors may already be cleaned up), else from JSON alone.
    */
  private def actionFrame(spark: SparkSession, tablePath: String, target: Long): DataFrame = {
    val log = Paths.get(tablePath, "_delta_log")
    val entries = listFileNames(log)

    val cpVersion: Option[Long] = entries
      .collect { case CheckpointFile(v, _, _) => v.toLong }
      .filter(_ <= target).sorted.lastOption
    val cpParts: Seq[String] = cpVersion.toSeq.flatMap { v =>
      val parts = entries.collect {
        case n @ CheckpointFile(cv, idx, total) if cv.toLong == v =>
          (s"$log/$n", Option(total).map(_.toInt))
      }
      // multi-part completeness: every part file NAMES the total part
      // count (<v>.checkpoint.<i>.<n>.parquet) — reading a checkpoint
      // with a part missing would silently drop a slice of the live
      // add set, the worst possible failure mode. Refuse loudly.
      parts.map(_._2).distinct match {
        case Seq(Some(n)) =>
          require(parts.size == n,
            s"multi-part checkpoint at version $v is incomplete: " +
              s"${parts.size} of $n parts present — refusing a partial live set")
        case Seq(None) => // single-part checkpoint
        case other => throw new IllegalArgumentException(
          s"checkpoint at version $v mixes part shapes: $other")
      }
      parts.map(_._1)
    }
    val jsonFiles = entries.collect {
      case n @ JsonCommit(v)
        if v.toLong <= target && cpVersion.forall(v.toLong > _) => s"$log/$n"
    }
    require(cpParts.nonEmpty || jsonFiles.nonEmpty,
      s"no readable log entries for version $target at $tablePath")

    def normalize(df: DataFrame, versionCol: org.apache.spark.sql.Column): DataFrame = {
      def optCol(name: String) =
        if (hasField(df.schema, name)) col(name) else lit(null).cast("string")
      // JSON schema inference reads {"a":"1"} maps as STRUCTs; checkpoint
      // parquet stores true maps. to_json∘from_json normalizes both.
      def optMap(name: String) =
        if (hasField(df.schema, name))
          from_json(to_json(col(name)),
            DataType.fromDDL("map<string,string>"))
        else lit(null).cast("map<string,string>")
      df.select(
        versionCol.as("version"),
        (if (hasField(df.schema, "add")) col("add").isNotNull else lit(false))
          .as("isAdd"),
        coalesce(
          optCol("add.path").cast("string"),
          optCol("remove.path").cast("string")).as("path"),
        optMap("add.partitionValues").as("partitionValues"),
        optCol("metaData.schemaString").cast("string").as("schemaString"),
        (if (hasField(df.schema, "metaData.partitionColumns"))
          col("metaData.partitionColumns").cast("array<string>")
        else lit(null).cast("array<string>")).as("partitionColumns"),
        optMap("metaData.configuration").as("configuration"),
        optCol("protocol.minReaderVersion").cast("int").as("minReaderVersion"),
        (if (hasField(df.schema, "protocol.readerFeatures"))
          col("protocol.readerFeatures").cast("array<string>")
        else lit(null).cast("array<string>")).as("readerFeatures"),
        coalesce(
          optCol("add.dataChange").cast("boolean"),
          optCol("remove.dataChange").cast("boolean"),
          lit(true)).as("dataChange"),
        optCol("add.deletionVector.storageType").cast("string").as("dvStorage"),
        optCol("add.deletionVector.pathOrInlineDv").cast("string").as("dvPathOrInline"),
        optCol("add.deletionVector.offset").cast("int").as("dvOffset"),
        optCol("add.deletionVector.sizeInBytes").cast("int").as("dvSize"),
        optCol("add.deletionVector.cardinality").cast("long").as("dvCardinality"))
    }

    val fromJson =
      if (jsonFiles.isEmpty) None
      else Some {
        val raw = spark.read.json(jsonFiles.toIndexedSeq: _*)
        normalize(
          raw.withColumn("__f", input_file_name()),
          regexp_extract(col("__f"), """(\d{20})\.json""", 1).cast("long"))
      }
    val fromCp = cpVersion.map { v =>
      normalize(spark.read.parquet(cpParts: _*), lit(v))
    }
    (fromCp.toSeq ++ fromJson.toSeq).reduce(_ unionByName _)
  }

  private def hasField(schema: StructType, dotted: String): Boolean = {
    val parts = dotted.split('.')
    parts.foldLeft(Option[DataType](schema)) {
      case (Some(s: StructType), name) => s.find(_.name == name).map(_.dataType)
      case _ => None
    }.isDefined
  }

  private def checkReadable(spark: SparkSession, actions: DataFrame): Unit = {
    val probe = actions.agg(
      max(col("minReaderVersion")).as("rv"),
      max(element_at(col("configuration"), "delta.columnMapping.mode")).as("cm"),
      array_distinct(flatten(collect_list(col("readerFeatures")))).as("feats"))
      .collect()(0)
    val rv = if (probe.isNullAt(0)) 1 else probe.getInt(0)
    val feats =
      if (probe.isNullAt(2)) Seq.empty[String] else probe.getSeq[String](2)
    // reader version 3 is table-features based: readable iff every
    // listed reader feature is one we implement (deletionVectors since
    // round 12, columnMapping in NAME mode since round 13). Anything
    // else — v2Checkpoint, typeWidening — still refuses loudly rather
    // than serving wrong bytes.
    val unsupported =
      feats.filterNot(Set("deletionVectors", "columnMapping").contains)
    require(rv <= 2 || (rv == 3 && unsupported.isEmpty),
      s"table requires Delta reader version $rv with features " +
        s"${feats.mkString("[", ",", "]")}; this offline reader supports " +
        s"<= 2, or 3 with [deletionVectors, columnMapping] only" +
        (if (unsupported.nonEmpty) s" (unsupported: ${unsupported.mkString(",")})"
         else ""))
    val cm = if (probe.isNullAt(1)) "none" else probe.getString(1)
    // ID mode resolves columns by parquet field-id metadata, which this
    // reader does not implement — refuse rather than resolve by name
    // and silently misread a renamed column
    require(cm == "none" || cm == "name",
      s"column mapping mode '$cm' not supported by this offline reader " +
        "(only 'none' and 'name')")
  }

  /** (schema, partitionColumns, columnMapping mode) from the latest
    * metaData action. `DataType.fromJson` preserves field metadata, so
    * the per-field `delta.columnMapping.physicalName` survives into the
    * StructType for the reader's physical→logical projection.
    */
  private def latestMetadata(
      spark: SparkSession, actions: DataFrame): (StructType, Seq[String], String) = {
    val md = actions.filter(col("schemaString").isNotNull)
      .orderBy(col("version").desc)
      .select(col("schemaString"), col("partitionColumns"),
        element_at(col("configuration"), "delta.columnMapping.mode").as("cm"))
      .limit(1).collect()
    require(md.nonEmpty, "no metaData action found in log")
    val schema = DataType.fromJson(md(0).getString(0)).asInstanceOf[StructType]
    val partCols =
      if (md(0).isNullAt(1)) Seq.empty[String] else md(0).getSeq[String](1)
    val cm = if (md(0).isNullAt(2)) "none" else md(0).getString(2)
    (schema, partCols, cm)
  }
}
