package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet-backed warehouse with Delta-like table semantics (SURVEY.md
  * §7.3): the local Spark has no Delta jars, so full-load overwrite,
  * table-exists probes, and atomic replace are provided over plain
  * parquet directories.
  *
  * Atomicity model: writers always write to a fresh `.tmp-<nonce>`
  * directory, then swap it in with two renames (current → history, tmp →
  * current). Readers that already resolved files keep reading their
  * snapshot (parquet files are immutable); new reads see the new table.
  * This is the same swap trick Delta's transaction log makes unnecessary,
  * re-expressed at directory level — sufficient for a single-writer
  * medallion pipeline (the reference's Airflow DAG runs with
  * max_active_runs=1, ironman_dag.py:195).
  *
  * Time travel (the reference's tables are Delta, where every overwrite
  * or merge is a new readable version, Readme.md:13): each mutation
  * produces a new generation. Full rewrites MOVE the previous current
  * directory to `root/_history/<table>/v<N>` (no copying); the
  * partition-aligned in-place path first snapshots the current
  * generation via hardlinks (parquet files are immutable here, so a
  * hardlinked snapshot is O(file count), not O(bytes)). `read(table,
  * asOf)` reads any retained generation; `retainVersions` bounds history
  * growth and [[vacuumVersions]] prunes explicitly.
  *
  * Read path: every read of the store's own parquet goes through
  * [[TableStore.readParquet]], which takes the data schema from ONE data
  * file's footer on the driver (where Delta would take it from its log)
  * instead of letting Spark run a job to read that footer. It picks the
  * file Spark's inference picks with `mergeSchema` off (the smallest full
  * path), so a read resolves to the same schema as before. One file
  * stands for all under the one-schema invariant: every data file of a
  * generation has the same column names and types. The write paths keep
  * it — a full swap rewrites every file; [[append]] requires an equal
  * schema; a partition overwrite ([[overwritePartitions]], the
  * partition-aligned merges, [[replaceWhere]], OCC partition commits)
  * requires its staged files' schema to equal the table's.
  *
  * @param retainVersions historical generations kept per table after
  *                       each write (the current generation is always
  *                       kept on top of these); negative = keep all
  */
final class TableStore(val spark: SparkSession, val root: String,
    val retainVersions: Int = 3,
    val lockWaitMs: Long = 3000,
    val lockStaleMs: Long = 600000) {

  /** Fault-injection hook for crash-consistency tests
    * (TableStoreCrashSpec): called with a labeled injection point at
    * every step of the swap/append/partition-overwrite protocols; a
    * test installs a throwing hook to simulate a writer dying at
    * exactly that point. Production leaves it a no-op. The full label
    * list is [[TableStore.injectionPoints]].
    */
  private[graft] var crashHook: String => Unit = _ => ()

  /** Table names are flat (`fact`) or 3-level `catalog.schema.table`
    * (01_config.ipynb:193-226) — dots map to directory levels, so
    * `ironman.gold.fact` lives at `root/ironman/gold/fact` and schemas
    * list as directories.
    */
  private def dir(table: String): Path =
    table.split('.').foldLeft(Paths.get(root))(_ resolve _)

  /** Flattened name for tmp/trash staging at the warehouse root. */
  private[operators] def flat(table: String): String = table.replace('.', '_')

  def exists(table: String): Boolean = Files.exists(dir(table))

  def read(table: String): DataFrame = {
    require(exists(table),
      s"table '$table' does not exist in warehouse $root" + {
        val known = tables()
        if (known.isEmpty) "" else known.mkString(" (known tables: ", ", ", ")")
      })
    TableStore.readParquet(spark, Seq(dir(table).toString))
  }

  /** Flat table names at the warehouse root (nested `catalog.schema.*`
    * namespaces list their top-level catalog directory).
    */
  def tables(): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(_.getName).sorted.toSeq

  /** Filesystem path of a table — lets a DIFFERENT SparkSession attach
    * to this warehouse (see [[graft.pipeline.Views.restore]]).
    */
  def path(table: String): String = dir(table).toString

  /** Full-load: overwrite + implicit overwriteSchema (a fresh directory
    * has whatever schema the writer declares).
    * Ref semantics: 02_bronze.ipynb:303-310 (cell-8) et al.
    *
    * `partitionBy` writes Hive-style `col=value` subdirectories — the
    * same convention as the reference's landing zone (`year=YYYY/`,
    * 01_config.ipynb:294) promoted to the table layer, so incremental
    * year-sliced reads prune at file level (PartitionFilters in the
    * scan) instead of scanning all years.
    */
  def overwrite(table: String, df: DataFrame, numFiles: Int = 0,
      partitionBy: Seq[String] = Nil): Unit = withTableLock(table) {
    val tmp = stage(table, df, numFiles, partitionBy)
    crashHook("overwrite:staged")
    swapIn(table, tmp)
  }

  /** Writer serialization: one writer per table at a time (like the
    * reference's max_active_runs=1 DAG). The lease is an
    * atomically-created lock file held for the whole stage+swap. A
    * second writer QUEUES for up to [[lockWaitMs]] (so back-to-back
    * writers serialize), breaks a lock older than [[lockStaleMs]] (a
    * dead writer's lease), and past the deadline FAILS LOUDLY instead
    * of corrupting a swap — still clearable via [[vacuum]] (which also
    * reports stale locks).
    */
  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private[operators] def withTableLock[T](table: String)(body: => T): T = {
    // REENTRANT within a thread: read-modify-write operations
    // (deleteWhere/updateWhere/replaceWhere, Merge.mergeInto) take the
    // lock around their READ as well as the final swap — otherwise a
    // queued writer commits a result computed against the generation
    // its predecessor replaced (lost update / moved-files read failure).
    // Their inner overwrite() re-enters here and must pass through.
    val key = s"$root#$table"
    if (heldLocks.get.contains(key)) return body
    Files.createDirectories(Paths.get(root))
    val lock = Paths.get(root, s".lock-${flat(table)}")
    // Bounded-wait queue semantics (Delta-style optimistic writers):
    // contend for up to lockWaitMs with jittered polling, so two
    // back-to-back writers serialize instead of one failing. A lock
    // whose file is older than lockStaleMs is a dead writer's — it is
    // broken by ATOMICALLY RENAMING it aside first: rename is the
    // election (exactly one breaker wins it; losers see NoSuchFile and
    // just re-loop), so a breaker can never delete a LIVE lock that a
    // faster waiter re-created between its staleness check and its
    // delete — the two-concurrent-writers TOCTOU a plain deleteIfExists
    // here allowed. Lease caveat (documented): the mtime is written at
    // acquisition and not heartbeat-refreshed, so lockStaleMs must
    // exceed the longest expected single write. Past the deadline, fail
    // loudly: at that point the other writer is alive and long-running,
    // and queueing silently behind it is an operator decision, not a
    // default. (The reference itself is single-writer —
    // ironman_dag.py:195 max_active_runs=1 — so contention here means
    // misconfiguration more often than throughput.)
    val deadline = System.currentTimeMillis + lockWaitMs
    var acquired = false
    while (!acquired) {
      try { Files.createFile(lock); acquired = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale =
            try Files.getLastModifiedTime(lock).toMillis <
              System.currentTimeMillis - lockStaleMs
            catch { case _: java.io.IOException => false } // just released
          if (stale) {
            // atomic rename = single-winner break election
            val broken = Paths.get(root,
              s".lock-broken-${flat(table)}-${System.nanoTime()}")
            try {
              Files.move(lock, broken,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              Files.deleteIfExists(broken)
            } catch { case _: java.io.IOException => () } // lost the election
          } else if (System.currentTimeMillis >= deadline) {
            throw new IllegalStateException(
              s"concurrent writer detected on '$table': $lock is held " +
                s"(waited ${lockWaitMs} ms). Another writer is active, or " +
                "a writer died mid-write — vacuum() clears stale locks.")
          } else {
            Thread.sleep(25 + scala.util.Random.nextInt(50))
          }
      }
    }
    try {
      heldLocks.set(heldLocks.get + key)
      Files.write(lock,
        s"pid=${ProcessHandle.current.pid} at=${System.currentTimeMillis}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      body
    } finally {
      heldLocks.set(heldLocks.get - key)
      Files.deleteIfExists(lock)
    }
  }

  /** `OPTIMIZE`-style compaction (ref: 02:354, 03:721, 04d:501): rewrite
    * the table into `numFiles` files per partition. On a real cluster
    * this is a bin-packing rewrite; the semantic contract here is only
    * "idempotent and efficient to re-read". Preserves an existing
    * Hive-style partition layout (detected from the `col=` directory
    * names) — flattening it would corrupt later partition-aligned merges.
    */
  def compact(table: String, numFiles: Int): Unit =
    overwrite(table, read(table), numFiles, partitionBy = partitionColumns(table))

  /** Partition columns of an existing table, detected from its first
    * level of Hive-style `col=value` subdirectories (empty for flat
    * tables). Nested multi-level partitioning would recurse; the store
    * only writes single-level layouts.
    */
  def partitionColumns(table: String): Seq[String] =
    partitionColumnsOf(dir(table))

  private def partitionColumnsOf(d: Path): Seq[String] =
    Option(d.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains("="))
      .map(_.getName.takeWhile(_ != '='))
      .distinct.toSeq

  private[operators] def stage(table: String, df: DataFrame, numFiles: Int,
      partitionBy: Seq[String] = Nil): Path = {
    val tmp = Paths.get(root, s".tmp-${flat(table)}-${System.nanoTime()}")
    val out = if (numFiles > 0) df.coalesce(numFiles) else df
    val writer = out.write.mode(SaveMode.Overwrite)
    val partitioned =
      if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer
    partitioned.parquet(tmp.toString)
    tmp
  }

  private[operators] def swapIn(table: String, tmp: Path): Unit = {
    val target = dir(table)
    if (Files.exists(target)) {
      val oldV = currentVersion(table)
      writeMarker(tmp, oldV + 1)
      crashHook("swap:marked")
      Files.createDirectories(historyDir(table))
      Files.move(target, historyDir(table).resolve(versionDirName(oldV)))
      // the ONE window where the table directory does not exist: a
      // writer dying here leaves (history vN, marked tmp vN+1) —
      // recover() rolls FORWARD from the fully-staged tmp
      crashHook("swap:old-archived")
    } else writeMarker(tmp, 0)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    Files.move(tmp, target)
    if (retainVersions >= 0) vacuumVersions(table, retainVersions)
  }

  /** Crash recovery: bring `table` back to a consistent OLD-or-NEW
    * state after a writer died mid-protocol (the states a kill can
    * leave are enumerated in [[TableStore.injectionPoints]] and
    * exercised one by one in TableStoreCrashSpec). Decision table:
    *
    *   - table dir MISSING + a marked `.tmp` staging dir whose version
    *     is history-latest+1 → the writer died between the two swap
    *     renames; the staging dir is COMPLETE (it was fully written
    *     and fsync'd before the swap began) → roll FORWARD (finish the
    *     swap) = NEW.
    *   - table dir MISSING, no usable staging dir → roll BACK: restore
    *     the latest history generation = OLD.
    *   - table dir present + a `.trash` stray → the writer died inside
    *     a partition-overwrite loop (the only protocol that trashes
    *     partitions in place); the table may hold a MIX of old and new
    *     partitions, but [[snapshotCurrent]] archived the full old
    *     generation before the first move → roll BACK to it = OLD.
    *   - table dir present + only `.tmp` strays → the writer died
    *     before its swap started; the current generation was never
    *     touched → drop the strays, keep the table = OLD.
    *
    * Run BEFORE [[vacuum]] after an unclean shutdown: vacuum deletes
    * the staging/trash evidence this routine recovers from.
    */
  def recover(table: String): String = withTableLock(table) {
    // recover() must itself be crash-safe: every branch below is
    // ordered so that dying between any two steps lands the NEXT
    // recover() in a branch that resumes toward the same end state —
    // in particular, all stray evidence is cleared BEFORE a restore
    // makes the table readable again (a restored table plus surviving
    // trash evidence would re-trigger rollback and roll PAST the
    // generation just restored), and roll-forward only ever considers
    // STAGING (`.tmp-`) dirs — a trash dir from an interrupted
    // rollback can carry the same version marker but hold a torn mix.
    val hist = historyVersions(table)
    val expectedNext = hist.lastOption.map(_ + 1).getOrElse(0)
    def strays(): Seq[Path] = strayDirs(table)
    def isTrash(p: Path): Boolean =
      p.getFileName.toString.startsWith(s".trash-${flat(table)}-")
    def clear(ps: Seq[Path]): Unit =
      ps.filter(Files.exists(_)).foreach(deleteRecursively)
    if (!exists(table)) {
      strays().find(p => !isTrash(p) && Files.isDirectory(p) &&
          markerOf(p).contains(expectedNext)) match {
        case Some(tmp) =>
          clear(strays().filterNot(_ == tmp))
          val target = dir(table)
          if (target.getParent != null) Files.createDirectories(target.getParent)
          Files.move(tmp, target)
          "rolled-forward"
        case None if hist.nonEmpty =>
          clear(strays())
          Files.move(historyDir(table).resolve(versionDirName(hist.last)), dir(table))
          "rolled-back"
        case None =>
          clear(strays())
          "no-table"
      }
    } else if (strays().exists(isTrash)) {
      require(hist.nonEmpty,
        s"mid-partition-overwrite crash on '$table' but no history snapshot to roll back to")
      // the old generation is fully intact in history (hardlink
      // snapshot taken before the first in-place move), so deleting
      // the torn current is safe AND idempotent: a crash anywhere in
      // this branch resumes via the missing-dir rollback above
      deleteRecursively(dir(table))
      clear(strays())
      Files.move(historyDir(table).resolve(versionDirName(hist.last)), dir(table))
      "rolled-back"
    } else if (strays().nonEmpty) {
      clear(strays())
      "cleared-strays"
    } else "clean"
  }

  private def strayDirs(table: String): Seq[Path] = {
    val prefixes = Seq(s".tmp-${flat(table)}-", s".tmp-append-${flat(table)}-",
      s".trash-${flat(table)}-")
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => prefixes.exists(f.getName.startsWith))
      .map(_.toPath).toSeq
  }

  private def markerOf(d: Path): Option[Int] = {
    val m = d.resolve(markerName)
    if (!Files.exists(m)) None
    else scala.util.Try(new String(Files.readAllBytes(m),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt).toOption
  }

  // ---- versioned reads (time travel) ----------------------------------

  private val markerName = "_graft_version"
  private def historyDir(table: String): Path =
    Paths.get(root, "_history", flat(table))
  private def versionDirName(v: Int): String = f"v$v%05d"

  /** Version number of the table's CURRENT generation (0 for a table
    * written once; each overwrite/merge/compact increments it).
    */
  def currentVersion(table: String): Int = {
    val m = dir(table).resolve(markerName)
    if (Files.exists(m))
      new String(Files.readAllBytes(m),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    else 0 // pre-versioning layout: treat as generation 0
  }

  /** Marker files are deleted before rewrite so a hardlinked snapshot
    * keeps its own version number (rewriting in place would mutate the
    * shared inode).
    */
  private def writeMarker(d: Path, v: Int): Unit = {
    val m = d.resolve(markerName)
    Files.deleteIfExists(m)
    Files.write(m, v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def historyVersions(table: String): Seq[Int] =
    Option(historyDir(table).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toInt).toSeq.sorted

  /** All readable generations, oldest first (retained history + current). */
  def versions(table: String): Seq[Int] =
    historyVersions(table) ++ (if (exists(table)) Seq(currentVersion(table)) else Nil)

  /** Read the table as of generation `asOf` — the versioned-read half of
    * Delta's `VERSION AS OF`. Fails loudly, listing what is retained,
    * when the generation was never written or already vacuumed.
    */
  def read(table: String, asOf: Int): DataFrame =
    if (exists(table) && asOf == currentVersion(table)) read(table)
    else {
      val d = historyDir(table).resolve(versionDirName(asOf))
      require(Files.exists(d),
        s"version $asOf of $table is not retained; available: " +
          versions(table).mkString("[", ", ", "]"))
      TableStore.readParquet(spark, Seq(d.toString))
    }

  /** Change-data-feed analog over retained generations (Delta's
    * `table_changes` without a transaction log): the row-level diff
    * between two versions, tagged `insert` / `delete` in `_change_type`
    * (an update appears as its delete+insert pair, multiset semantics —
    * duplicate rows diff by count). Cost at scale: one hash-shuffle of
    * each side on the full row — the floor for a log-less diff; pipelines
    * that need cheaper CDC should diff at partition level first via
    * [[partitionColumns]] pruning.
    */
  def changes(table: String, fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    // APPEND FAST PATH: data files are immutable and never reuse a name
    // (stage writes fresh UUID part files; appendStaged hardlinks the
    // current files under their existing names and prefixes new ones
    // collision-free) — so when the before-generation's file set is a
    // SUBSET of the after's, the transition chain was append-pure and
    // the delta is EXACTLY the added files, read directly: O(new data)
    // instead of the derived diff's two exceptAlls over both full
    // generations. At a 100 TB table with a 0.1% nightly append this is
    // the difference between an IVM refresh that reads gigabytes and
    // one that reads the whole table four times. Works for partitioned
    // layouts too (the nightly NEW-partition load via
    // overwritePartitions is append-pure at the file level: untouched
    // partition dirs keep their files, the new value only adds a dir —
    // while REPLACING an existing partition renames every file in it,
    // since stage() writes fresh UUID part files, and falls back).
    // Conservative: any same-named file whose size moved falls back.
    def genDir(v: Int): Path =
      if (exists(table) && v == currentVersion(table)) dir(table)
      else historyDir(table).resolve(versionDirName(v))
    // relative-path → size map of every data file, partition dirs
    // included ([[TableStore.dataFiles]])
    def dataFilesRec(root0: Path): Option[Map[String, Long]] =
      if (!Files.isDirectory(root0)) None
      else Some(TableStore.dataFiles(root0)
        .map(p => root0.relativize(p).toString -> Files.size(p)).toMap)
    val fast = for {
      before <- dataFilesRec(genDir(fromVersion))
      after <- dataFilesRec(genDir(toVersion))
      if before.forall { case (n, sz) => after.get(n).contains(sz) }
    } yield {
      val added = (after.keySet -- before.keySet).toSeq.sorted
        .map(n => genDir(toVersion).resolve(n).toString)
      if (added.isEmpty)
        read(table, toVersion).limit(0).withColumn("_change_type", lit("insert"))
      // basePath resolves partition columns from the added files'
      // dir components, so partitioned deltas carry them like a scan
      else TableStore.readParquet(spark, added, Some(genDir(toVersion).toString))
        .withColumn("_change_type", lit("insert"))
    }
    fast.getOrElse {
      // generations may straddle a schema evolution — align to the union
      // of columns (typed nulls) so the diff is well-defined across it
      val (before, after) = Merge.alignSchemas(
        read(table, fromVersion), read(table, toVersion))
      after.exceptAll(before).withColumn("_change_type", lit("insert"))
        .unionByName(before.exceptAll(after).withColumn("_change_type", lit("delete")))
    }
  }

  /** DESCRIBE HISTORY analog: one row per retained generation (newest
    * first) with file count, byte size, and last-modified time — the
    * operational view a lakehouse admin expects next to time travel.
    */
  def history(table: String): DataFrame = {
    import spark.implicits._
    val rows = versions(table).map { v =>
      val d =
        if (exists(table) && v == currentVersion(table)) dir(table)
        else historyDir(table).resolve(versionDirName(v))
      val files = TableStore.dataFiles(d).toSeq
      (v, exists(table) && v == currentVersion(table), files.size,
        files.map(Files.size).sum,
        new java.sql.Timestamp(Files.getLastModifiedTime(d).toMillis))
    }.sortBy(-_._1)
    rows.toDF("version", "is_current", "n_files", "size_bytes", "modified")
  }

  /** DELETE FROM analog: drop rows where `cond` is TRUE (NULL keeps the
    * row, SQL semantics), as a new versioned generation. On a partitioned
    * table, only partitions CONTAINING matches are rewritten — the
    * partition-aligned path — unless a partition empties completely
    * (partition removal needs the full swap) . Returns rows deleted.
    */
  def deleteWhere(table: String, cond: org.apache.spark.sql.Column): Long = withTableLock(table) {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val parts = partitionColumns(table)
    val before = read(table)
    val nDeleted = before.filter(cond).count()
    if (nDeleted == 0) return 0L
    val keep = !coalesce(cond, lit(false))
    if (parts.size == 1) {
      val pc = parts.head
      val rawValues = before.filter(cond).select(col(pc)).distinct()
        .collect().map(_.get(0)).toSeq
      val values = rawValues.filterNot(_ == null)
      // ANY null-partitioned match forces the full swap: the aligned
      // path only rewrites named col=value directories, so a match in
      // __HIVE_DEFAULT_PARTITION__ would silently survive while still
      // being counted in nDeleted
      val anyNullMatch = rawValues.contains(null)
      val touchedKept = before.filter(col(pc).isInCollection(values)).filter(keep)
      val valuesWithRows = touchedKept.select(col(pc)).distinct()
        .collect().map(_.get(0)).toSet
      if (!anyNullMatch && values.forall(valuesWithRows.contains) && values.nonEmpty)
        overwritePartitions(table, touchedKept, pc, values)
      else // a partition emptied entirely, or matches live in the null
           // partition: both need the full versioned swap
        overwrite(table, before.filter(keep), partitionBy = parts)
    } else {
      overwrite(table, before.filter(keep), partitionBy = parts)
    }
    nDeleted
  }

  /** UPDATE ... SET analog: rewrite rows where `cond` is TRUE with the
    * given assignments, as a new versioned generation. SQL semantics:
    * every assignment sees the row's OLD values (one atomic select, not
    * sequential withColumn), NULL conditions keep the row unchanged, and
    * assigned values are cast back to the column's existing type so the
    * schema never drifts. Partition-aligned like [[deleteWhere]]: only
    * partitions containing matches are rewritten (updates never empty a
    * partition, so the aligned path is always safe on one partition
    * column — as long as the partition column itself is not assigned).
    * Returns rows updated.
    */
  def updateWhere(
      table: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = withTableLock(table) {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    val parts = partitionColumns(table)
    val before = read(table)
    val unknown = set.keySet.diff(before.columns.toSet)
    require(unknown.isEmpty, s"UPDATE assigns unknown columns: ${unknown.mkString(",")}")
    require(!set.keySet.exists(parts.contains),
      "assigning a partition column moves rows across partitions — use overwrite")
    val hit = coalesce(cond, lit(false))
    val nUpdated = before.filter(hit).count()
    if (nUpdated == 0) return 0L
    def applied(df: DataFrame): DataFrame = {
      val cols = df.columns.map { c =>
        set.get(c) match {
          case Some(v) =>
            when(hit, v.cast(before.schema(c).dataType)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }
      df.select(cols.toSeq: _*)
    }
    if (parts.size == 1) {
      val pc = parts.head
      val rawValues = before.filter(hit).select(col(pc)).distinct()
        .collect().map(_.get(0)).toSeq
      val values = rawValues.filterNot(_ == null)
      // same rule as deleteWhere: a match in the null partition cannot
      // ride the aligned path (its directory is never in `values`)
      if (!rawValues.contains(null) && values.nonEmpty)
        overwritePartitions(table,
          applied(before.filter(col(pc).isInCollection(values))), pc, values)
      else // matches touch the null partition (or nothing named): full swap
        overwrite(table, applied(before), partitionBy = parts)
    } else {
      overwrite(table, applied(before), partitionBy = parts)
    }
    nUpdated
  }

  /** Schema diff between two readable generations: one row per column
    * whose presence or type changed — the drift report run after every
    * schema-evolving merge (DESCRIBE HISTORY tells you WHEN a write
    * happened; this tells you WHAT it did to the shape).
    * Changes: 'added' (in v1 only), 'removed' (in v0 only),
    * 'retyped' (both, different dataType).
    */
  def schemaDiff(table: String, v0: Int, v1: Int): DataFrame = {
    val s0 = read(table, v0).schema.map(f => f.name -> f.dataType.simpleString).toMap
    val s1 = read(table, v1).schema.map(f => f.name -> f.dataType.simpleString).toMap
    val rows =
      (s1.keySet -- s0.keySet).toSeq.sorted.map(c => (c, "added", null: String, s1(c))) ++
      (s0.keySet -- s1.keySet).toSeq.sorted.map(c => (c, "removed", s0(c), null: String)) ++
      (s0.keySet & s1.keySet).toSeq.sorted.collect {
        case c if s0(c) != s1(c) => (c, "retyped", s0(c), s1(c))
      }
    import spark.implicits._
    rows.toDF("column", "change", "from_type", "to_type")
  }

  /** Delta `replaceWhere` analog: atomically replace EXACTLY the rows
    * matching `cond` with `replacement` — the batch-reload pattern
    * (re-land one day/region/source without touching the rest of the
    * table). Two safety contracts, both Delta's own:
    *
    *  - every replacement row must itself satisfy `cond` (a row outside
    *    the declared scope would silently escape the replacement
    *    boundary) — violations fail the whole write;
    *  - the write is a new versioned generation (time travel sees the
    *    pre-replace table).
    *
    * Partition-aligned like [[deleteWhere]]: with one partition column,
    * only partitions containing matches or new rows are rewritten;
    * a partition emptied entirely falls back to the full swap.
    * Returns (rows removed, rows inserted).
    */
  def replaceWhere(
      table: String,
      cond: org.apache.spark.sql.Column,
      replacement: DataFrame): (Long, Long) = withTableLock(table) {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val before = read(table)
    val hit = coalesce(cond, lit(false))
    val escaped = replacement.filter(!hit).count()
    require(escaped == 0,
      s"replaceWhere: $escaped replacement rows violate the predicate — " +
        "they would land outside the declared replacement scope")
    val parts = partitionColumns(table)
    val nRemoved = before.filter(hit).count()
    val nInserted = replacement.count()
    val kept = before.filter(!hit)
    val after = kept.unionByName(replacement)
    if (parts.size == 1) {
      val pc = parts.head
      val touched = (before.filter(hit).select(col(pc)) unionByName
          replacement.select(col(pc)))
        .distinct().collect().map(_.get(0)).toSeq
      if (touched.isEmpty) return (0L, 0L)
      val touchedAfter = after.filter(col(pc).isInCollection(touched))
      val valuesWithRows = touchedAfter.select(col(pc)).distinct()
        .collect().map(_.get(0)).toSet
      if (!touched.contains(null) && touched.forall(valuesWithRows.contains))
        overwritePartitions(table, touchedAfter, pc, touched)
      else // emptied or null-valued partition: full versioned swap
        overwrite(table, after, partitionBy = parts)
    } else {
      overwrite(table, after, partitionBy = parts)
    }
    (nRemoved, nInserted)
  }

  /** CLONE TABLE analog: `dst` becomes an independent table with `src`'s
    * current content. Deep in semantics (no reference back — vacuuming
    * or rewriting `src` never breaks `dst`) but hardlink-cheap in bytes:
    * parquet files in this store are immutable, so the clone is
    * O(file count), not O(data). The clone starts its own version
    * history at generation 0.
    */
  def cloneTable(src: String, dst: String): Unit = withTableLock(dst) {
    require(exists(src), s"clone source $src does not exist")
    require(!exists(dst), s"clone target $dst already exists")
    val from = dir(src)
    val to = dir(dst)
    Files.createDirectories(to.getParent)
    val tmp = to.getParent.resolve(s".clone-${to.getFileName}-${System.nanoTime()}")
    val stream = Files.walk(from)
    try stream.forEach { p =>
      val rel = from.relativize(p).toString
      val d = tmp.resolve(rel)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      // the source's version marker must NOT carry over — fresh history
      else if (!rel.startsWith("_graft_version")) {
        try Files.createLink(d, p)
        catch { case _: UnsupportedOperationException => Files.copy(p, d) }
      }
    } finally stream.close()
    writeMarker(tmp, 0)
    Files.move(tmp, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Constraint-enforced write (Delta CHECK-constraint analog): the
    * batch must satisfy EVERY expectation or nothing is written — the
    * violation count rides the write pass via `observe()`, so
    * enforcement costs zero extra scans; the swap only happens after
    * the staged write proves clean.
    */
  def overwriteValidated(
      table: String,
      df: DataFrame,
      constraints: Seq[Expectations.Expectation],
      numFiles: Int = 0,
      partitionBy: Seq[String] = Nil): Unit = withTableLock(table) {
    import org.apache.spark.sql.functions.{count => fcount, lit, sum, when}
    val obs = org.apache.spark.sql.Observation(s"graft_constraints_$table")
    val metricExprs =
      (fcount(lit(1)).as("n_rows")) +:
        constraints.map(e =>
          sum(when(!org.apache.spark.sql.functions.coalesce(e.condition, lit(false)), 1L)
            .otherwise(0L)).as(e.name))
    val observed = df.observe(obs, metricExprs.head, metricExprs.tail: _*)
    val tmp = stage(table, observed, numFiles, partitionBy)
    val metrics = obs.get
    val violations = constraints
      .map(e => e.name -> metrics.getOrElse(e.name, 0L))
      .collect { case (n, v: Long) if v > 0 => s"$n ($v rows)" }
    if (violations.nonEmpty) {
      deleteRecursively(tmp)
      throw new IllegalStateException(
        s"constraint violations writing $table: ${violations.mkString(", ")} — nothing written")
    }
    swapIn(table, tmp)
  }

  /** RESTORE TABLE ... TO VERSION analog: make generation `asOf` the new
    * CURRENT generation. Delta semantics — restore is itself a new
    * generation (the pre-restore state stays readable in history), never
    * a destructive rollback.
    */
  def restoreVersion(table: String, asOf: Int): Unit = {
    // re-lay out with the SNAPSHOT's own partitioning, not the current
    // table's — the layout itself may have changed between generations
    val srcDir =
      if (exists(table) && asOf == currentVersion(table)) dir(table)
      else historyDir(table).resolve(versionDirName(asOf))
    val snapshot = read(table, asOf)
    overwrite(table, snapshot, partitionBy = partitionColumnsOf(srcDir))
  }

  /** OPTIMIZE with a target FILE SIZE instead of a file count — the
    * contract real compaction jobs want (small-file compaction after
    * streaming ingest). File count is derived from the table's current
    * on-disk bytes, so the caller states intent ("~128 MB files") and
    * the store does the arithmetic.
    */
  def compactToSize(table: String, targetBytes: Long): Unit = {
    require(targetBytes > 0, "targetBytes must be positive")
    val totalBytes = history(table)
      .filter(col("is_current")).head().getLong(3)
    val numFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    compact(table, numFiles)
  }

  /** Prune historical generations beyond the newest `keep`. The current
    * generation is never touched. Returns the number removed.
    */
  def vacuumVersions(table: String, keep: Int): Int = {
    val drop = historyVersions(table).dropRight(keep)
    // runs inside write locks (snapshotCurrent) — dropping the last
    // hardlink of a retired generation frees its pages, so defer
    drop.foreach(v => deferDelete(historyDir(table).resolve(versionDirName(v))))
    drop.length
  }

  /** Snapshot the current generation into history WITHOUT rewriting data:
    * every file is hardlinked (immutable parquet ⇒ safe shared inodes),
    * then the current marker is bumped. Used by the partition-aligned
    * in-place mutation path, keeping it O(touched partitions) while still
    * producing a readable previous version.
    */
  private def snapshotCurrent(table: String): Unit = {
    val src = dir(table)
    val oldV = currentVersion(table)
    val snap = historyDir(table).resolve(versionDirName(oldV))
    Files.createDirectories(snap.getParent)
    val stream = Files.walk(src)
    try stream.forEach { p =>
      val dst = snap.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else
        try Files.createLink(dst, p)
        catch { case _: UnsupportedOperationException => Files.copy(p, dst) }
    } finally stream.close()
    writeMarker(src, oldV + 1)
    if (retainVersions >= 0) vacuumVersions(table, retainVersions)
  }

  private[operators] def deleteRecursively(p: Path): Unit = {
    // Files.walk holds open DirectoryStreams — close or leak handles
    val stream = Files.walk(p)
    try stream.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally stream.close()
  }

  /** Take `p` out of the commit path NOW (one atomic rename to a
    * `.gc-` name), free its bytes LATER (async, off the lock).
    * Physically deleting replaced data is O(data) on many filesystems
    * (page freeing on tmpfs, extent dealloc on ext4) — measured at a
    * 23 s worst-case commit critical section in the 8×25M StressOcc run
    * when the deletes ran inside the table lock. `.gc-` names are NOT
    * rollback evidence: recover() keys on `.trash-`/inflight markers
    * only, so a crash between rename and async delete just leaves an
    * invisible dir for [[vacuum]] to clear. Falls back to inline
    * deletion if the rename fails (cross-device scratch).
    */
  private[operators] def deferDelete(p: Path): Unit = {
    if (!Files.exists(p)) return
    val gc = Paths.get(root,
      s".gc-${p.getFileName.toString.stripPrefix(".")}-${System.nanoTime()}")
    try {
      Files.move(p, gc)
      TableStore.gcExecutor.execute(() =>
        try deleteRecursively(gc) catch { case _: Throwable => () })
    } catch { case _: Throwable => deleteRecursively(p) }
  }

  /** Partition-level overwrite: replace ONLY the listed `partCol=value`
    * subdirectories with `df`'s data (df must contain exactly those
    * partition values). Untouched partitions keep their files byte-for-
    * byte — the partition-aligned copy-on-write that makes incremental
    * merges O(touched data) instead of O(table).
    */
  /** Blind APPEND: add `df`'s rows as new parquet files beside the
    * current generation's — O(new data) regardless of table size, the
    * streaming-sink primitive ([[graft.operators.AnnIndex.serveStream]],
    * foreachBatch result feeds). A new version is minted (the previous
    * generation is hardlink-snapshotted, so time travel and the CDF see
    * the append as pure inserts); existing files are untouched.
    *
    * Guards: the table must be UNPARTITIONED (appending flat files into
    * a Hive-layout directory corrupts partition discovery — use
    * [[overwritePartitions]] / [[Merge.insertOnlyPartitionAligned]]
    * there), and `df` must carry exactly the table's column names AND
    * types (parquet resolves by name across files, so a missing column
    * would silently null-fill every historical row — and a retyped one
    * would leave the generation unreadable at scan time).
    *
    * Atomicity: the new generation is assembled ASIDE (hardlinks of the
    * current data files + the staged new files, skipping stale skipping
    * stats) and committed with the same single-directory swap as
    * [[overwrite]] — a crash mid-append leaves the current generation
    * byte-untouched, never a torn half-append.
    */
  def append(table: String, df: DataFrame): Unit = withTableLock(table) {
    if (!exists(table)) { overwrite(table, df); return }
    require(partitionColumns(table).isEmpty,
      s"append targets unpartitioned tables; '$table' is partitioned by " +
        partitionColumns(table).mkString(",") + " — use overwritePartitions")
    val existing = read(table).schema.map(f => f.name -> f.dataType).toMap
    val incoming = df.schema.map(f => f.name -> f.dataType).toMap
    require(incoming == existing,
      s"append schema mismatch for '$table': table has ${existing.toSeq.sortBy(_._1)
        .map { case (n, t) => s"$n:${t.simpleString}" }.mkString(",")}, " +
        s"frame has ${incoming.toSeq.sortBy(_._1)
          .map { case (n, t) => s"$n:${t.simpleString}" }.mkString(",")}")
    val tmp = stage(table, df, numFiles = 0)
    crashHook("append:staged")
    appendStaged(table, tmp)
  }

  /** Commit half of [[append]]: assemble and swap in a generation that
    * adds the pre-staged files in `tmp` to the CURRENT generation.
    * Caller must hold the table lock; the staged files' schema must
    * already be verified against the generation the swap lands on.
    */
  private[operators] def appendStaged(table: String, tmp: Path): Unit = {
    // assemble the NEXT generation aside: hardlinked current data files
    // (stale _manifest/_strstats deliberately left behind — new files
    // are absent from them, and readPruned would otherwise skip
    // appended rows) plus the staged files under collision-free names
    val gen = Paths.get(root, s".tmp-append-${flat(table)}-${System.nanoTime()}")
    Files.createDirectories(gen)
    TableStore.dataFiles(dir(table)).foreach { p =>
      try Files.createLink(gen.resolve(p.getFileName.toString), p)
      catch { case _: UnsupportedOperationException =>
        Files.copy(p, gen.resolve(p.getFileName.toString)) }
    }
    TableStore.dataFiles(tmp).toList.foreach { p =>
      Files.move(p, gen.resolve(
        s"append-${System.nanoTime()}-${p.getFileName.toString}"))
    }
    deleteRecursively(tmp)
    crashHook("append:assembled")
    swapIn(table, gen) // marker, history archive, ONE atomic move
  }

  def overwritePartitions(
      table: String, df: DataFrame, partCol: String, values: Seq[Any],
      allowEmpty: Boolean = false): Unit =
    withTableLock(table) {
    require(exists(table), s"$table must exist for a partition-level overwrite")
    require(!values.contains(null),
      s"null $partCol partition values are not supported by the partition-aligned path")
    val tmp = stage(table, df, numFiles = 0, partitionBy = Seq(partCol))
    crashHook("opart:staged")
    applyStagedPartitions(table, tmp, partCol, values, allowEmpty)
  }

  /** Commit half of [[overwritePartitions]]: swap the pre-staged
    * partition directories in `tmp` into the CURRENT generation (and
    * consume `tmp`). Caller must hold the table lock.
    *
    * `allowEmpty = true` turns a listed value with NO staged rows into a
    * partition DROP (the old directory is trashed, nothing moves in) —
    * the "this partition legitimately ended empty" case a rebalance or
    * retention sweep produces. The default stays the loud mismatch
    * refusal: for a merge-style caller a missing staged partition means
    * the df/values wiring is broken, and silently dropping data is the
    * worst possible outcome.
    */
  private[operators] def applyStagedPartitions(
      table: String, tmp: Path, partCol: String, values: Seq[Any],
      allowEmpty: Boolean = false): Unit = {
    // the one-schema invariant reads rely on (class doc): moving in
    // partitions of another schema would leave a generation whose
    // schema depends on which file a read picks
    def types(p: String): Map[String, DataType] =
      TableStore.dataSchema(spark, Seq(p))
        .fold(Map.empty[String, DataType])(_.fields.map(f => f.name -> f.dataType).toMap)
    val staged = types(tmp.toString)
    val current = types(path(table))
    if (staged.nonEmpty && current.nonEmpty && staged != current) {
      deleteRecursively(tmp)
      def show(m: Map[String, DataType]) = m.toSeq.sortBy(_._1)
        .map { case (n, t) => s"$n:${t.simpleString}" }.mkString(",")
      throw new IllegalArgumentException(
        s"partition overwrite schema mismatch for '$table': table has " +
          s"${show(current)}, staged partitions have ${show(staged)}")
    }
    snapshotCurrent(table) // hardlink snapshot AFTER staging succeeds
    crashHook("opart:snapshotted")
    // in-flight intent marker: the partition loop below mutates the
    // table IN PLACE, so a writer dying anywhere inside it can leave a
    // mix of old and new partitions with no other trace (a brand-new
    // partition value trashes nothing). The marker survives any crash
    // in the loop and tells recover() to roll back to the snapshot;
    // it is removed only after the loop AND the stats cleanup finish.
    val inflight = Paths.get(root,
      s".trash-${flat(table)}-inflight-${System.nanoTime()}")
    Files.createDirectories(inflight)
    values.foreach { v =>
      // match Spark's own partition-path encoding (spaces, ':', '/', …)
      val partDir = s"$partCol=${ExternalCatalogUtils.escapePathName(v.toString)}"
      val src = tmp.resolve(partDir)
      // a value present in `values` but absent from the staged write means
      // the caller's df didn't contain it — failing loudly beats silently
      // dropping the partition's merged rows (unless the caller declared
      // empty-partition drops legitimate via allowEmpty)
      require(allowEmpty || Files.exists(src),
        s"staged write is missing partition $partDir — df/values mismatch")
      val target = dir(table).resolve(partDir)
      val trash = Paths.get(root, s".trash-${flat(table)}-${System.nanoTime()}")
      if (Files.exists(target)) { Files.move(target, trash); crashHook("opart:part-trashed") }
      if (Files.exists(src)) {
        Files.move(src, target)
        crashHook("opart:part-moved")
      }
      // replaced data is hardlink-shared with the snapshot just taken,
      // but freeing it is still O(data) on the last-link drop at vacuum
      // horizon — either way deletion never belongs inside the lock
      deferDelete(trash)
    }
    crashHook("opart:pre-cleanup")
    deleteRecursively(tmp)
    // in-place partition rewrites invalidate driver-side file statistics
    // (the full-swap path sheds them with the directory; this path must
    // shed them explicitly, or readPruned/readPrunedString keep keying
    // off file names that no longer exist — stale-stat wrong answers)
    val tblDir = dir(table)
    Files.deleteIfExists(tblDir.resolve(manifestName))
    val statsStream = Files.list(tblDir)
    try statsStream.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("_strstats_") || n.startsWith("_bloom_")
      }
      .foreach(Files.deleteIfExists(_))
    finally statsStream.close()
    // only now is the new generation fully consistent (data AND stats)
    Files.deleteIfExists(inflight)
  }

  /** `OPTIMIZE ... ZORDER BY` analog: rewrite the table clustered on
    * `clusterBy` via [[ZOrder.cluster]], so parquet min/max stats prune
    * files for selective predicates on any clustered column.
    * `rankBased = true` switches to [[ZOrder.clusterByRank]] (quantile
    * scaling — immune to heavy-hitter/outlier skew on the clustered
    * columns).
    */
  def compactClustered(table: String, clusterBy: Seq[String], numFiles: Int,
      rankBased: Boolean = false): Unit =
    // preserve an existing Hive-style layout (like compact): flattening
    // it would silently break later partition-aligned merges
    overwriteClustered(table, read(table), clusterBy, numFiles, rankBased,
      partitionBy = partitionColumns(table))

  def overwriteClustered(
      table: String, df: DataFrame, clusterBy: Seq[String], numFiles: Int,
      rankBased: Boolean = false, partitionBy: Seq[String] = Nil): Unit =
    withTableLock(table) {
    val clustered =
      if (rankBased) ZOrder.clusterByRank(df, clusterBy, numFiles)
      else ZOrder.cluster(df, clusterBy, numFiles)
    val tmp = stage(table, clustered, numFiles = 0, partitionBy = partitionBy)
    if (partitionBy.isEmpty) writeManifest(tmp, clusterBy)
    swapIn(table, tmp)
  }

  // ---- file-skipping manifest (data skipping) -------------------------

  private val manifestName = "_manifest.tsv"

  /** Per-file min/max stats for `cols`, written next to the data (the
    * Delta-log-stats analog): `readPruned` then skips whole files at the
    * DRIVER before any task is scheduled — at cluster scale, footer-level
    * row-group pruning still launches a task per file; this doesn't.
    * One aggregate scan over the freshly staged files, O(files × cols)
    * rows to the driver. The manifest lives inside the generation
    * directory, so it time-travels and swaps atomically with its data.
    */
  private def writeManifest(staged: Path, cols: Seq[String]): Unit = {
    val df = TableStore.readParquet(spark, Seq(staged.toString))
    val aggs = cols.flatMap(c =>
      Seq(org.apache.spark.sql.functions.min(col(c).cast("double")),
        org.apache.spark.sql.functions.max(col(c).cast("double"))))
    val rows = df
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val lines = ("file\t" + cols.mkString("\t")) +: rows.map { r =>
      val fileName = r.getString(0).split('/').last
      val stats = cols.indices.map { i =>
        if (r.isNullAt(1 + 2 * i)) "null\tnull"
        else s"${r.getDouble(1 + 2 * i)}\t${r.getDouble(2 + 2 * i)}"
      }
      s"$fileName\t${stats.mkString("\t")}"
    }
    Files.write(staged.resolve(manifestName),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Read `table` filtered to `column ∈ [lo, hi]`, skipping files whose
    * manifest range cannot overlap. Exact filtering is still applied on
    * top, so results are identical with or without a manifest — the
    * manifest only shrinks the scheduled file set. Falls back to a plain
    * filtered read when the table has no manifest.
    */
  def readPruned(table: String, column: String, lo: Double, hi: Double): DataFrame = {
    val predicate = col(column).cast("double").between(lo, hi)
    val mf = dir(table).resolve(manifestName)
    if (!Files.exists(mf)) return read(table).filter(predicate)
    val lines = new String(Files.readAllBytes(mf),
      java.nio.charset.StandardCharsets.UTF_8).split('\n')
    val cols = lines.head.split('\t').drop(1)
    val ci = cols.indexOf(column)
    if (ci < 0) return read(table).filter(predicate)
    val keep = lines.tail.toSeq.flatMap { ln =>
      val parts = ln.split('\t')
      val (mn, mx) = (parts(1 + 2 * ci), parts(2 + 2 * ci))
      // null stats (all-null file): keep — it cannot satisfy the filter,
      // but dropping it silently would be wrong if semantics ever change
      if (mn == "null" || (mn.toDouble <= hi && mx.toDouble >= lo))
        Some(dir(table).resolve(parts(0)).toString)
      else None
    }
    if (keep.isEmpty) read(table).filter(predicate).limit(0)
    else readFiles(table, keep).filter(predicate)
  }

  /** Files the manifest would schedule for `column ∈ [lo, hi]` — the
    * observability hook the pruning spec asserts against.
    */
  def prunedFileCount(table: String, column: String, lo: Double, hi: Double): Int = {
    val mf = dir(table).resolve(manifestName)
    require(Files.exists(mf), s"$table has no manifest")
    val lines = new String(Files.readAllBytes(mf),
      java.nio.charset.StandardCharsets.UTF_8).split('\n')
    val cols = lines.head.split('\t').drop(1)
    val ci = cols.indexOf(column)
    require(ci >= 0, s"$column not in manifest (${cols.mkString(",")})")
    lines.tail.count { ln =>
      val parts = ln.split('\t')
      val (mn, mx) = (parts(1 + 2 * ci), parts(2 + 2 * ci))
      mn == "null" || (mn.toDouble <= hi && mx.toDouble >= lo)
    }
  }

  // ---- string-column file statistics (ANALYZE-style, post-hoc) ----

  private def strStatsFile(table: String, column: String): Path =
    dir(table).resolve(s"_strstats_$column.tsv")

  /** Table-dir-relative path of a scanned data file, from the URI that
    * `input_file_name()` reports. Hive-partitioned layouts nest files
    * under `col=value/` subdirectories, so sidecar lines must keep that
    * prefix — a bare basename would resolve against the table ROOT at
    * prune time and name files that don't exist. Flat tables relativize
    * to the plain basename, so old sidecars stay readable.
    */
  private def relativeDataPath(table: String, inputFile: String): String = {
    // input_file_name() yields a URL-encoded file URI; decode when
    // parseable. The fallback (URI-hostile characters, e.g. a literal
    // '[' in a directory name) must STILL percent-decode — keeping the
    // encoding would write sidecar lines that don't resolve at prune
    // time and turn the pruned read into file-not-found. NOT
    // URLDecoder: that is FORM decoding ('+' → space, throws on a bare
    // '%'), and URI percent-encoding never means '+' = space — decode
    // only well-formed %XX escapes and pass everything else through.
    def percentDecode(s: String): String = {
      val out = new java.lang.StringBuilder(s.length)
      val bytes = new java.io.ByteArrayOutputStream()
      var i = 0
      def flush(): Unit = if (bytes.size() > 0) {
        out.append(new String(bytes.toByteArray, "UTF-8")); bytes.reset()
      }
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 2 < s.length &&
            Character.digit(s.charAt(i + 1), 16) >= 0 &&
            Character.digit(s.charAt(i + 2), 16) >= 0) {
          bytes.write(Character.digit(s.charAt(i + 1), 16) * 16 +
            Character.digit(s.charAt(i + 2), 16))
          i += 3
        } else { flush(); out.append(s.charAt(i)); i += 1 }
      }
      flush(); out.toString
    }
    val p = try Paths.get(new java.net.URI(inputFile).getPath)
      catch { case _: Exception =>
        Paths.get(percentDecode(inputFile.stripPrefix("file:"))) }
    val rel = dir(table).toAbsolutePath.normalize
      .relativize(p.toAbsolutePath.normalize)
    // fail at ANALYZE time, not at prune time: a sidecar naming a file
    // that does not exist is a latent read failure weeks later
    require(Files.exists(dir(table).resolve(rel)),
      s"cannot relativize $inputFile under ${dir(table)} — resolved to $rel")
    rel.toString
  }

  /** Read exactly `keep` files of `table`, preserving partition columns:
    * `basePath` tells the parquet source where the `col=value/` directory
    * structure starts, so a pruned read of a partitioned table still
    * surfaces the partition columns a full-table read would.
    */
  private def readFiles(table: String, keep: Seq[String]): DataFrame =
    TableStore.readParquet(spark, keep, Some(dir(table).toString))

  private def b64(s: String): String = java.util.Base64.getEncoder
    .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def unb64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  /** Collect per-file min/max for a STRING column (the ANALYZE step).
    * Values are stored base64-encoded so the stats file is delimiter-
    * safe for arbitrary content; comparisons at prune time are UNSIGNED
    * UTF-8 byte order — the same order Spark's min/max used to produce
    * the stats, so pruning is correct for any Unicode content (a Java
    * String.compareTo would disagree beyond the BMP). The stats live
    * inside the table generation and vanish with the next overwrite —
    * stale statistics cannot survive a data change.
    */
  def analyzeStringColumn(table: String, column: String): Unit = {
    val df = read(table)
    val rows = df
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(org.apache.spark.sql.functions.min(col(column)).as("mn"),
        org.apache.spark.sql.functions.max(col(column)).as("mx"))
      .collect()
    val lines = rows.map { r =>
      val f = relativeDataPath(table, r.getString(0))
      if (r.isNullAt(1)) s"$f\tnull\tnull"
      else s"$f\t${b64(r.getString(1))}\t${b64(r.getString(2))}"
    }
    Files.write(strStatsFile(table, column),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def utf8Leq(a: Array[Byte], b: Array[Byte]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length <= b.length
  }

  private def stringKeepSet(table: String, column: String,
      lo: String, hi: String): Option[Seq[String]] = {
    val sf = strStatsFile(table, column)
    if (!Files.exists(sf)) return None
    val (loB, hiB) = (lo.getBytes("UTF-8"), hi.getBytes("UTF-8"))
    val lines = new String(Files.readAllBytes(sf),
      java.nio.charset.StandardCharsets.UTF_8).split('\n').toSeq
    // blank lines: an ANALYZE over an empty generation writes a sidecar
    // with no rows; "".split never yields 3 fields and must not throw —
    // an empty keep set (prune everything) is the correct answer there
    Some(lines.filter(_.nonEmpty).flatMap { ln =>
      val Array(f, mn, mx) = ln.split('\t')
      if (mn == "null" || (utf8Leq(unb64(mn), hiB) && utf8Leq(loB, unb64(mx))))
        Some(dir(table).resolve(f).toString)
      else None
    })
  }

  /** Read `table` filtered to `column BETWEEN lo AND hi` (string range),
    * skipping files whose analyzed range cannot overlap. Identical
    * results with or without stats; requires [[analyzeStringColumn]]
    * for any skipping to happen.
    */
  def readPrunedString(table: String, column: String,
      lo: String, hi: String): DataFrame = {
    val predicate = col(column).between(lo, hi)
    stringKeepSet(table, column, lo, hi) match {
      case None => read(table).filter(predicate)
      case Some(Nil) => read(table).filter(predicate).limit(0)
      case Some(keep) => readFiles(table, keep).filter(predicate)
    }
  }

  /** Files a string-range read would schedule — observability for specs. */
  def prunedStringFileCount(table: String, column: String,
      lo: String, hi: String): Int =
    stringKeepSet(table, column, lo, hi)
      .getOrElse(sys.error(s"$table/$column has no string stats")).size

  // ---- bloom-filter file skipping (point lookups, post-hoc ANALYZE) ----
  //
  // Min/max zone maps ([[readPruned]]/[[readPrunedString]]) prune RANGE
  // predicates but are useless for equality on a high-cardinality key
  // whose values span every file (the "find this document id in 100 TB"
  // lookup): every file's [min,max] contains the probe. A per-file
  // bloom sidecar answers exactly that: `column = v` schedules only the
  // files whose filter might contain v — at fpp 1%, ~1% of files plus
  // the true hits. Same lifecycle as the other sidecars: built post-hoc
  // by ANALYZE, lives inside the table generation (vanishes with the
  // next overwrite), shed explicitly on partition-aligned rewrites, and
  // deliberately NOT copied by appends (absent stats = no skipping =
  // still correct).

  private def bloomStatsFile(table: String, column: String): Path =
    dir(table).resolve(s"_bloom_$column.tsv")

  /** The long key a value is bloom-hashed as — the [[BloomPrune]]
    * convention: integral columns cast losslessly, everything else goes
    * through xxhash64. Build and probe MUST agree, so both go through
    * this one expression.
    */
  private def bloomKeyExpr(c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast("long")
      case _ => org.apache.spark.sql.functions.xxhash64(c)
    }
  }

  /** Build per-file bloom filters for `column` (the ANALYZE step): one
    * map-side aggregation pass grouped by input file, one sidecar line
    * per file. `expectedPerFile` sizes the filters — oversizing is just
    * bytes, undersizing raises the false-keep rate, never correctness.
    */
  def analyzeBloomColumn(table: String, column: String,
      expectedPerFile: Long = 1000000L, fpp: Double = 0.01): Unit = {
    graft.GraftFunctions.registerAll(spark)
    val df = read(table)
    val dt = df.schema(column).dataType
    val rows = df
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(graft.expressions.BloomFilter
        .bloomBuild(bloomKeyExpr(col(column), dt), expectedPerFile, fpp).as("bf"))
      .collect()
    val lines = rows.map { r =>
      val f = relativeDataPath(table, r.getString(0))
      s"$f\t${java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](1))}"
    }
    Files.write(bloomStatsFile(table, column),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def bloomKeepSet(table: String, column: String,
      value: Any): Option[Seq[String]] = {
    val bf = bloomStatsFile(table, column)
    if (!Files.exists(bf)) return None
    // the probe key must be hashed EXACTLY as the build hashed rows —
    // evaluate the same bloomKeyExpr through Spark on a one-row frame
    val dt = read(table).schema(column).dataType
    val keyRow = spark.range(1)
      .select(bloomKeyExpr(org.apache.spark.sql.functions.lit(value).cast(dt), dt))
      .head()
    if (keyRow.isNullAt(0)) return None // null probe: no skipping, plain read
    val key = keyRow.getLong(0)
    val lines = new String(Files.readAllBytes(bf),
      java.nio.charset.StandardCharsets.UTF_8).split('\n').toSeq
    Some(lines.filter(_.nonEmpty).flatMap { ln =>
      val Array(f, b) = ln.split('\t')
      if (graft.expressions.BloomFilter.mightContain(
          java.util.Base64.getDecoder.decode(b), key))
        Some(dir(table).resolve(f).toString)
      else None
    })
  }

  /** Read `table` filtered to `column = value`, skipping files whose
    * bloom filter rules the value out. No false negatives by the bloom
    * contract, exact filtering on top — results are identical with or
    * without the sidecar; requires [[analyzeBloomColumn]] for any
    * skipping to happen.
    */
  def readPrunedEquals(table: String, column: String, value: Any): DataFrame = {
    val predicate = col(column) === org.apache.spark.sql.functions.lit(value)
    bloomKeepSet(table, column, value) match {
      case None => read(table).filter(predicate)
      case Some(Nil) => read(table).filter(predicate).limit(0)
      case Some(keep) => readFiles(table, keep).filter(predicate)
    }
  }

  /** Files an equality read would schedule — observability for specs. */
  def prunedEqualsFileCount(table: String, column: String, value: Any): Int =
    bloomKeepSet(table, column, value)
      .getOrElse(sys.error(s"$table/$column has no bloom stats")).size

  /** Partition evolution: re-layout a live table under a NEW partition
    * column set (Iceberg-style evolution, done the copy-on-write way a
    * log-free store must). The rewrite is one versioned overwrite — the
    * PREVIOUS generation stays readable with its old layout via
    * `read(table, asOf)`, so readers pinned to a version never see the
    * layout change, and a bad evolution is one `restoreVersion` away
    * from undone.
    */
  def evolvePartitioning(table: String, newPartCols: Seq[String],
      numFiles: Int = 0): Unit = {
    val current = read(table)
    overwrite(table, current, numFiles = numFiles, partitionBy = newPartCols)
  }

  /** Persistent view DDL (S10): the reference's 15 dashboard views live
    * in Unity Catalog (`CREATE OR REPLACE VIEW ironman.gold.vw_*`,
    * 05_dashboard_queries.ipynb:49 et al.) and survive session restarts.
    * The warehouse analog stores each definition durably under
    * `root/_views/<idx>__<name>.sql`; ANY later session re-attaches with
    * [[graft.pipeline.Views.restore]] / [[restoreViewsInto]]. The index
    * preserves creation order so views may reference earlier views.
    */
  private def viewsDir: Path = Paths.get(root, "_views")

  def saveView(name: String, sql: String, index: Int): Unit = {
    require(name.matches("[A-Za-z0-9_]+"), s"invalid view name: $name")
    Files.createDirectories(viewsDir)
    // drop stale definitions of the same view saved under another index —
    // exact-name match (split on the FIRST "__"): a suffix match would
    // make saving view `b` delete an unrelated view named `a__b`
    savedViewFiles.filter { f =>
      f.getFileName.toString.stripSuffix(".sql").split("__", 2).last == name
    }.foreach(Files.delete)
    val tmp = viewsDir.resolve(s".tmp-$name-${System.nanoTime()}")
    Files.write(tmp, sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, viewsDir.resolve(f"$index%03d__$name.sql"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Saved (name, definition) pairs in creation order. */
  def savedViews: Seq[(String, String)] =
    savedViewFiles.sortBy(_.getFileName.toString).map { f =>
      val n = f.getFileName.toString.stripSuffix(".sql").split("__", 2).last
      n -> new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
    }

  private def savedViewFiles: Seq[Path] =
    if (!Files.exists(viewsDir)) Nil
    else {
      val s = Files.list(viewsDir)
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".sql"))
      finally s.close()
    }

  /** Re-create every saved view in `session` (temp views of that
    * session, same name). Base tables must already be registered there.
    */
  def restoreViewsInto(session: SparkSession): Unit =
    savedViews.foreach { case (name, sql) =>
      session.sql(s"CREATE OR REPLACE TEMP VIEW $name AS $sql")
    }

  /** VACUUM analog: remove stray `.tmp-*` / `.trash-*` directories and
    * `.lock-*` lease files left by writers that died mid-swap. Safe
    * because the swap renames are the only commit points — anything
    * still dot-prefixed was never visible as a table. (Clearing a lock
    * is an explicit admin action: only run this when no writer is live.)
    * Returns the number of entries removed.
    */
  def vacuum(): Int = {
    val stray = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => (f.isDirectory &&
        (f.getName.startsWith(".tmp-") || f.getName.startsWith(".trash-") ||
          f.getName.startsWith(".gc-"))) ||
        (f.isFile && f.getName.startsWith(".lock-")))
    // per-entry tolerance: a .gc- dir may be mid-deletion on the
    // tablestore-gc daemon at this very moment — racing Files.walk
    // throws NoSuchFile/UncheckedIO there, and that's the GOOD case
    // (the bytes are going away either way); count it as removed
    stray.count { f =>
      try { deleteRecursively(f.toPath); true }
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException =>
        !Files.exists(f.toPath) }
    }
  }

  // ---- transactional batch ledger (Delta txnAppId/txnVersion analog) ----

  private def txnDir: Path = Paths.get(root, "_txn")

  private def txnFile(table: String, appId: String): Path =
    txnDir.resolve(s"${flat(table)}__$appId")

  /** Highest batch id recorded by [[commitIfNew]] for (table, appId);
    * -1 when the writer has never committed.
    */
  def lastCommittedBatch(table: String, appId: String): Long = {
    val f = txnFile(table, appId)
    if (!Files.exists(f)) -1L
    else new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  /** Idempotent-writer guard: run `body` only when `batchId` is greater
    * than the last batch this (table, appId) pair committed, then record
    * it (atomic rename). Returns whether the body ran.
    *
    * This is the store's analog of Delta's txnAppId/txnVersion MERGE
    * option: a streaming foreachBatch sink wraps its merge in
    * commitIfNew so a micro-batch REPLAYED after checkpoint recovery is
    * skipped instead of re-applied — the piece that makes update-style
    * (SCD1) streaming sinks exactly-once, where insert-only sinks get
    * idempotence from the merge itself.
    *
    * Crash window: the ledger is written AFTER the body, so a crash
    * between the two replays that one batch. Replaying the SAME batch
    * against the SAME table state is a no-op for merge bodies (both
    * merge shapes are deterministic functions of (target, source)); the
    * ledger's job is only to stop a STALE replay from clobbering LATER
    * state, which is the failure checkpoint recovery actually produces.
    * Same single-writer-per-appId contract as the rest of the store.
    */
  def commitIfNew(table: String, appId: String, batchId: Long)(body: => Unit): Boolean = {
    if (batchId <= lastCommittedBatch(table, appId)) false
    else {
      body
      Files.createDirectories(txnDir)
      val tmp = txnDir.resolve(s".tmp-${flat(table)}__$appId-$batchId")
      Files.write(tmp, batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, txnFile(table, appId),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      true
    }
  }
}

object TableStore {

  /** Opens parquet that graft wrote — a table directory, a generation, a
    * staged write or a set of its data files — without the Spark job
    * Spark's schema inference runs to read one footer: the data schema
    * comes from [[dataSchema]] on the driver and is handed to the reader,
    * which still finds the partition columns from the `col=value`
    * directory names (under `basePath` when given). Where there is no
    * data file the reader infers as before and fails with Spark's own
    * "Unable to infer schema" error.
    */
  def readParquet(spark: SparkSession, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val reader = basePath.fold(spark.read)(spark.read.option("basePath", _))
    dataSchema(spark, paths).fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The data schema (partition columns excluded) of the first data file
    * under `paths` by full path — the file Spark's parquet inference reads
    * with `mergeSchema` off — read from its footer under `spark`'s confs
    * ([[FooterSchema.of]]); `None` when there is no data file. One file
    * stands for all: see the one-schema invariant on the class.
    */
  private[operators] def dataSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    paths.flatMap(p => dataFiles(Paths.get(p).toAbsolutePath).nextOption())
      .minByOption(_.toString)
      .map(f => FooterSchema.of(spark, new HadoopPath(f.toUri)))

  /** The data files under `p` (itself one when it is a file), listed
    * lazily in full-path order. As in Spark's listing, a data file is a
    * regular file and entries whose names start with `_` or `.` are
    * skipped (the store's sidecars, history and staging, checksums);
    * every other directory is searched, `col=value` partitions included.
    */
  private[operators] def dataFiles(p: Path): Iterator[Path] =
    if (Files.isRegularFile(p)) Iterator.single(p)
    else if (!Files.isDirectory(p)) Iterator.empty
    else {
      val s = Files.list(p)
      val children = try s.iterator().asScala.toList finally s.close()
      children
        .filterNot { c =>
          val n = c.getFileName.toString
          n.startsWith("_") || n.startsWith(".")
        }
        // a directory sorts as `name/`, where every path under it sorts
        // among its siblings' full paths
        .sortBy(c => c.getFileName.toString + (if (Files.isDirectory(c)) "/" else ""))
        .iterator.flatMap(dataFiles)
    }

  /** Single daemon thread draining deferred `.gc-` deletions
    * ([[TableStore.deferDelete]]) — serialized so concurrent commits
    * can't saturate IO with parallel page-freeing storms.
    */
  private[operators] lazy val gcExecutor: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "tablestore-gc")
      t.setDaemon(true)
      t
    })

  /** Every labeled crash-injection point in the write protocols — the
    * states a dying writer can leave, each exercised by
    * TableStoreCrashSpec via [[TableStore.crashHook]]:
    *
    *   - `overwrite:staged`     tmp written, swap not started
    *   - `swap:marked`          tmp carries its version marker, current intact
    *   - `swap:old-archived`    current archived, tmp not yet moved in
    *                            (the table-missing window)
    *   - `append:staged`        incoming rows staged, nothing assembled
    *   - `append:assembled`     next generation assembled aside, swap not started
    *   - `opart:staged`         partitioned staging written, snapshot not taken
    *   - `opart:snapshotted`    old generation archived, loop not started
    *   - `opart:part-trashed`   a partition moved to trash, replacement not in
    *   - `opart:part-moved`     a replacement partition moved in, trash not cleared
    *   - `opart:pre-cleanup`    all partitions swapped, staging/stats not cleaned
    */
  val injectionPoints: Seq[String] = Seq(
    "overwrite:staged", "swap:marked", "swap:old-archived",
    "append:staged", "append:assembled",
    "opart:staged", "opart:snapshotted", "opart:part-trashed",
    "opart:part-moved", "opart:pre-cleanup")
}
