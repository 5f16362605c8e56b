package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (driver contract: ONE JSON line on stdout).
  *
  * Drift-robust protocol (VERDICT r8 item 1 — two rounds running, the
  * single-shot in-suite clock manufactured >2x "regressions" on untouched
  * code that isolated bisects then disproved; see BENCH_LOCAL.md rounds
  * 7-8 and the context-drift analysis):
  *
  *   (a) gates run in a FIXED order (registry name sort — identical
  *       every round, so suite position, and therefore the JIT/page-cache
  *       context a gate inherits, is stable round-over-round);
  *   (b) each gate is timed as the MEDIAN of 3 back-to-back executions
  *       (the median rejects the one-off GC pause / compilation stall
  *       that a single shot or a min-of-N cannot distinguish from a real
  *       plan change);
  *   (c) any gate whose median exceeds 1.5x its previous-round number
  *       (committed as bench_baseline.json) is AUTO-RE-RUN in isolation
  *       at the end of the suite — after a GC + cache clear, with nothing
  *       running before it — and BOTH numbers are recorded, so a reader
  *       can tell "reproduces in isolation" (real) from "suite weather"
  *       (phantom) without a next-round bisect;
  *   (d) flags whose BASELINE is < 1 s get a further COLD-TO-COLD
  *       adjudication (VERDICT r9 item 4 — the in-session isolated rerun
  *       carries warm-JIT bias at that scale): one fresh child JVM runs
  *       the flagged gates plus a fixed calibration set of untouched
  *       cheap gates; the calibration gates' cold/baseline ratio measures
  *       the fresh-JVM bias, and a flag "reproduces cold" only if its own
  *       ratio exceeds 1.5x the calibration median. The verdict lands in
  *       bench_detail.json's `coldtocold` section — no manual bisect;
  *   (e) SEVERE flags — suite median > 2.5x baseline — always join the
  *       cold child, whatever their baseline magnitude or warm-isolated
  *       verdict, and the stdout summary line NAMES every reproduced /
  *       cold-adjudicated gate with its verdict (VERDICT r10 item 1:
  *       unnamed `reproduced: 2` counts were unauditable from the
  *       driver's captured tail alone).
  */
object Bench {

  /** Per-gate timings from a bench JSON artifact, read ONLY from inside
    * its `"queries":{...}` object (ADVICE r9: the old whole-file
    * key:number scan bound each gate to its LAST match, so committing a
    * richer detail shape — `runs`/`flagged`/`phases` repeat gate names
    * with different numbers — would silently corrupt the >1.5x
    * flagging). Returns empty when the artifact's sf doesn't match or
    * the queries object can't be isolated.
    */
  private[graft] def loadBaselineQueries(
      path: String, sfDir: String): Map[String, Double] = try {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val sfOk = "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt)
      .exists(m => m.group(1).split('/').last == sfDir.split('/').last)
    if (!sfOk) Map.empty
    else {
      // isolate the queries object by brace matching (its values are
      // flat name:number pairs, so the first '}' closes it — but walk
      // defensively in case a future shape nests)
      val start = txt.indexOf("\"queries\"")
      if (start < 0) Map.empty
      else {
        val open = txt.indexOf('{', start)
        // the open < 0 guard must precede the walk: charAt(-1) would
        // throw into the blanket catch and silently disable ALL
        // regression flagging for the round on a truncated artifact
        var depth = 0
        var i = open
        var end = -1
        while (open >= 0 && i < txt.length && end < 0) {
          txt.charAt(i) match {
            case '{' => depth += 1
            case '}' => depth -= 1; if (depth == 0) end = i
            case _ =>
          }
          i += 1
        }
        if (open < 0 || end < 0) Map.empty
        else "\"([A-Za-z0-9_]+)\"\\s*:\\s*(-?[0-9.]+)".r
          .findAllMatchIn(txt.substring(open, end + 1))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
  } catch { case _: Throwable => Map.empty }

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session gates are timed, verified and probed in: the
    * GraftSession defaults (AQE, UTC, nanosAsLong, ...) with ANSI on, the
    * driver default the queries are written for, unlike the
    * reference-parity pipeline.
    */
  private[graft] def session(appName: String): SparkSession = {
    val spark = GraftSession.builder(appName, cpus.toInt)
      .config("spark.sql.ansi.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarn()
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session("graft-bench")
    // warmup: JIT + codegen + parquet footer caches, so the first timed
    // query doesn't absorb session start-up
    try {
      graft.Tables.all.foreach(t =>
        graft.Tables.load(spark, sfDir, t).count())
      // …and the EXECUTION stack, not just the scans: round-12 residue
      // data showed the suite's first gates (a10/a12, alphabetical
      // order) carrying 3-6x their isolated cost with zero shuffle/GC
      // of their own — the recurring "suite interference" flags were
      // the codegen compiler, window, aggregate, and join paths JITing
      // on whoever ran first. One synthetic pass through those
      // operators moves that cost here, off every gate's clock.
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = spark.range(200000).select(col("id"),
        (col("id") % 97).as("g"), (col("id") % 13).as("j"))
      val dim = spark.range(13).select(col("id").as("j"), (col("id") * 2).as("v"))
      w.join(broadcast(dim), Seq("j"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("id"))))
        .groupBy(col("g")).agg(sum(col("v")).as("s"), max(col("rn")))
        .orderBy(col("s").desc).count()
    } catch { case _: Throwable => () }
    // local iteration only: SPARK_GRAFT_ONLY=q1,q2 times a subset (the
    // driver never sets it)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_WARM=0 drops to single-shot timings (scale studies at
    // 10x+ data, where two extra passes over the heavy tail cost more
    // than the noise they remove); the driver never sets it, so the
    // official artifact is always median-of-3.
    val reps =
      if (sys.env.get("SPARK_GRAFT_WARM").exists(_ == "0")) 1
      else sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    // failed queries report -1 (never a fake timing) and are excluded
    // from the total, so a regression cannot "improve" the benchmark.
    // Each execution times TWO phases: the gate-fn call (for ordinary
    // gates a lazy plan build, ~0; for the persisted-index gates the
    // eager index BUILD) and the count() (the query/probe execution) —
    // bench_detail.json attributes an index gate's cost to build vs the
    // amortized probe without splitting the gate.
    def timeOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Double) =
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        (-1.0, -1.0)
      }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2) // odd-count runs: the true middle; even: upper middle
    }
    // Back-to-back executions; the gate's number is the median of the
    // successful totals (a gate that fails EVERY run reports -1; a gate
    // that fails some runs reports the median of what succeeded — the
    // failure is already on stderr and in the -1 accounting of reruns).
    def timeGate(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, (Double, Double), Seq[Double]) = {
      val runs = (1 to reps).map(_ => timeOnce(name, fn))
      val totals = runs.map { case (s, e) => if (s < 0) -1.0 else s + e }
      val ok = totals.filter(_ >= 0)
      val med = if (ok.isEmpty) -1.0 else median(ok)
      (med, runs.head, totals)
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val fnByName = queries.toMap
    // Suite-interference instrumentation (VERDICT r11 item 5: 8 gates
    // flagged >1.5x in-suite, 0 reproduced isolated or cold — adjudged
    // statistically, with no named mechanism). Per gate, the residue
    // candidates: executor GC time, shuffle bytes written/read,
    // memory+disk spill over the tasks of the gate's own jobs (Probe's
    // counters), plus the persistent-RDD count after the gate
    // (localCheckpoint(true) blocks linger until the ContextCleaner runs
    // — block-manager pressure is the leading suspect). bench_detail.json
    // carries them so a flag adjudication can point at a cause, not a
    // p-value.
    val residue = scala.collection.mutable.Map.empty[String, (graft.tools.Probe.Counters, Int)]
    val timed: Seq[(String, (Double, (Double, Double), Seq[Double]))] =
      queries.map { case (name, fn) =>
        val (t, recording) = graft.tools.Probe.record(spark, name)(timeGate(name, fn))
        // rdds = what THIS gate left persisted (localCheckpoint blocks)…
        residue(name) = (recording.total, spark.sparkContext.getPersistentRDDs.size)
        // …then release them: round-12 residue data measured the live
        // count climbing 2 → ~23 across the suite with GC time
        // concentrating in late heavy gates (graph_modularity spent
        // 1.76 s of its 2.46 s in GC). Nothing is reused across gates
        // (every rep calls the gate fn fresh), so lingering blocks are
        // pure block-manager pressure.
        spark.sparkContext.getPersistentRDDs.values.foreach(r =>
          try r.unpersist(false) catch { case _: Throwable => () })
        name -> t
      }
    val results: Map[String, Double] =
      timed.map { case (name, (med, _, _)) => name -> med }.toMap
    // (c) previous-round comparison: bench_baseline.json is the prior
    // round's full per-gate map (committed at round close from the same
    // sf0.1 driver protocol). Only comparable when the scale factor
    // matches; a gate is flagged when its median is BOTH >1.5x the
    // baseline and >=0.3 s (below that the delta is under the noise
    // floor of a local[32] JVM and no bisect would act on it).
    val baseline: Map[String, Double] = loadBaselineQueries(
      "bench_baseline.json", sfDir)
    // a cold-to-cold CHILD process times its subset and exits: no
    // flagging, no isolated re-runs, no recursive children
    val isChildRun = sys.env.contains("SPARK_GRAFT_COLD")
    val flaggedNames = if (isChildRun) Seq.empty[String] else timed.collect {
      case (name, (med, _, _))
          if med >= 0.3 && baseline.get(name).exists(b => b > 0 && med > 1.5 * b) =>
        name
    }
    // isolated re-run: GC + catalog cache clear, then the same
    // median-of-3, with nothing else running — the apples-to-apples
    // number a bisect would produce, captured in the SAME session so
    // the next round's verdict doesn't have to.
    //
    // VERDICT r12 item 1: the old alphabetical take(20) left 17 of 37
    // flags (including the only >2x one, sim_neardup_embedding) with
    // isolated = -1.0 — unadjudicated by construction. Now flags are
    // processed MOST-SEVERE-FIRST (suite/baseline ratio) under a
    // wall-clock budget instead of a count: every flag runs until the
    // isolated pass has consumed 300 s, and a >2x flag runs regardless
    // of budget (there are never many, and an unadjudicated >2x is an
    // automatic weak mark). A pathological load-spike round flagging
    // half the suite still can't blow the bench up unboundedly — the
    // budget holds for the <=2x tail — but no realistic round leaves a
    // flag at -1.0 again.
    val flaggedBySeverity = flaggedNames.sortBy { n =>
      -(results(n) / math.max(baseline(n), 1e-9))
    }
    val isoDeadlineNs = 300e9
    var isoSpentNs = 0L
    val isolated: Map[String, Double] = flaggedBySeverity.flatMap { name =>
      val severe = results(name) > 2.0 * baseline(name)
      if (!severe && isoSpentNs >= isoDeadlineNs) None
      else {
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val (med, _, _) = timeGate(name, fnByName(name))
        isoSpentNs += System.nanoTime() - t0
        Some(name -> med)
      }
    }.toMap
    val reproducedGates = isolated.collect {
      case (name, iso) if baseline.get(name).exists(b => iso > 1.5 * b) => name
    }.toSeq.sorted
    val reproduced = reproducedGates.size
    // Sub-second flag adjudication, AUTOMATED (VERDICT r9 item 4): the
    // in-session isolated re-run inherits warm JIT, so for gates whose
    // baseline is < 1 s it systematically over-reads — round 9 needed a
    // hand-run cold-to-cold bisect to dismiss two such flags. Codified:
    // spawn ONE fresh JVM running the sub-second flagged gates PLUS a
    // fixed calibration set of code-untouched cheap gates; the calib
    // gates' cold/baseline ratio measures the fresh-JVM bias directly,
    // and a flag only "reproduces cold" if its own ratio exceeds 1.5x
    // the calibration median. Child runs under SPARK_GRAFT_COLD=1 (no
    // recursion, detail to a temp path) and is hard-capped at 10 min.
    val calibGates = Seq("a3_distinct", "f_math", "a8_percentile")
      .filter(fnByName.contains).filterNot(flaggedNames.contains)
    // strongest evidence first: a sub-second flag whose ISOLATED rerun
    // also exceeded 1.5x baseline is the one the cold child must
    // adjudicate — an alphabetical take(5) once spent the whole budget
    // on weather flags and missed both isolated-reproduced ones
    val subSecFlags = flaggedNames
      .filter(n => baseline.get(n).exists(b => b > 0 && b < 1.0))
      .sortBy { n =>
        val b = baseline(n)
        -(isolated.get(n).filter(_ > 0).getOrElse(results(n)) / b)
      }
      .take(5)
    // SEVERE flags (VERDICT r10 item 1): any gate whose suite median
    // exceeded 2.5x its committed baseline gets the cold-to-cold child
    // UNCONDITIONALLY — whatever its baseline magnitude and even if the
    // warm isolated rerun cleared it — so a far-above-median outlier in
    // the driver artifact always carries its own cold verdict inline
    // instead of waiting a round for a manual bisect (round 10 left
    // decontam_overlap 7.2x / q1_agg 4.4x / dedup_clusters 2.9x
    // adjudicable only from the next round's artifacts).
    val severeFlags = flaggedNames
      .filter(n => baseline.get(n).exists(b => b > 0 && results(n) > 2.5 * b))
      .sorted
    val coldGates = (severeFlags ++ subSecFlags).distinct.take(8)
    val coldQueries: Map[String, Double] =
      if (isChildRun || coldGates.isEmpty || calibGates.isEmpty) Map.empty
      else try {
        val detailPath = java.nio.file.Files.createTempFile("bench_cold", ".json")
        val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.map(_.toString)
          .filter(a => a.startsWith("--add-opens") ||
            a.startsWith("--add-exports") || a.startsWith("-Xmx"))
        val cmd = Seq(
          System.getProperty("java.home") + "/bin/java") ++ jvmArgs ++ Seq(
          "-cp", System.getProperty("java.class.path"), "graft.Bench")
        val pb = new ProcessBuilder(cmd: _*)
        pb.environment().put("SPARK_GRAFT_COLD", "1")
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        pb.environment().put("SPARK_GRAFT_ONLY",
          (coldGates ++ calibGates).distinct.mkString(","))
        pb.environment().put("SPARK_GRAFT_DETAIL_PATH", detailPath.toString)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val proc = pb.start()
        val done = proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
        val loaded =
          if (!done) { proc.destroyForcibly(); Map.empty[String, Double] }
          else loadBaselineQueries(detailPath.toString, sfDir)
        // the temp detail file is consumed — don't leave one per round
        // in the system temp dir (including a partial one on timeout)
        try java.nio.file.Files.deleteIfExists(detailPath)
        catch { case _: Throwable => () }
        loaded
      } catch { case e: Throwable =>
        System.err.println(s"[bench] cold-to-cold child failed: ${e.getMessage}")
        Map.empty
      }
    val calibRatios = calibGates.flatMap(g =>
      for (c <- coldQueries.get(g); b <- baseline.get(g) if b > 0 && c > 0)
        yield c / b).sorted
    // clamped at >= 1.0: if the calibration gates happen to run FASTER
    // cold than a baseline recorded under suite load, an unclamped
    // median would drop the effective bar below 1.5x and label a gate
    // that merely MATCHES baseline as a cold-reproduced regression
    val calibMedian =
      if (calibRatios.isEmpty) -1.0
      else math.max(1.0, calibRatios(calibRatios.size / 2))
    // ISOLATED-WARM evidence trumps the cold comparison: the committed
    // baseline was measured WARM in-suite, so isolated/baseline is the
    // like-for-like regression test; cold/baseline additionally carries
    // each gate's own JIT warm-up, which for interpretation-heavy gates
    // (higher-order lambdas, long generated CASEs) legitimately exceeds
    // what the codegen-light calibration set measures. A flag whose
    // isolated warm rerun sits within 1.2x baseline is therefore
    // warm-cleared — no code regression, whatever its cold ratio says
    // (round 10 measured exactly this: two untouched stat gates at
    // isolated 1.03-1.04x but cold 2.3-2.5x vs calib 1.37x).
    val coldVerdicts: Seq[(String, Double, Double, Boolean, Boolean)] =
      if (calibMedian <= 0) Nil
      else coldGates.flatMap { g =>
        for (c <- coldQueries.get(g); b <- baseline.get(g) if b > 0 && c > 0)
          yield {
            val warmCleared =
              isolated.get(g).exists(iso => iso > 0 && iso <= 1.2 * b)
            (g, c, c / b, !warmCleared && c / b > 1.5 * calibMedian,
              warmCleared)
          }
      }
    val coldReproduced = coldVerdicts.count(_._4)
    val coldReproducedGates = coldVerdicts.collect { case (g, _, _, true, _) => g }.sorted
    // The driver captures a fixed-size tail (~2000 chars) of the run
    // output; with 85+ registered queries a full per-query dump pushes
    // the start of the JSON line out of the window and the driver
    // records parsed=null. So the stdout line carries a curated headline
    // subset (every family's representative + the historically expensive
    // queries) plus anything that measured >=0.5 s this run, at 3
    // decimals; the complete map goes to bench_detail.json next to the
    // repo for local analysis.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val headline: Set[String] = Set(
      "q1_agg", "a1_dup_audit", "a8_percentile", "a10_ratio_of_aggs",
      "a12_rollup", "j1_left_join_broadcast", "j3_star_join",
      "j11_set_ops", "w1_row_number", "w2_top1_per_group",
      "s6_insert_only_merge",
      "s7_scd1_merge", "tpch_q3_shape", "tpch_q4_shape", "tpch_q5_shape",
      "zorder_cluster", "bloom_prune_join", "ivm_refresh", "asof_join",
      "range_join", "skew_salted_join", "dedup_exact", "dedup_minhash_lsh",
      "dedup_simhash", "dedup_ngram_jaccard", "dedup_clusters",
      "dedup_corpus", "sim_topk_bruteforce", "sim_ivf_topk",
      "sim_topk_quantized", "sim_neardup_embedding",
      "text_tfidf", "sample_per_group", "pack_sequences", "curation_e2e",
      "stream_session_agg", "stream_dedup",
      "mm_features", "freq_heavy_hitters", "sim_lsh_neardup",
      "text_lm_score", "mixture_sample", "stream_interval_join",
      "s15_scd2_merge", "semantic_dedup", "decontam_overlap",
      // round-4 batches 3-8
      "pagerank_parts", "graph_bfs", "dedup_fuzzy_names",
      "sample_weighted", "emb_class_stats", "market_basket")
    val shown = results.toSeq
      .filter { case (k, v) => headline(k) || v >= 0.5 || v < 0 }
      .sortBy(_._1)
    def render(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    // hard cap: the driver's capture window is ~2000 chars and must hold
    // the WHOLE line — under heavy machine load many queries cross the
    // 0.5 s bar, so shed the non-headline extras first, then the fastest
    // headline entries, before the line can outgrow the window
    // 1300, not 1500: the summary line now also carries the named
    // reproduced/cold-verdict sets (bounded, ~500 chars worst case),
    // and the whole line must fit the driver's ~2000-char window
    var qs = render(shown)
    if (qs.length > 1300) qs = render(shown.filter { case (k, v) => headline(k) || v < 0 })
    if (qs.length > 1300)
      qs = render(shown.filter(_._2 != 0)
        .sortBy { case (_, v) => if (v < 0) Double.MinValue else -v }
        .take(40).sortBy(_._1))
    val total = results.values.filter(_ >= 0).sum
    val fullJson = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // phases: only gates whose fn call did real work (index builds) —
    // a lazy plan construction under 50 ms is noise, not a phase
    val phasesJson = timed
      .filter { case (_, (_, (setup, _), _)) => setup >= 0.05 }
      .sortBy(_._1)
      .map { case (k, (_, (s, e), _)) =>
        s"\"" + k + "\":{\"setup\":" + fmt(s) + ",\"exec\":" + fmt(e) + "}" }
      .mkString("{", ",", "}")
    val runsJson = timed.sortBy(_._1)
      .map { case (k, (_, _, totals)) =>
        s"\"" + k + "\":[" + totals.map(fmt).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val flaggedJson = flaggedNames.sorted.map { name =>
      s"\"" + name + "\":{\"suite\":" + fmt(results(name)) +
        ",\"baseline\":" + fmt(baseline.getOrElse(name, -1.0)) +
        ",\"isolated\":" + fmt(isolated.getOrElse(name, -1.0)) + "}"
    }.mkString("{", ",", "}")
    // per-gate residue deltas (MB at 1 decimal; GC in ms; rdds = live
    // persistent-RDD count AFTER the gate — a monotone climb names the
    // lingering-checkpoint mechanism, a flat line exonerates it)
    val residueJson = residue.toSeq.sortBy(_._1).map {
      case (k, (c, rdds)) =>
        s"\"" + k + "\":{\"gc_ms\":" + c.gcMs +
          ",\"shuffle_write_mb\":" + fmt(c.shuffleWriteBytes / 1e6) +
          ",\"shuffle_read_mb\":" + fmt(c.shuffleReadBytes / 1e6) +
          ",\"spill_mb\":" + fmt(c.spillBytes / 1e6) +
          ",\"rdds\":" + rdds + "}"
    }.mkString("{", ",", "}")
    val coldJson = coldVerdicts.sortBy(_._1).map {
      case (g, c, ratio, rep, warmCleared) =>
        s"\"" + g + "\":{\"cold\":" + fmt(c) +
          ",\"baseline\":" + fmt(baseline.getOrElse(g, -1.0)) +
          ",\"isolated\":" + fmt(isolated.getOrElse(g, -1.0)) +
          ",\"ratio\":" + fmt(ratio) +
          ",\"calib_median_ratio\":" + fmt(calibMedian) +
          ",\"warm_cleared\":" + warmCleared +
          ",\"reproduced_cold\":" + rep + "}"
    }.mkString("{", ",", "}")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_DETAIL_PATH", "bench_detail.json")),
        (s"""{"total":${fmt(total)},"sf":"$sfDir","reps":$reps,""" +
          s""""queries":$fullJson,"phases":$phasesJson,""" +
          s""""runs":$runsJson,"flagged":$flaggedJson,""" +
          s""""coldtocold":$coldJson,"residue":$residueJson}""").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // queries_timed lets a round-over-round reader normalize the total:
    // the registry grows every round, so total alone is not comparable.
    // flagged/reproduced: gates >1.5x last round's number, and how many
    // of those survived an isolated re-run — the drift-vs-real verdict,
    // in the artifact itself (full numbers in bench_detail.json).
    // reproduced_gates / cold_verdicts NAME each adjudicated gate with
    // its verdict inline (VERDICT r10 item 1: the r10 tail said
    // `reproduced: 2` without names — unauditable from artifacts alone);
    // both sets are bounded (isolated cap 20, cold cap 8) so the line
    // stays inside the driver's ~2000-char capture window.
    def jsonNames(xs: Seq[String]): String =
      xs.take(12).map("\"" + _ + "\"").mkString("[", ",", "]")
    val coldVerdictJson = coldVerdicts.sortBy(_._1).map {
      case (g, _, _, rep, warmCleared) =>
        val v = if (rep) "reproduced"
          else if (warmCleared) "warm_cleared" else "weather"
        s"\"" + g + "\":\"" + v + "\""
    }.mkString("{", ",", "}")
    val summaryLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries_timed":${results.size},"reps":$reps,"flagged":${flaggedNames.size},"reproduced":$reproduced,"reproduced_gates":${jsonNames(reproducedGates)},"cold_adjudicated":${coldVerdicts.size},"cold_reproduced":$coldReproduced,"cold_reproduced_gates":${jsonNames(coldReproducedGates)},"cold_verdicts":$coldVerdictJson,"queries":$qs,"sf":"$sfDir"}"""
    // sidecar copy of the exact summary line: the driver's tail-parse is
    // a convenience, not the only recovery path (VERDICT r11 item 2 —
    // BENCH_r11.json:parsed was null and the number had to be recovered
    // from BENCH_LOCAL.md by hand)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_SUMMARY_PATH", "bench_summary.json")),
      (summaryLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // The summary MUST be the LAST stdout/stderr line the driver
    // captures (VERDICT r11 item 2: a StateStore maintenance thread from
    // the streaming gates outlived spark.stop() and printed a WARN after
    // the summary, breaking the driver's tail-parse). Three defenses,
    // all applied: (a) stop any still-active streaming queries; (b) shut
    // the StateStore maintenance task down explicitly BEFORE the session
    // stops, so no tick can fire into a dead SparkEnv; (c) drop that
    // logger to ERROR in case a tick is already mid-flight; then stop
    // the session and only THEN print the summary.
    try spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state.StateStore",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    spark.stop()
    println(summaryLine)
    Console.out.flush()
  }
}
