package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.queries.Registry

/** Regenerate PLANS.md: formatted physical plans of the headline queries
  * after execution (AQE-final), so the plan-quality evidence the code
  * claims (pushdown, broadcast, TakeOrdered, codegen spans) is a
  * reviewable artifact, not an assertion.
  *
  * `runMain graft.tools.DumpPlans [sfDir] [outFile]`
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.local("graft-plans")

    val byName = Registry.all.map(q => q.name -> q).toMap
    val headliners = Seq(
      "q1_agg", "j3_star_join", "o2_topk", "w2_top1_per_group",
      "sim_topk_bruteforce", "tpch_q3_shape",
      // scale-path operators added in rounds 2-3: partial_topk heap,
      // z-order re-layout read-back, three-stage minhash-LSH, bloom-
      // filter runtime pruning
      "zorder_cluster", "dedup_minhash_lsh", "bloom_prune_join",
      "tpch_q5_shape",
      // round-4 curation family: broadcast decontamination, map-only
      // chunking and repetition stats (the shuffle-free scan passes),
      // PPJoin length-prefiltered jaccard
      "decontam_overlap", "text_chunk", "text_repetition",
      "dedup_ngram_jaccard",
      // round-4 additions: one-pass LSH signatures + rescore-first
      // candidate join, SCD2's broadcastable key-wise joins, corpus-
      // trained LM scoring, single-scan mixture resampling
      "sim_lsh_neardup", "s15_scd2_merge", "text_lm_score", "mixture_sample",
      // custom physical operator + distributed-prefix-sum selection
      "range_join_interval", "corpus_select",
      // round-4 batch 2: three-scan span fingerprinting, chained
      // broadcast-reach funnel, day-index RANGE frames
      "dedup_spans", "funnel_analysis", "ts_rolling",
      // round-4 batches 5-6: frontier BFS (join + anti-join per hop),
      // (label, dim)-keyed centroid aggregation with broadcast-back,
      // pigeonhole-blocked hamming join, heap-based weighted sampling
      // (no window, no global sort), percentile-broadcast winsorization
      "graph_bfs", "emb_class_stats", "dedup_fuzzy_names", "sample_weighted",
      "feature_winsorize",
      // round-4 batches 19-23: canonical-string dedup shuffle, the
      // 8-table Q8 broadcast tree, fixed-point JL projection (explode +
      // uniform-key aggregate), stateless hashing-trick vectorizer,
      // user-keyed attribution range join, keyset pagination pushdown
      "dedup_url_canonical", "tpch_q8_shape", "emb_random_projection",
      "feature_hashing", "event_attribution", "o5_keyset_pagination",
      // dynamic partition pruning on a partitioned fact, broadcast-query
      // kNN graph, inverted-index containment dedup
      "j22_dynamic_partition_pruning", "sim_knn_graph", "dedup_containment",
      // round-4 batches 65-82: sort-merge nearest-value walk (one sort,
      // no cross join), PQ codebook encode + ADC lookup join, exploded
      // per-dim centroid recompute, checkpointed-edge recursive decode,
      // single-window OHLC downsample
      "j24_nearest_join", "sim_ann_pq", "kmeans_step", "lm_greedy_decode",
      "ts_ohlc",
      // round-5: TotalOrder replaces every table-sized global window —
      // two-phase rank (sorted-neighborhood), distributed ntile (RFM),
      // prefix-sum midranks (Mann-Whitney), one-pass rank+prefix-sum
      // (average precision); recall-saturated verified LSH pairs; the
      // collapsed aggregate()-fold recurrence (Holt)
      "dedup_sorted_neighborhood", "rfm_segmentation", "a75_mann_whitney",
      "eval_average_precision", "dedup_minhash_verified", "ts_holt",
      // round-6: bucketed co-located join (ZERO exchange on the bucket
      // key), dynamic partition pruning (runtime filter in the fact
      // scan's PartitionFilters), shard export (range shuffle + two
      // partition-local windows, no single-reducer sort), IVF top-k on
      // the NearestCell map-only assignment
      "s47_bucketed_join", "s48_dpp_join", "shard_export", "sim_ivf_topk",
      // round-6 cont.: the TPC-H sweep completers (correlated scalar
      // MIN re-entry, null-aware broadcast anti-join for NOT IN,
      // semi+anti double correlation), the hot/cold skew split (cold
      // shuffle branch ∪ broadcast hot branch), and the Delta-protocol
      // round trip (partition columns rejoined broadcast against the
      // imported scan)
      "tpch_q2_shape", "tpch_q16_shape", "tpch_q21_shape",
      "skew_hotcold_join", "s49_delta_roundtrip",
      // round-6 final block: grid-tile spatial joins (box explode /
      // 3×3 neighbourhood explode feeding a plain shuffled equi-join on
      // the tile id — the plans that replace BroadcastNestedLoopJoin)
      "spatial_points_in_boxes", "spatial_within_radius",
      // round-10: the trainable-curation layer — broadcast-literal
      // map-side scoring off a TakeOrdered (no join, no shuffle for the
      // quality filter), and the shuffle-free JL projection (k·d sign
      // literals inside codegen vs emb_random_projection's exploded
      // aggregate)
      "qf_linear_score", "emb_rand_proj",
      // round-11: string-keyed ANN through the dense-id dictionary
      // (row-number mapping joined back twice for decode, heap top-k in
      // the middle), and the incremental-score read-back (the scored
      // table is partition-pruned aligned-append state, so the plan is
      // a plain partitioned scan — the maintenance cost lives at ingest)
      "sim_topk_string_ids", "curation_incremental_score",
      // round-11 batches 2-3: the 10-threshold sweep as ONE scan with a
      // broadcast conditional-sum fan-out, and exact top-p% selection
      // through the distributed TotalOrder rank (range shuffle +
      // offsets — no single-reducer sort in either)
      "qf_threshold_sweep", "qf_top_percent",
      // round-12: append-maintained IVF serving (static partition-pruned
      // postings scan — identical plan to the one-shot index, which is
      // the point), and the deletion-vector read (row-index anti-join
      // against executor-decoded DV positions, partition values rejoined
      // broadcast)
      "sim_ivf_append", "s51_delta_import_dv").map(byName)

    val sections = headliners.map { q =>
      val df = q.build(spark, sfDir)
      df.collect() // finalize AQE
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      s"## ${q.name}\n\n```\n${plan.take(6000)}\n```\n"
    }

    val header =
      s"""# PLANS — headline query physical plans (generated by graft.tools.DumpPlans)
         |
         |AQE-final formatted plans at `$sfDir`. What to look for: `PushedFilters`
         |on every scan, `BroadcastHashJoin` for dimension joins,
         |`TakeOrderedAndProject` for top-k, two `HashAggregate`s (partial+final)
         |per aggregation, and WholeStageCodegen ids covering the hot operators.
         |These properties are also asserted in PlanSpec.
         |""".stripMargin
    Files.write(Paths.get(out),
      (header + "\n" + sections.mkString("\n")).getBytes("UTF-8"))
    println(s"[plans] wrote $out (${headliners.size} queries)")
    spark.stop()
  }
}
