package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality over edge DataFrames — the second graph
  * operator next to [[Dedup.connectedComponents]]. Where CC answers
  * "which documents are the same", PageRank answers "which node is
  * central" (canonical-document election inside big near-dup clusters,
  * hub detection in citation/link corpora).
  *
  * Scale: each iteration is ONE equi-join (edges ⋈ ranks on src) + ONE
  * aggregation (contributions by dst) — both shuffle on the node id, no
  * all-pairs step anywhere. The rank frame is frozen per iteration
  * (same discipline as connectedComponents) so the lineage stays O(1)
  * instead of O(iterations). Edge skew (a celebrity in-node) is an aggregation
  * hot key, absorbed by partial aggregation map-side — contributions
  * combine before the shuffle.
  */
object Graph {

  /** Simplified PageRank (the Brin–Page iteration without dangling-mass
    * redistribution; documented contract, pinned in GraphSpec):
    *
    *   rank(v) = (1-d) + d * Σ_{u→v} rank(u) / outdeg(u)
    *
    * run for exactly `iterations` rounds from rank = 1. Nodes are the
    * UNION of sources and destinations; sinks (no out-edges) keep
    * receiving but never emit, so total mass can shrink below N — the
    * classic simplified variant.
    *
    * Input: edges with columns (`srcCol`, `dstCol`); parallel edges are
    * honored (each contributes), self-loops allowed.
    * Output: (id, rank) — one row per node.
    */
  /** @param quantizeDp when > 0, every contribution is quantized onto
    *        the 10^-quantizeDp grid and summed as a SCALED LONG
    *        (`ROUND(c · 10^dp)` — long sums cost a fraction of
    *        DECIMAL(38,dp) ones, measured 10.6 s → ~6 s at sf0.1), and
    *        each rank update is rounded to the same scale — making the
    *        fixpoint walk order-independent and therefore
    *        bit-reproducible across engines and cluster layouts (the
    *        exact-moments recipe the analytics family uses). Both
    *        engines compute the identical IEEE `c · 10^dp` before the
    *        integer round, so parity is exact. 0 = raw double path.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int = 10,
      damping: Double = 0.85,
      srcCol: String = "src",
      dstCol: String = "dst",
      quantizeDp: Int = 0): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")

    // The raw edge frame is NOT checkpointed: it is read only while
    // building nodes and eDeg, recomputing it is a projected scan, and
    // an eager checkpoint would pay a full extra materialization pass.
    // Null endpoints are no edges: a null-src edge would otherwise drop
    // its dst's whole in-flow (the eDeg join is null-unsafe) and the
    // loss cascades — real nodes silently vanish from the output.
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .filter(col("__src").isNotNull && col("__dst").isNotNull)
    val nodes = e.select(col("__src").as("id"))
      .union(e.select(col("__dst").as("id")))
      .distinct()
      .transform(Freeze.eager)
    // out-degree is joined into the edge list ONCE, outside the loop —
    // inside it would add a full edge-sized join per iteration. The
    // degree table is one row per distinct source, so the join back to
    // the edges is AQE-broadcast and never shuffles the edge list; the
    // LAZY freeze materializes it on the first iteration and every
    // later iteration reads the cached copy. Not pre-partitioned on
    // __src: a frozen frame's partitioning is unknown ([[Freeze]]).
    val eDeg = e.join(
        e.groupBy(col("__src")).agg(count(lit(1)).as("__deg")), "__src")
      .transform(Freeze.lazily)

    // Dangling handling, ONCE instead of per-iteration: a node with no
    // in-edges has the CONSTANT rank (1-d) + d·0 from iteration 1 on,
    // so the old `nodes LEFT JOIN contribs` each round (a full extra
    // shuffle whose only job was re-surfacing those nodes) collapses to
    // one static frame computed up front and unioned in. The base term
    // is built from the same Spark expressions the joined path
    // evaluated, so the doubles are bit-identical (and identical to an
    // oracle's COALESCE(…, 0) arithmetic). For symmetrized/undirected
    // edge lists the anti-join is empty and the union degenerates.
    val baseRank = {
      val b = lit(1.0) - lit(damping) + lit(damping) * lit(0.0)
      if (quantizeDp > 0) round(b, quantizeDp) else b
    }
    val danglingRanks = nodes
      .join(e.select(col("__dst").as("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id"), baseRank.as("rank"))
      .transform(Freeze.eager)

    var ranks = nodes.withColumn("rank", lit(1.0)).transform(Freeze.eager)
    // Deliberate join strategy for the loop (r14-opt, guide §3.1): each
    // later rank frame is lazily frozen with the product estimate of an
    // aggregate over the edge join, and left to it the planner broadcasts
    // the EDGE frame every round (plans/r14/pagerank_loop_body_before.txt).
    // The first rank frame holds the same rows and its stored bytes are
    // measured: broadcast the rank side while they clear the threshold.
    val ranksFit = ranks.queryExecution.optimizedPlan.stats.sizeInBytes <=
      ranks.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    for (_ <- 1 to iterations) {
      val rawC = col("rank") / col("__deg")
      val scale = math.pow(10, quantizeDp)
      val contrib =
        if (quantizeDp > 0) round(rawC * lit(scale)).cast("long")
        else rawC
      val ranksSide = ranks.withColumnRenamed("id", "__src")
      val contribs = eDeg
        .join(if (ranksFit) broadcast(ranksSide) else ranksSide, "__src")
        .select(col("__dst").as("id"), contrib.as("__c"))
        .groupBy(col("id")).agg(sum(col("__c")).as("__in"))
      // LAZY freeze: with a fixed iteration count there is no driver
      // action inside the loop, so an eager one would add a job barrier
      // per round for nothing (connectedComponents freezes eagerly only
      // because its convergence count() acts per round)
      // literal SUBTRACTION (not a pre-folded constant) so the quantized
      // path's base term is the identical IEEE value an oracle computing
      // 1.0 - damping produces
      val inTerm =
        if (quantizeDp > 0) col("__in").cast("double") / lit(scale)
        else col("__in").cast("double")
      val newRank =
        (lit(1.0) - lit(damping)) +
          lit(damping) * coalesce(inTerm, lit(0.0))
      ranks = contribs
        .select(col("id"),
          (if (quantizeDp > 0) round(newRank, quantizeDp) else newRank)
            .as("rank"))
        .unionByName(danglingRanks)
        .transform(Freeze.lazily)
    }
    ranks
  }

  /** Multi-source BFS: minimum hop distance from any seed node, bounded
    * by `maxHops` — k-hop neighborhood expansion (blast-radius queries,
    * related-document discovery over citation/link graphs).
    *
    * Frontier iteration: each hop is ONE equi-join (frontier ⋈ edges on
    * the source id) + ONE anti-join against the visited set — both
    * shuffle on the node id, and the frontier is the only thing that
    * grows the work, never the full graph. Early-stops when a frontier
    * comes back empty (the per-hop `isEmpty` is a driver-side boolean on
    * an already-checkpointed frame, not an extra scan of the graph).
    * Visited/frontier frames are eagerly frozen so lineage
    * stays O(1) across hops and each anti-join reads a materialized set.
    *
    * Directed: follows `srcCol` → `dstCol` only; pass edges in both
    * orientations for an undirected walk.
    *
    * Input: edges (`srcCol`, `dstCol`), seeds (`idCol`).
    * Output: (id, dist) for every node within `maxHops` of a seed;
    * seeds themselves at dist 0.
    */
  def bfs(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      idCol: String = "id"): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // null endpoints are no edges, null seeds no seeds: a null id never
    // matches the visited anti-join, so it would re-enter the frontier
    // as a fresh phantom row every hop
    val e0 = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .filter(col("__src").isNotNull && col("__dst").isNotNull)
    // LAZY checkpoint of the edge list ONLY when it pays: the caller's
    // edge expression is re-evaluated once per hop join, so at >2 hops
    // a single materialization wins; at 1-2 hops re-evaluating the
    // (scan+filter-shaped) expression is cheaper than writing and
    // re-reading the full edge list (r6 checkpointed unconditionally —
    // half of the 2.1× graph_bfs regression, VERDICT r6 #3).
    val e = if (maxHops > 2) e0.transform(Freeze.lazily) else e0
    val seed = seeds.select(col(idCol).as("id")).distinct()
      .filter(col("id").isNotNull)
      .withColumn("dist", lit(0))
      .transform(Freeze.eager)
    // ONE eager freeze per hop, of the NEW frontier only: `next` is
    // re-read three times (the emptiness count, the next hop's edge join,
    // every later anti-join via `visited`), and its stored bytes let the
    // planner broadcast it while it fits (the graph side never moves).
    // `visited` stays a LAZY union of those pieces — r6 also froze the
    // union, rewriting all of visited every hop (O(hops²) rows written;
    // the other half of the regression).
    var visited = seed
    var frontier = seed
    var frontierRows = seed.count()
    var hop = 1
    while (hop <= maxHops && frontierRows > 0) {
      val next = frontier
        .join(e, frontier("id") === e("__src"))
        .select(col("__dst").as("id"))
        .distinct()
        .join(visited, Seq("id"), "left_anti")
        .withColumn("dist", lit(hop))
        .transform(Freeze.eager)
      frontierRows = next.count()
      if (frontierRows > 0) {
        visited = visited.union(next)
        frontier = next
        hop += 1
      }
    }
    visited
  }

  /** Bounded-hop WEIGHTED shortest paths (Bellman-Ford delta
    * relaxation, the Pregel formulation): after round h, `dist(v)` is
    * the minimum cost of any seed→v path using at most h edges — exact
    * shortest-path distance once `maxHops` reaches the graph's hop
    * diameter (non-negative weights assumed; negative cycles would
    * relax forever and are the caller's contract to exclude).
    *
    * Scale shape: each round is ONE frontier⋈edges equi-join plus a
    * min-aggregation, both shuffled on the node id (map-side combined);
    * only nodes whose distance IMPROVED enter the next frontier, so
    * rounds shrink as distances settle, and a drained frontier stops
    * the loop early. Distances are summed in the weight column's own
    * type — pass integral weights (cents/hops) for bit-exact,
    * layout-invariant results; the gate pins that contract.
    *
    * Output: (id, dist) for every node reachable within `maxHops`.
    */
  def shortestPaths(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "w",
      idCol: String = "id"): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        col(weightCol).as("__w"))
      // a NULL weight, endpoint, or seed is no edge/seed: a null dst
      // or weight would propagate a NULL-distance phantom row that
      // never matches the dist frame's (null-unsafe) joins, so it
      // re-qualifies as "improved" every round and pins the frontier
      // open for the full hop budget
      .filter(col("__src").isNotNull && col("__dst").isNotNull &&
        col("__w").isNotNull)
    // NOT pre-partitioned like bfs/pageRank: measured at 7 reps, the
    // up-front edge repartition lost ~7% here (2.09 vs 1.96 s at
    // sf0.1/6 hops) — the min-aggregation after the hop join already
    // shrinks the frontier so fast that the per-hop edge-side exchange
    // never dominates (r13-opt)
    val ep = e.transform(Freeze.lazily)
    var dist = seeds.select(col(idCol).as("id")).distinct()
      .filter(col("id").isNotNull)
      .withColumn("dist", lit(0L).cast(e.schema("__w").dataType))
      .transform(Freeze.eager)
    var frontier = dist
    var hop = 1
    var drained = false
    while (hop <= maxHops && !drained) {
      val cand = frontier
        .join(ep, frontier("id") === ep("__src"))
        .groupBy(col("__dst").as("id"))
        .agg(min(frontier("dist") + col("__w")).as("__cand"))
      val improved = cand
        .join(dist, Seq("id"), "left")
        .filter(col("dist").isNull || col("__cand") < col("dist"))
        .select(col("id"), col("__cand").as("dist"))
        .transform(Freeze.eager)
      if (improved.isEmpty) drained = true
      else {
        dist = dist.join(improved.select(col("id")), Seq("id"), "left_anti")
          .union(improved)
          .transform(Freeze.eager)
        frontier = improved
        hop += 1
      }
    }
    dist
  }

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop every
    * node with degree < k, restrict edges to survivors". With enough
    * rounds this converges to the exact k-core; a fixed bound keeps the
    * job DAG static (the driver never inspects convergence), which is
    * the right trade at 100 TB — each round is one degree aggregation +
    * two semi-joins, all shuffling on the node id, and peeling removes
    * mass monotonically so later rounds are cheaper, not costlier.
    *
    * Input: undirected edge list (`aCol`, `bCol`) — pass each edge once;
    * degree counts both endpoints. Parallel edges each count.
    * Output: (id, degree) over the surviving edge set after the last
    * round — nodes that lost all edges drop out.
    */
  def kCore(
      edges: DataFrame,
      k: Int,
      rounds: Int,
      aCol: String = "a",
      bCol: String = "b"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = edges.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .transform(Freeze.lazily)
    for (_ <- 1 to rounds) {
      val keep = e.select(col("__a").as("id"))
        .union(e.select(col("__b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select("id")
      // LAZY checkpoint per round: truncates the 2-semi-join lineage so
      // the last round's plan stays O(1), while the whole peel still
      // runs as one job chain (no convergence action on the driver)
      e = e
        .join(keep.withColumnRenamed("id", "__a"), Seq("__a"), "left_semi")
        .join(keep.withColumnRenamed("id", "__b"), Seq("__b"), "left_semi")
        .transform(Freeze.lazily)
    }
    e.select(col("__a").as("id")).union(e.select(col("__b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
  }

  /** Canonical undirected simple edge set: (u, v) with u < v, loops and
    * parallel/reversed duplicates removed, null endpoints dropped.
    */
  private def undirect(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges
      .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()

  /** Exact per-node triangle counts by DEGREE-ORDERED ORIENTATION
    * (compact-forward / Schank–Wagner) — the shape that makes triangle
    * counting survive hubs: every undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher one, so each triangle
    * has exactly ONE node with two out-edges into it and is generated
    * as exactly one wedge; the maximum out-degree of the oriented graph
    * is O(√m) regardless of how big the hubs are, so the wedge join
    * produces Σ outdeg² = O(m^1.5) rows worst case instead of the
    * Σ deg² hub blow-up of the naive neighbor self-join. Wedge closure
    * checks against the canonical edge set with a uniform (u,v)-keyed
    * equi-join.
    *
    * Input: undirected edges (`aCol`, `bCol`) in any direction/
    * multiplicity (canonicalized internally). Output: (id, triangles)
    * for every node of the simple graph, zero-count nodes included.
    */
  def triangles(edges: DataFrame, aCol: String = "a", bCol: String = "b"): DataFrame = {
    val und = undirect(edges, aCol, bCol).transform(Freeze.eager)
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .transform(Freeze.eager)
    // one wedge per unordered out-neighbor pair at the common source
    val wedges = oriented.select(col("s"), col("t").as("x"))
      .join(oriented.select(col("s"), col("t").as("y")), Seq("s"))
      .filter(col("x") < col("y"))
      .select(col("s"), least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
    val tris = wedges.join(und, Seq("u", "v")) // closure check, uniform key
    val credited = tris.select(explode(array(col("s"), col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.select(col("id"))
      .join(credited, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Common-neighbor / Jaccard link prediction: for every NON-adjacent
    * pair with ≥ `minCommon` shared neighbors, the count of shared
    * neighbors and the Jaccard score |N(a)∩N(b)| / |N(a)∪N(b)|.
    *
    * Scale shape: wedges are generated at the shared neighbor, so a hub
    * of degree D fans out D² pairs — unavoidable for EXACT common-
    * neighbor counts. The production bound is `maxHubDegree`: nodes
    * above it do not SERVE as wedge centers (they still appear as
    * endpoints and in degrees) — the graph analog of dropping stopword
    * tokens before a pair join, deterministic and replayed identically
    * by the SQL oracle, so the gate stays hash-green. Pass
    * Int.MaxValue for the exact small-graph form.
    *
    * Output: (a, b, common, jaccard) with a < b.
    */
  def jaccardLinks(
      edges: DataFrame, minCommon: Long = 1L,
      maxHubDegree: Int = Int.MaxValue,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    val und = undirect(edges, aCol, bCol).transform(Freeze.eager)
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // full adjacency (both directions), centers capped at maxHubDegree
    val adj = und.select(col("u").as("ctr"), col("v").as("nbr"))
      .union(und.select(col("v").as("ctr"), col("u").as("nbr")))
    val centers = adj
      .join(deg.filter(col("d") <= maxHubDegree).select(col("id").as("ctr")), Seq("ctr"))
    val pairs = centers.select(col("ctr"), col("nbr").as("a"))
      .join(centers.select(col("ctr"), col("nbr").as("b")), Seq("ctr"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    val nonAdj = pairs.join(und,
      pairs("a") === und("u") && pairs("b") === und("v"), "left_anti")
    nonAdj
      .join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double") /
          (col("da") + col("db") - col("common"))).as("jaccard"))
  }

  /** Synchronous label propagation, `rounds` rounds, DETERMINISTIC:
    * every node starts labeled with its own id; each round every node
    * adopts the most frequent label among its neighbors, ties broken by
    * the SMALLEST label. Synchronous + explicit tie-break makes the
    * fixpoint walk layout-invariant and SQL-replayable (the gate
    * oracles 2 rounds in DuckDB), unlike the asynchronous textbook
    * variant whose result depends on visit order.
    *
    * Each round is one adjacency join + two aggregations, all keyed on
    * node id; the per-round argmax uses the max-struct trick (count
    * desc, label asc) instead of a per-node window sort.
    */
  def labelPropagation(
      edges: DataFrame, rounds: Int,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // labels ride as longs (the -label max-struct tie-break needs a
    // signed numeric); a string-keyed graph would cast to all-null
    // labels and propagate silent garbage — refuse it loudly instead.
    // BOTH endpoint columns must qualify: a mixed (long, string) edge
    // list slips a guard that checks only one side.
    Seq(aCol, bCol).foreach { c =>
      val idType = edges.schema(c).dataType
      val integral = idType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      require(integral,
        s"labelPropagation needs integral node ids, got $idType in '$c' — " +
          "hash or dictionary-encode string ids first")
    }
    val und = undirect(edges, aCol, bCol).transform(Freeze.eager)
    val adj = und.select(col("u").as("id"), col("v").as("nbr"))
      .union(und.select(col("v").as("id"), col("u").as("nbr")))
      .transform(Freeze.eager)
    var labels = adj.select(col("id")).distinct()
      .select(col("id"), col("id").cast("long").as("label"))
      .transform(Freeze.eager)
    // eagerly frozen, adj and labels report their stored bytes: the round
    // join builds on the label side (one row per node) while it fits
    for (_ <- 1 to rounds) {
      labels = adj
        .join(labels.select(col("id").as("nbr"), col("label")), Seq("nbr"))
        .groupBy(col("id"), col("label")).agg(count(lit(1)).as("n"))
        .groupBy(col("id"))
        .agg(max(struct(col("n"), (-col("label")).as("negl"))).as("top"))
        .select(col("id"), (-col("top.negl")).as("label"))
        .transform(Freeze.eager)
    }
    labels
  }
}
