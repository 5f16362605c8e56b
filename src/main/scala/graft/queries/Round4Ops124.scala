package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 124: t-closeness (the EMD privacy audit that
  * completes the k-anonymity / l-diversity trio), graph modularity of
  * the nation partition, and Fleiss' kappa inter-rater agreement.
  */
object Round4Ops124 {

  /** t-closeness audit: for each (nation, segment) equivalence class,
    * the Earth-Mover's Distance between the class's account-balance
    * decile distribution and the global one — the ordered-attribute
    * EMD is the mean absolute cumulative gap. Classes are zero-filled
    * over the decile grid so missing deciles count, and the decile
    * assignment is a deterministic NTILE. The 10 worst classes are
    * exactly the ones a privacy reviewer would flag after k-anonymity
    * passes but skewed balances still leak.
    */
  val priv_t_closeness = OpQuery(
    "priv_t_closeness",
    """WITH base AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS dcl
      |  FROM customer),
      |n_all AS (SELECT COUNT(*) AS n FROM base),
      |gdist AS (
      |  SELECT dcl, COUNT(*) AS c FROM base GROUP BY dcl),
      |cls AS (
      |  SELECT nat, seg, COUNT(*) AS nc FROM base GROUP BY nat, seg),
      |grid AS (
      |  SELECT cls.nat, cls.seg, cls.nc, g.dcl, g.c AS gc
      |  FROM cls CROSS JOIN gdist g),
      |cnt AS (
      |  SELECT nat, seg, dcl, COUNT(*) AS c FROM base GROUP BY nat, seg, dcl),
      |diffs AS (
      |  SELECT grid.nat, grid.seg, grid.nc, grid.dcl,
      |         CAST(COALESCE(cnt.c, 0) AS DOUBLE) / grid.nc
      |           - CAST(grid.gc AS DOUBLE) / (SELECT n FROM n_all) AS d
      |  FROM grid LEFT JOIN cnt
      |    ON cnt.nat = grid.nat AND cnt.seg = grid.seg AND cnt.dcl = grid.dcl),
      |cum AS (
      |  SELECT nat, seg, nc, dcl,
      |         SUM(d) OVER (PARTITION BY nat, seg ORDER BY dcl
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      |  FROM diffs),
      |emd AS (
      |  SELECT nat, seg, nc,
      |         CAST(SUM(CAST(ROUND(ABS(r), 8) AS DECIMAL(28,8))) AS DOUBLE) / 9 AS t
      |  FROM cum WHERE dcl < 10
      |  GROUP BY nat, seg, nc)
      |SELECT CAST(nat AS INT) AS nationkey, seg AS segment,
      |       CAST(nc AS BIGINT) AS class_size,
      |       CAST(ROUND(t, 6) AS DOUBLE) AS t_closeness
      |FROM emd
      |ORDER BY t_closeness DESC, nationkey, segment
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        col("c_acctbal"), col("c_custkey"))
    // global NTILE(10) via TotalOrder's distributed form (winscan r9:
    // RAW table-sized global window) — bit-equal larger-buckets-first
    // assignment, one range shuffle + broadcast count
    graft.operators.TotalOrder
      .ntile(cust, Seq(col("c_acctbal"), col("c_custkey")), 10, "dcl")
      .select(col("nat"), col("seg"), col("dcl"))
      .createOrReplaceTempView("graft_tc_base")
    spark.sql(
      """WITH base AS (SELECT nat, seg, dcl FROM graft_tc_base),
        |n_all AS (SELECT COUNT(*) AS n FROM base),
        |gdist AS (
        |  SELECT dcl, COUNT(*) AS c FROM base GROUP BY dcl),
        |cls AS (
        |  SELECT nat, seg, COUNT(*) AS nc FROM base GROUP BY nat, seg),
        |grid AS (
        |  SELECT cls.nat, cls.seg, cls.nc, g.dcl, g.c AS gc
        |  FROM cls CROSS JOIN gdist g),
        |cnt AS (
        |  SELECT nat, seg, dcl, COUNT(*) AS c FROM base GROUP BY nat, seg, dcl),
        |diffs AS (
        |  SELECT grid.nat, grid.seg, grid.nc, grid.dcl,
        |         CAST(COALESCE(cnt.c, 0) AS DOUBLE) / grid.nc
        |           - CAST(grid.gc AS DOUBLE) / (SELECT n FROM n_all) AS d
        |  FROM grid LEFT JOIN cnt
        |    ON cnt.nat = grid.nat AND cnt.seg = grid.seg AND cnt.dcl = grid.dcl),
        |cum AS (
        |  SELECT nat, seg, nc, dcl,
        |         SUM(d) OVER (PARTITION BY nat, seg ORDER BY dcl
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
        |  FROM diffs),
        |emd AS (
        |  SELECT nat, seg, nc,
        |         CAST(SUM(CAST(ROUND(ABS(r), 8) AS DECIMAL(28,8))) AS DOUBLE) / 9 AS t
        |  FROM cum WHERE dcl < 10
        |  GROUP BY nat, seg, nc)
        |SELECT CAST(nat AS INT) AS nationkey, seg AS segment,
        |       CAST(nc AS BIGINT) AS class_size,
        |       CAST(ROUND(t, 6) AS DOUBLE) AS t_closeness
        |FROM emd
        |ORDER BY t_closeness DESC, nationkey, segment
        |LIMIT 10""".stripMargin)
  }

  /** Newman modularity of the nation partition over the supplier
    * co-purchase graph (suppliers linked when they ship the same
    * part): Q = Σ_c (e_c/m − (d_c/2m)²). Per-nation intra-edge and
    * degree-mass terms come from one edge list joined to the supplier
    * dimension twice; every term is an exact integer ratio, so Q is
    * reproducible to the last bit. Answers "is geography a real
    * community structure in my supply graph, or noise?".
    */
  val graph_modularity = OpQuery(
    "graph_modularity",
    """WITH edges AS (
      |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
      |m AS (SELECT COUNT(*) AS m FROM edges),
      |lab AS (
      |  SELECT e.u, e.v, su.s_nationkey AS cu, sv.s_nationkey AS cv
      |  FROM edges e
      |  JOIN supplier su ON su.s_suppkey = e.u
      |  JOIN supplier sv ON sv.s_suppkey = e.v),
      |intra AS (
      |  SELECT cu AS c, COUNT(*) AS ec FROM lab WHERE cu = cv GROUP BY cu),
      |degs AS (
      |  SELECT c, SUM(d) AS dc FROM (
      |    SELECT cu AS c, COUNT(*) AS d FROM lab GROUP BY cu
      |    UNION ALL
      |    SELECT cv AS c, COUNT(*) AS d FROM lab GROUP BY cv) t
      |  GROUP BY c),
      |terms AS (
      |  SELECT degs.c, COALESCE(intra.ec, 0) AS ec, degs.dc,
      |         CAST(COALESCE(intra.ec, 0) AS DOUBLE) / m.m
      |           - POW(CAST(degs.dc AS DOUBLE) / (2 * m.m), 2) AS q
      |  FROM degs LEFT JOIN intra ON intra.c = degs.c CROSS JOIN m)
      |SELECT CAST(c AS INT) AS nationkey,
      |       CAST(ec AS BIGINT) AS intra_edges,
      |       CAST(dc AS BIGINT) AS degree_mass,
      |       CAST(ROUND(q, 8) AS DOUBLE) AS contribution,
      |       CAST(ROUND(CAST(SUM(CAST(ROUND(q, 10) AS DECIMAL(28,10))) OVER ()
      |         AS DOUBLE), 8) AS DOUBLE) AS modularity
      |FROM terms
      |ORDER BY nationkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_mod_li")
    Tables.load(spark, dir, "supplier").createOrReplaceTempView("graft_mod_supp")
    // pre-distinct (partkey, suppkey) BEFORE the self-join: lineitem
    // repeats the same part-supplier pair across orders, and duplicate
    // join inputs multiply pair fanout QUADRATICALLY before the
    // edge-level DISTINCT can collapse it — deduping first feeds the
    // join ~4x fewer rows for identical edges (the same
    // push-the-distinct-down shape as graph_triangles)
    // edges is referenced by m AND (via lab) by intra + degs' two arms:
    // Spark inlines CTEs, so the self-join+distinct chain re-ran 4x in
    // the before-plan. Materialize edges once (lazy checkpoint — the
    // first job populates the cache) and lab once on top of it
    // (r13-opt §3.3). Counts are integers; results bit-identical.
    spark.sql(
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM graft_mod_li)
        |SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |FROM ps a JOIN ps b
        |  ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey""".stripMargin)
      .localCheckpoint(false)
      .createOrReplaceTempView("graft_mod_edges")
    spark.sql(
      """SELECT e.u, e.v, su.s_nationkey AS cu, sv.s_nationkey AS cv
        |FROM graft_mod_edges e
        |JOIN graft_mod_supp su ON su.s_suppkey = e.u
        |JOIN graft_mod_supp sv ON sv.s_suppkey = e.v""".stripMargin)
      .localCheckpoint(false)
      .createOrReplaceTempView("graft_mod_lab")
    spark.sql(
      """WITH m AS (SELECT COUNT(*) AS m FROM graft_mod_edges),
        |lab AS (SELECT * FROM graft_mod_lab),
        |intra AS (
        |  SELECT cu AS c, COUNT(*) AS ec FROM lab WHERE cu = cv GROUP BY cu),
        |degs AS (
        |  SELECT c, SUM(d) AS dc FROM (
        |    SELECT cu AS c, COUNT(*) AS d FROM lab GROUP BY cu
        |    UNION ALL
        |    SELECT cv AS c, COUNT(*) AS d FROM lab GROUP BY cv) t
        |  GROUP BY c),
        |terms AS (
        |  SELECT degs.c, COALESCE(intra.ec, 0) AS ec, degs.dc,
        |         CAST(COALESCE(intra.ec, 0) AS DOUBLE) / m.m
        |           - POW(CAST(degs.dc AS DOUBLE) / (2 * m.m), 2) AS q
        |  FROM degs LEFT JOIN intra ON intra.c = degs.c CROSS JOIN m)
        |SELECT CAST(c AS INT) AS nationkey,
        |       CAST(ec AS BIGINT) AS intra_edges,
        |       CAST(dc AS BIGINT) AS degree_mass,
        |       CAST(ROUND(q, 8) AS DOUBLE) AS contribution,
        |       CAST(ROUND(CAST(SUM(CAST(ROUND(q, 10) AS DECIMAL(28,10))) OVER ()
        |         AS DOUBLE), 8) AS DOUBLE) AS modularity
        |FROM terms
        |ORDER BY nationkey""".stripMargin)
  }

  /** Fleiss' kappa: orders with exactly four line items are subjects,
    * their line items are four "raters", and the return flag is the
    * rated category. Per-subject agreement P_i = (Σ n_ij² − n)/(n(n−1)),
    * chance agreement from the pooled category shares, κ from the two.
    * Every intermediate is an integer count, so the statistic needs no
    * quantization at all — pure exact arithmetic at any scale.
    */
  val stat_fleiss_kappa = OpQuery.sql("stat_fleiss_kappa", "lineitem")(
    """WITH sized AS (
      |  SELECT l_orderkey AS o FROM lineitem GROUP BY l_orderkey
      |  HAVING COUNT(*) = 4),
      |cells AS (
      |  SELECT l.l_orderkey AS o, l.l_returnflag AS j, COUNT(*) AS nij
      |  FROM lineitem l JOIN sized ON sized.o = l.l_orderkey
      |  GROUP BY l.l_orderkey, l.l_returnflag),
      |per_subj AS (
      |  SELECT o, SUM(nij * nij) AS ss FROM cells GROUP BY o),
      |pbar AS (
      |  SELECT COUNT(*) AS n_subj,
      |         CAST(SUM(ss - 4) AS DOUBLE) / (COUNT(*) * 12) AS pbar
      |  FROM per_subj),
      |cat AS (
      |  SELECT j, SUM(nij) AS cj FROM cells GROUP BY j),
      |pe AS (
      |  SELECT CAST(SUM(CAST(ROUND(POW(CAST(cj AS DOUBLE)
      |           / (SELECT n_subj * 4 FROM pbar), 2), 12) AS DECIMAL(28,12)))
      |         AS DOUBLE) AS pe
      |  FROM cat)
      |SELECT CAST(pbar.n_subj AS BIGINT) AS n_subjects,
      |       CAST(ROUND(pbar.pbar, 6) AS DOUBLE) AS p_observed,
      |       CAST(ROUND(pe.pe, 6) AS DOUBLE) AS p_expected,
      |       CAST(ROUND((pbar.pbar - pe.pe) / (1 - pe.pe), 6) AS DOUBLE) AS kappa
      |FROM pbar CROSS JOIN pe""".stripMargin)

  val all: Seq[OpQuery] = Seq(priv_t_closeness, graph_modularity, stat_fleiss_kappa)
}
