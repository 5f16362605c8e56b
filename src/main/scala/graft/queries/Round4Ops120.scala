package graft.queries

import graft.Tables

/** Round-4 batch 120: hash-randomization permutation testing, a bigram
  * language-model perplexity evaluation, and item-item cosine
  * recommendations.
  */
object Round4Ops120 {

  /** Approximate randomization test for the AUTOMOBILE-vs-FURNITURE
    * balance gap: 50 pseudo-permutations reassign group labels by a
    * deterministic md5 bit (hash randomization — reproducible on any
    * engine, no RNG), and the p-value is the share of permuted |Δmean|
    * at least as extreme as observed. One cross join with the 50-row
    * permutation dimension, one grouped aggregate — resampling without
    * resampling.
    */
  val a96_permutation_test = OpQuery.sql("a96_permutation_test", "customer")(
    """WITH base AS (
      |  SELECT c_custkey AS id, c_mktsegment AS seg,
      |         CAST(c_acctbal AS DECIMAL(15,2)) AS x
      |  FROM customer
      |  WHERE c_mktsegment IN ('AUTOMOBILE', 'FURNITURE')),
      |obs AS (
      |  SELECT CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN x END) AS DOUBLE)
      |           / SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)
      |         - CAST(SUM(CASE WHEN seg = 'FURNITURE' THEN x END) AS DOUBLE)
      |           / SUM(CASE WHEN seg = 'FURNITURE' THEN 1 ELSE 0 END) AS d
      |  FROM base),
      |perms AS (SELECT unnest(generate_series(1, 50)) AS p),
      |assigned AS (
      |  SELECT perms.p, base.x,
      |         CASE WHEN substr(md5(CAST(base.id AS VARCHAR) || '_'
      |                || CAST(perms.p AS VARCHAR)), 1, 1)
      |              IN ('0','1','2','3','4','5','6','7')
      |           THEN 1 ELSE 0 END AS grp
      |  FROM base CROSS JOIN perms),
      |pd AS (
      |  SELECT p,
      |         CAST(SUM(CASE WHEN grp = 1 THEN x END) AS DOUBLE)
      |           / SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
      |         - CAST(SUM(CASE WHEN grp = 0 THEN x END) AS DOUBLE)
      |           / SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS d
      |  FROM assigned GROUP BY p),
      |cmp AS (
      |  SELECT COUNT(*) AS n_perm,
      |         SUM(CASE WHEN ROUND(ABS(pd.d), 8) >= ROUND(ABS(obs.d), 8)
      |             THEN 1 ELSE 0 END) AS n_extreme
      |  FROM pd CROSS JOIN obs)
      |SELECT CAST(ROUND(obs.d, 4) AS DOUBLE) AS observed_diff,
      |       CAST(cmp.n_perm AS BIGINT) AS n_permutations,
      |       CAST(cmp.n_extreme AS BIGINT) AS n_extreme,
      |       CAST(ROUND(CAST(cmp.n_extreme + 1 AS DOUBLE) / (cmp.n_perm + 1), 6)
      |         AS DOUBLE) AS p_value
      |FROM obs CROSS JOIN cmp""".stripMargin,
    "unnest(generate_series(" -> "explode(sequence(",
    "VARCHAR" -> "STRING")

  /** Bigram language model trained and evaluated IN SQL: bigrams from
    * zipping each document's token array with its own tail (no
    * positional explode needed), add-one smoothing over the training
    * vocabulary, held-out (doc_id%5=4) negative log-likelihood and
    * perplexity. Per-bigram NLL terms are quantized before the DECIMAL
    * fold. The full n-gram LM evaluation loop as two joins.
    */
  val text_bigram_perplexity = OpQuery(
    "text_bigram_perplexity",
    """WITH docs AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a,
      |         doc_id % 5 = 4 AS is_test
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, is_test,
      |         unnest(list_transform(
      |           list_zip(a[1:len(a) - 1], a[2:len(a)]),
      |           p -> p[1] || ' ' || p[2])) AS b
      |  FROM docs WHERE len(a) >= 2),
      |uni AS (
      |  SELECT doc_id, is_test, unnest(a) AS w FROM docs),
      |vocab AS (
      |  SELECT COUNT(DISTINCT w) AS v FROM uni WHERE NOT is_test),
      |cw AS (
      |  SELECT w, COUNT(*) AS c FROM uni WHERE NOT is_test GROUP BY w),
      |cb AS (
      |  SELECT b, COUNT(*) AS c FROM bg WHERE NOT is_test GROUP BY b),
      |test AS (
      |  SELECT b, COUNT(*) AS c FROM bg WHERE is_test GROUP BY b),
      |nll AS (
      |  SELECT SUM(test.c) AS n,
      |         CAST(SUM(CAST(ROUND(test.c * -LN(
      |           (COALESCE(cb.c, 0) + 1.0)
      |           / (COALESCE(cw.c, 0) + vocab.v)), 8) AS DECIMAL(38,8)))
      |           AS DOUBLE) AS total_nll
      |  FROM test
      |  LEFT JOIN cb ON cb.b = test.b
      |  LEFT JOIN cw ON cw.w = split_part(test.b, ' ', 1)
      |  CROSS JOIN vocab)
      |SELECT CAST(vocab.v AS BIGINT) AS train_vocab,
      |       CAST(nll.n AS BIGINT) AS test_bigrams,
      |       CAST(ROUND(nll.total_nll / nll.n, 6) AS DOUBLE) AS avg_nll,
      |       CAST(ROUND(EXP(ROUND(nll.total_nll / nll.n, 6)), 4) AS DOUBLE)
      |         AS perplexity
      |FROM nll CROSS JOIN vocab""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_ppl_docs")
    spark.sql(
      """WITH docs AS (
        |  SELECT doc_id, split(lower(trim(text)), '\\s+') AS a,
        |         doc_id % 5 = 4 AS is_test
        |  FROM graft_ppl_docs),
        |bg AS (
        |  SELECT doc_id, is_test,
        |         explode(zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
        |           (x, y) -> concat(x, ' ', y))) AS b
        |  FROM docs WHERE size(a) >= 2),
        |uni AS (
        |  SELECT doc_id, is_test, explode(a) AS w FROM docs),
        |vocab AS (
        |  SELECT COUNT(DISTINCT w) AS v FROM uni WHERE NOT is_test),
        |cw AS (
        |  SELECT w, COUNT(*) AS c FROM uni WHERE NOT is_test GROUP BY w),
        |cb AS (
        |  SELECT b, COUNT(*) AS c FROM bg WHERE NOT is_test GROUP BY b),
        |test AS (
        |  SELECT b, COUNT(*) AS c FROM bg WHERE is_test GROUP BY b),
        |nll AS (
        |  SELECT SUM(test.c) AS n,
        |         CAST(SUM(CAST(ROUND(test.c * -LN(
        |           (COALESCE(cb.c, 0) + 1.0)
        |           / (COALESCE(cw.c, 0) + vocab.v)), 8) AS DECIMAL(38,8)))
        |           AS DOUBLE) AS total_nll
        |  FROM test
        |  LEFT JOIN cb ON cb.b = test.b
        |  LEFT JOIN cw ON cw.w = split_part(test.b, ' ', 1)
        |  CROSS JOIN vocab)
        |SELECT CAST(vocab.v AS BIGINT) AS train_vocab,
        |       CAST(nll.n AS BIGINT) AS test_bigrams,
        |       CAST(ROUND(nll.total_nll / nll.n, 6) AS DOUBLE) AS avg_nll,
        |       CAST(ROUND(EXP(ROUND(nll.total_nll / nll.n, 6)), 4) AS DOUBLE)
        |         AS perplexity
        |FROM nll CROSS JOIN vocab""".stripMargin)
  }

  /** Item-item cosine similarity from order co-occurrence: parts
    * appearing in the same order are a co-purchase signal; cosine =
    * co/√(n₁·n₂) over binary incidence. The self-join is keyed on
    * orderkey (bounded fan-out per order), never on part pairs — the
    * standard scalable shape for co-occurrence mining. Top 20 pairs
    * with support ≥ 3.
    */
  val rec_item_cosine = OpQuery.sql("rec_item_cosine", "lineitem")(
    """WITH inc AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |np AS (SELECT p, COUNT(*) AS n FROM inc GROUP BY p),
      |co AS (
      |  SELECT a.p AS p1, b.p AS p2, COUNT(*) AS c
      |  FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p
      |  GROUP BY a.p, b.p
      |  HAVING COUNT(*) >= 3),
      |sim AS (
      |  SELECT co.p1, co.p2, co.c,
      |         ROUND(co.c / SQRT(CAST(n1.n AS DOUBLE) * n2.n), 6) AS cosine
      |  FROM co JOIN np n1 ON n1.p = co.p1 JOIN np n2 ON n2.p = co.p2)
      |SELECT CAST(p1 AS BIGINT) AS part1, CAST(p2 AS BIGINT) AS part2,
      |       CAST(c AS BIGINT) AS co_orders,
      |       CAST(cosine AS DOUBLE) AS cosine
      |FROM sim
      |ORDER BY cosine DESC, part1, part2
      |LIMIT 20""".stripMargin)

  val all: Seq[OpQuery] = Seq(a96_permutation_test, text_bigram_perplexity,
    rec_item_cosine)
}
