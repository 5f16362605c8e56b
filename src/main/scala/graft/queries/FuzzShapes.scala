package graft.queries

import graft.Tables

/** Shape generator of the randomized cross-engine fuzz gate
  * [[RelationalGates.fuzz_relational]] (VERDICT r11 item 6): the
  * registry's 619 gates are FIXED shapes, so a semantics drift in a
  * corner none of them exercises (an OR-of-moduli filter over a join, a
  * HAVING over a string group key, MIN of a negative CASE arm) would
  * ship silently. This gate generates `NShapes` random relational
  * queries — projection / filter / equi-join / group-agg / HAVING over
  * the sf tables — from ONE seeded AST, renders each to BOTH dialects,
  * and hash-compares an order-independent per-shape digest (row-count +
  * md5-derived checksum) between Spark and DuckDB in the ordinary
  * oracle machinery.
  *
  * Determinism: a fixed splitmix64 walk from [[Seed]] (surfaced in the
  * output as shape_id = -1, so a mismatch report names the generation
  * recipe); generation is pure string-building, identical every
  * compile. The grammar deliberately stays inside the engines' COMMON
  * semantics surface: integer and string columns only (doubles sum
  * order-dependently; timestamps render differently), arithmetic on
  * BIGINT-cast operands (Spark runs ANSI-on here, so an INT overflow
  * would throw rather than wrap), and digests through
  * `md5 → first-8-hex → BIGINT`, which both engines compute exactly
  * (`conv(...,16,10)` / `('0x' || ...)::BIGINT` — the a69_hll_md5
  * recipe).
  */
object FuzzShapes {

  val Seed = 0x12fe5eedL

  /** 200 = the 120 round-12 shapes (walk-stable: they draw from the
    * same 6-family grammar in the same Rng sequence, so their SQL is
    * byte-identical to r12) + 80 round-13 shapes over the four new
    * families (VERDICT r12 item 2): LEFT/FULL outer joins with
    * null-bearing keys, IN/NOT IN subqueries (three-valued logic), and
    * exact DECIMAL arithmetic with explicit result casts.
    */
  val NShapes = 300
  val LegacyShapes = 120
  /** End of the round-13 batch-1 families (walk-stable boundary). */
  val R13Shapes = 200
  /** End of the round-13 batch-2 families (walk-stable boundary). */
  val R13bShapes = 260

  /** splitmix64 — fixed, engine-independent walk. */
  private final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = (((nextLong() % n) + n) % n).toInt
    def pick[A](xs: Seq[A]): A = xs(nextInt(xs.size))
    def chance(pct: Int): Boolean = nextInt(100) < pct
  }

  private[queries] final case class Tbl(name: String, ints: Seq[String], strs: Seq[String])
  private val tbls = Seq(
    Tbl("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      Seq("l_returnflag", "l_linestatus")),
    Tbl("orders", Seq("o_orderkey", "o_custkey"),
      Seq("o_orderstatus", "o_orderpriority")),
    Tbl("customer", Seq("c_custkey", "c_nationkey"), Seq("c_mktsegment", "c_name")),
    Tbl("supplier", Seq("s_suppkey", "s_nationkey"), Seq("s_name")),
    Tbl("part", Seq("p_partkey", "p_size"), Seq("p_brand", "p_type")),
    Tbl("nation", Seq("n_nationkey", "n_regionkey"), Seq("n_name")),
    Tbl("region", Seq("r_regionkey"), Seq("r_name")),
    Tbl("events", Seq("event_id", "user_id"), Seq("event_type")),
    Tbl("documents", Seq("doc_id", "n_chars"), Seq("lang", "source")))
  private[queries] def tbl(n: String): Tbl = tbls.find(_.name == n).get
  // real FK edges only — a random equi-join would mostly produce empty
  // (trivially matching) digests
  private val fks: Map[String, Seq[(String, String, String)]] = Map(
    "lineitem" -> Seq(("l_orderkey", "orders", "o_orderkey"),
      ("l_partkey", "part", "p_partkey"), ("l_suppkey", "supplier", "s_suppkey")),
    "orders" -> Seq(("o_custkey", "customer", "c_custkey")),
    "customer" -> Seq(("c_nationkey", "nation", "n_nationkey")),
    "supplier" -> Seq(("s_nationkey", "nation", "n_nationkey")),
    "nation" -> Seq(("n_regionkey", "region", "r_regionkey")))

  /** One generated shape: the table names left abstract so the same AST
    * renders against DuckDB's bare parquet views and the gate's
    * collision-safe `fz_`-prefixed Spark temp views. `aliases` is the
    * shape's OWN record of its output columns (ADVICE r12: the old
    * regex re-extraction scanned the inner SQL up to the first literal
    * 'F' as a FROM proxy — any future token containing an F would have
    * silently truncated the digest's column coverage).
    */
  private[queries] final case class Shape(table: String, joined: Option[String],
      inner: String, aliases: Seq[String])

  private def genShape(r: Rng): Shape = {
    val t = r.pick(tbls)
    val fk = if (fks.contains(t.name) && r.chance(45)) Some(r.pick(fks(t.name))) else None
    val intCols = t.ints.map("a." + _) ++
      fk.toSeq.flatMap { case (_, jt, _) => tbl(jt).ints.map("b." + _) }
    val strCols = t.strs.map("a." + _) ++
      fk.toSeq.flatMap { case (_, jt, _) => tbl(jt).strs.map("b." + _) }
    def big(c: String) = s"CAST($c AS BIGINT)"
    def intExpr(): String = r.nextInt(5) match {
      case 0 => r.pick(intCols)
      case 1 => s"(${big(r.pick(intCols))} % ${2 + r.nextInt(97)})"
      case 2 => s"(${big(r.pick(intCols))} + ${big(r.pick(intCols))})"
      case 3 =>
        s"(CASE WHEN ${big(r.pick(intCols))} % ${2 + r.nextInt(7)} = ${r.nextInt(2)} " +
          s"THEN ${big(r.pick(intCols))} ELSE ${big(r.pick(intCols))} END)"
      case 4 => s"LENGTH(${r.pick(strCols)})"
    }
    def atomicPred(): String = r.nextInt(5) match {
      case 0 =>
        s"${r.pick(intCols)} ${r.pick(Seq("<", "<=", ">", ">=", "=", "<>"))} ${r.nextInt(5000)}"
      case 1 => s"${big(r.pick(intCols))} % ${2 + r.nextInt(13)} = ${r.nextInt(5)}"
      case 2 =>
        s"${r.pick(intCols)} IN (${Seq.fill(3)(r.nextInt(3000)).mkString(", ")})"
      case 3 => s"${r.pick(strCols)} LIKE '${('A' + r.nextInt(26)).toChar}%'"
      case 4 =>
        s"${r.pick(strCols)} ${if (r.chance(50)) ">=" else "<"} '${('A' + r.nextInt(26)).toChar}'"
    }
    val where = (1 to 1 + r.nextInt(3)).map(_ => atomicPred())
      .mkString(if (r.chance(60)) " AND " else " OR ")
    val from = "FROM {" + t.name + "} a" + fk.fold("") { case (l, jt, rk) =>
      s" JOIN {$jt} b ON a.$l = b.$rk"
    }
    def aggList(): Seq[String] = {
      val pool = Seq(
        () => "COUNT(*)",
        () => s"SUM(${big(intExpr())})",
        () => s"MIN(${r.pick(intCols)})",
        () => s"MAX(${r.pick(intCols)})",
        () => s"MIN(${r.pick(strCols)})",
        () => s"COUNT(DISTINCT ${r.pick(intCols ++ strCols)})")
      (1 to 1 + r.nextInt(3)).map(k => s"${pool(r.nextInt(pool.size))()} AS v$k")
    }
    def vAliases(n: Int): Seq[String] = (1 to n).map(k => s"v$k")
    val (inner, aliases) = r.nextInt(6) match {
      case 0 => // plain projection digest
        val cols = (1 to 1 + r.nextInt(3)).map(k => s"${intExpr()} AS v$k")
        (s"SELECT ${cols.mkString(", ")} $from WHERE $where",
          vAliases(cols.size))
      case 1 => // grouped aggregate (positional GROUP BY — both dialects)
        val gkey =
          if (r.chance(50)) r.pick(strCols)
          else s"(${big(r.pick(intCols))} % ${2 + r.nextInt(23)})"
        val having = if (r.chance(30)) s" HAVING COUNT(*) > ${r.nextInt(5)}" else ""
        val aggs = aggList()
        (s"SELECT $gkey AS g, ${aggs.mkString(", ")} $from WHERE $where GROUP BY 1$having",
          "g" +: vAliases(aggs.size))
      case 2 => // global aggregate
        val aggs = aggList()
        (s"SELECT ${aggs.mkString(", ")} $from WHERE $where", vAliases(aggs.size))
      case 3 =>
        // window family (§2.5 surface): ROW_NUMBER / running SUM / LAG
        // over ONE window spec whose ORDER BY is made TOTAL by
        // appending the base table's full int-column list (every table
        // carries a unique key inside it, and FK joins are N:1 so the
        // left key stays unique through the join) — with a total
        // order, the default RANGE frame equals ROWS and every
        // engine's tie-break question vanishes
        val pexpr =
          if (r.chance(50)) r.pick(strCols)
          else s"(${big(r.pick(intCols))} % ${2 + r.nextInt(11)})"
        val total = (Seq(r.pick(intCols)) ++ t.ints.map("a." + _))
          .distinct.mkString(", ")
        val x = big(r.pick(intCols))
        val w = s"(PARTITION BY $pexpr ORDER BY $total)"
        (s"SELECT ROW_NUMBER() OVER $w AS v1, SUM($x) OVER $w AS v2, " +
          s"LAG($x, 1) OVER $w AS v3 $from WHERE $where", vAliases(3))
      case 4 =>
        // set operations between two filtered projections of the same
        // relation — UNION/INTERSECT/EXCEPT are the DISTINCT variants
        // in both engines, so the result SET is well-defined; single
        // line, so the wrapper's \n-delimited UNION ALL stays unique
        val op = r.pick(Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT"))
        val c = intExpr()
        val where2 = (1 to 1 + r.nextInt(2)).map(_ => atomicPred())
          .mkString(if (r.chance(60)) " AND " else " OR ")
        (s"SELECT $c AS v1 $from WHERE $where $op SELECT $c AS v1 $from WHERE $where2",
          vAliases(1))
      case 5 =>
        // top-k: ORDER BY made total (unique key in the int-column
        // suffix) so LIMIT keeps a well-defined row set in both engines
        val k = 5 + r.nextInt(95)
        val dir = if (r.chance(50)) "ASC" else "DESC"
        val total = (Seq(s"${r.pick(intCols)} $dir") ++
          t.ints.map(c => s"a.$c $dir")).distinct.mkString(", ")
        (s"SELECT ${intExpr()} AS v1, ${intExpr()} AS v2 $from WHERE $where " +
          s"ORDER BY $total LIMIT $k", vAliases(2))
    }
    Shape(t.name, fk.map(_._2), inner, aliases)
  }

  /** Round-13 families (shapes 121..200). Kept in a separate generator
    * so the legacy shapes' Rng walk — and therefore their SQL — stays
    * byte-identical to round 12.
    */
  private def genShape13(r: Rng): Shape = {
    def big(c: String) = s"CAST($c AS BIGINT)"
    def intExprOf(ints: Seq[String], strs: Seq[String]): String = r.nextInt(5) match {
      case 0 => r.pick(ints)
      case 1 => s"(${big(r.pick(ints))} % ${2 + r.nextInt(97)})"
      case 2 => s"(${big(r.pick(ints))} + ${big(r.pick(ints))})"
      case 3 =>
        s"(CASE WHEN ${big(r.pick(ints))} % ${2 + r.nextInt(7)} = ${r.nextInt(2)} " +
          s"THEN ${big(r.pick(ints))} ELSE ${big(r.pick(ints))} END)"
      case 4 => s"LENGTH(${r.pick(strs)})"
    }
    def predOf(ints: Seq[String], strs: Seq[String]): String = r.nextInt(5) match {
      case 0 =>
        s"${r.pick(ints)} ${r.pick(Seq("<", "<=", ">", ">=", "=", "<>"))} ${r.nextInt(5000)}"
      case 1 => s"${big(r.pick(ints))} % ${2 + r.nextInt(13)} = ${r.nextInt(5)}"
      case 2 =>
        s"${r.pick(ints)} IN (${Seq.fill(3)(r.nextInt(3000)).mkString(", ")})"
      case 3 => s"${r.pick(strs)} LIKE '${('A' + r.nextInt(26)).toChar}%'"
      case 4 =>
        s"${r.pick(strs)} ${if (r.chance(50)) ">=" else "<"} '${('A' + r.nextInt(26)).toChar}'"
    }
    def whereOf(ints: Seq[String], strs: Seq[String], maxPreds: Int): String =
      (1 to 1 + r.nextInt(maxPreds)).map(_ => predOf(ints, strs))
        .mkString(if (r.chance(60)) " AND " else " OR ")
    val fkTbls = tbls.filter(t => fks.contains(t.name))
    def vAliases(n: Int): Seq[String] = (1 to n).map(k => s"v$k")
    r.nextInt(4) match {
      case 0 =>
        // LEFT OUTER join against a FILTERED right side: the filter
        // breaks the FK's totality, so unmatched left rows carry NULL
        // b-columns through expressions, aggregates, and (half the
        // time) a null-bearing GROUP BY key — the three-valued corners
        // the fixed gates pin only once each
        val t = r.pick(fkTbls)
        val (l, jtn, rk) = r.pick(fks(t.name))
        val jt = tbl(jtn)
        val aI = t.ints.map("a." + _); val aS = t.strs.map("a." + _)
        val bI = jt.ints.map("b." + _); val bS = jt.strs.map("b." + _)
        val bPred = predOf(bI, bS)
        val from = s"FROM {${t.name}} a LEFT JOIN " +
          s"(SELECT * FROM {$jtn} b WHERE $bPred) b ON a.$l = b.$rk"
        val where = whereOf(aI, aS, 2) // a-side only: keep the NULLs alive
        if (r.chance(50)) {
          val cols = (1 to 1 + r.nextInt(3))
            .map(k => s"${intExprOf(aI ++ bI, aS ++ bS)} AS v$k")
          Shape(t.name, Some(jtn),
            s"SELECT ${cols.mkString(", ")} $from WHERE $where",
            vAliases(cols.size))
        } else {
          // group by the RIGHT side's string column: the unmatched rows
          // form a NULL group both engines must agree on
          val gkey = r.pick(bS)
          Shape(t.name, Some(jtn),
            s"SELECT $gkey AS g, COUNT(*) AS v1, " +
              s"COUNT(${r.pick(bI)}) AS v2, " +
              s"SUM(${big(intExprOf(aI, aS))}) AS v3 " +
              s"$from WHERE $where GROUP BY 1",
            Seq("g", "v1", "v2", "v3"))
        }
      case 1 =>
        // FULL OUTER join of two filtered slices: nulls on BOTH sides
        val t = r.pick(fkTbls)
        val (l, jtn, rk) = r.pick(fks(t.name))
        val jt = tbl(jtn)
        val aI = t.ints.map("a." + _); val aS = t.strs.map("a." + _)
        val bI = jt.ints.map("b." + _); val bS = jt.strs.map("b." + _)
        val aPred = whereOf(aI, aS, 2)
        val bPred = predOf(bI, bS)
        val from = s"FROM (SELECT * FROM {${t.name}} a WHERE $aPred) a " +
          s"FULL JOIN (SELECT * FROM {$jtn} b WHERE $bPred) b ON a.$l = b.$rk"
        val cols = (1 to 1 + r.nextInt(3))
          .map(k => s"${intExprOf(aI ++ bI, aS ++ bS)} AS v$k")
        Shape(t.name, Some(jtn), s"SELECT ${cols.mkString(", ")} $from",
          vAliases(cols.size))
      case 2 =>
        // IN / NOT IN subquery; half the subqueries project a NULLable
        // CASE so NOT IN exercises the any-NULL → empty-result trap
        val t = r.pick(fkTbls)
        val (l, jtn, rk) = r.pick(fks(t.name))
        val jt = tbl(jtn)
        val aI = t.ints.map("a." + _); val aS = t.strs.map("a." + _)
        val bI = jt.ints.map("b." + _); val bS = jt.strs.map("b." + _)
        val bPred = predOf(bI, bS)
        val sub =
          if (r.chance(50))
            s"SELECT CASE WHEN $bPred THEN b.$rk END FROM {$jtn} b"
          else s"SELECT b.$rk FROM {$jtn} b WHERE $bPred"
        val op = if (r.chance(50)) "NOT IN" else "IN"
        val where = whereOf(aI, aS, 2)
        // fixed selectivity guard on the outer side: a NULL-bearing
        // NOT IN compiles to a null-aware anti join, which degrades to
        // O(outer x subquery) in the worst engine plan — 20 unguarded
        // shapes cost as much as the 120 legacy ones (measured 14.8 s
        // vs 15.4 s cold at sf0.1). The 3VL semantics under test are
        // row-count-independent, so 1/7th of the fact side buys the
        // same oracle surface at testbed cost.
        val guard = s"${big(s"a.$l")} % 7 = 0"
        val cols = (1 to 1 + r.nextInt(2)).map(k => s"${intExprOf(aI, aS)} AS v$k")
        Shape(t.name, Some(jtn),
          s"SELECT ${cols.mkString(", ")} FROM {${t.name}} a " +
            s"WHERE ($where) AND $guard AND a.$l $op ($sub)",
          vAliases(cols.size))
      case 3 =>
        // DECIMAL arithmetic, exact by construction: narrow operand
        // casts (so neither engine's implicit result type can overflow
        // 38 digits), multiply/add/subtract only (division's result
        // scale rules differ between engines), and an explicit final
        // CAST to DECIMAL(38,6) that renders identically ("1.000000")
        // in both dialects. Large literal multipliers push values to
        // the 1e13 range so the final cast's precision headroom — not
        // the operands' — is what keeps the math exact.
        val t = r.pick(tbls)
        val ints = t.ints.map("a." + _); val strs = t.strs.map("a." + _)
        def dec(): String = {
          val d1 = s"CAST(${r.pick(ints)} AS DECIMAL(12,2))"
          val arith = r.nextInt(3) match {
            case 0 => s"$d1 * CAST(${1 + r.nextInt(9999999)} AS DECIMAL(8,0))"
            case 1 => s"$d1 + CAST(${r.pick(ints)} AS DECIMAL(12,2)) " +
              s"* CAST(${1 + r.nextInt(999)} AS DECIMAL(4,0))"
            case 2 => s"$d1 - CAST(${r.pick(ints)} AS DECIMAL(12,2))"
          }
          s"CAST($arith AS DECIMAL(38,6))"
        }
        val where = whereOf(ints, strs, 3)
        if (r.chance(50)) {
          val cols = (1 to 1 + r.nextInt(2)).map(k => s"${dec()} AS v$k")
          Shape(t.name, None,
            s"SELECT ${cols.mkString(", ")} FROM {${t.name}} a WHERE $where",
            vAliases(cols.size))
        } else {
          val gkey =
            if (r.chance(50)) r.pick(strs)
            else s"(${big(r.pick(ints))} % ${2 + r.nextInt(23)})"
          Shape(t.name, None,
            s"SELECT $gkey AS g, CAST(SUM(${dec()}) AS DECIMAL(38,6)) AS v1, " +
              s"CAST(MIN(${dec()}) AS DECIMAL(38,6)) AS v2 " +
              s"FROM {${t.name}} a WHERE $where GROUP BY 1",
            Seq("g", "v1", "v2"))
        }
    }
  }

  /** Round-13 batch-2 families (shapes 201..260): correlated
    * EXISTS / NOT EXISTS (the semi/anti-join surface the IN-subquery
    * family doesn't reach — correlation is resolved per-row, and a
    * NULL correlation key makes EXISTS false where `= ANY` would make
    * it UNKNOWN), and GROUPING SETS / ROLLUP / CUBE (multi-grouping
    * expansion: subtotal rows carry NULL group keys both engines must
    * emit identically, including the empty grouping set's one global
    * row over EMPTY filtered input). Separate generator so the earlier
    * walks stay byte-stable.
    */
  private def genShape13b(r: Rng): Shape = {
    def big(c: String) = s"CAST($c AS BIGINT)"
    def intExprOf(ints: Seq[String], strs: Seq[String]): String = r.nextInt(5) match {
      case 0 => r.pick(ints)
      case 1 => s"(${big(r.pick(ints))} % ${2 + r.nextInt(97)})"
      case 2 => s"(${big(r.pick(ints))} + ${big(r.pick(ints))})"
      case 3 =>
        s"(CASE WHEN ${big(r.pick(ints))} % ${2 + r.nextInt(7)} = ${r.nextInt(2)} " +
          s"THEN ${big(r.pick(ints))} ELSE ${big(r.pick(ints))} END)"
      case 4 => s"LENGTH(${r.pick(strs)})"
    }
    def predOf(ints: Seq[String], strs: Seq[String]): String = r.nextInt(5) match {
      case 0 =>
        s"${r.pick(ints)} ${r.pick(Seq("<", "<=", ">", ">=", "=", "<>"))} ${r.nextInt(5000)}"
      case 1 => s"${big(r.pick(ints))} % ${2 + r.nextInt(13)} = ${r.nextInt(5)}"
      case 2 =>
        s"${r.pick(ints)} IN (${Seq.fill(3)(r.nextInt(3000)).mkString(", ")})"
      case 3 => s"${r.pick(strs)} LIKE '${('A' + r.nextInt(26)).toChar}%'"
      case 4 =>
        s"${r.pick(strs)} ${if (r.chance(50)) ">=" else "<"} '${('A' + r.nextInt(26)).toChar}'"
    }
    def whereOf(ints: Seq[String], strs: Seq[String], maxPreds: Int): String =
      (1 to 1 + r.nextInt(maxPreds)).map(_ => predOf(ints, strs))
        .mkString(if (r.chance(60)) " AND " else " OR ")
    val fkTbls = tbls.filter(t => fks.contains(t.name))
    def vAliases(n: Int): Seq[String] = (1 to n).map(k => s"v$k")
    r.nextInt(2) match {
      case 0 =>
        // correlated EXISTS / NOT EXISTS — plans as a hash semi/anti
        // join on the correlation key, so no selectivity guard needed
        val t = r.pick(fkTbls)
        val (l, jtn, rk) = r.pick(fks(t.name))
        val jt = tbl(jtn)
        val aI = t.ints.map("a." + _); val aS = t.strs.map("a." + _)
        val bI = jt.ints.map("b." + _); val bS = jt.strs.map("b." + _)
        val op = if (r.chance(50)) "EXISTS" else "NOT EXISTS"
        val where = whereOf(aI, aS, 2)
        val bPred = predOf(bI, bS)
        val cols = (1 to 1 + r.nextInt(2)).map(k => s"${intExprOf(aI, aS)} AS v$k")
        Shape(t.name, Some(jtn),
          s"SELECT ${cols.mkString(", ")} FROM {${t.name}} a " +
            s"WHERE ($where) AND $op " +
            s"(SELECT 1 FROM {$jtn} b WHERE b.$rk = a.$l AND $bPred)",
          vAliases(cols.size))
      case 1 =>
        // GROUPING SETS / ROLLUP / CUBE over (string key, modulo key):
        // the grouping expressions repeat VERBATIM in the select list —
        // both engines match them syntactically
        val t = r.pick(tbls)
        val ints = t.ints.map("a." + _); val strs = t.strs.map("a." + _)
        val g1 = r.pick(strs)
        val g2 = s"(${big(r.pick(ints))} % ${2 + r.nextInt(11)})"
        // the EMPTY grouping set stays OUT of the random grammar: over
        // empty filtered input DuckDB (standard, like Postgres) emits
        // its one global row while Spark's Expand-based rewrite emits
        // zero rows — a documented engine divergence this generator's
        // random predicates would trip on ~half the shapes. Every
        // non-empty grouping set agrees on empty input, and the ()
        // subtotal itself is pinned by the fixed a12_rollup gate on
        // guaranteed non-empty input.
        val grouping = r.nextInt(3) match {
          case 0 => s"GROUPING SETS (($g1, $g2), ($g1))"        // partial rollup
          case 1 => s"GROUPING SETS (($g1, $g2), ($g1), ($g2))" // partial cube
          case 2 => s"GROUPING SETS (($g1), ($g2))"
        }
        val where = whereOf(ints, strs, 2)
        Shape(t.name, None,
          s"SELECT $g1 AS g1, $g2 AS g2, COUNT(*) AS v1, " +
            s"SUM(${big(intExprOf(ints, strs))}) AS v2 " +
            s"FROM {${t.name}} a WHERE $where GROUP BY $grouping",
          Seq("g1", "g2", "v1", "v2"))
    }
  }

  /** Round-13 batch-3 family (shapes 261..300): STRING-function
    * compositions over the surface where the two dialects' semantics
    * are character-identical on ASCII input — UPPER/LOWER, TRIM,
    * SUBSTR (1-based, non-negative length), REPLACE, LPAD/RPAD,
    * REVERSE, LEFT/RIGHT, LENGTH. Functions whose NAMES or NULL/edge
    * semantics differ (INSTR vs STRPOS, SPLIT_PART's out-of-range,
    * CONCAT's NULL handling) stay off the grammar — the shape text is
    * rendered ONCE for both engines. Inputs are the tables' non-null
    * string columns, so NULL-propagation differences cannot trigger.
    */
  private def genShape13c(r: Rng): Shape = {
    def big(c: String) = s"CAST($c AS BIGINT)"
    val t = r.pick(tbls)
    val ints = t.ints.map("a." + _); val strs = t.strs.map("a." + _)
    def strExpr(depth: Int): String = {
      val base = r.pick(strs)
      if (depth <= 0) base
      else r.nextInt(8) match {
        case 0 => s"UPPER(${strExpr(depth - 1)})"
        case 1 => s"LOWER(${strExpr(depth - 1)})"
        case 2 => s"TRIM(${strExpr(depth - 1)})"
        case 3 => s"SUBSTR(${strExpr(depth - 1)}, ${1 + r.nextInt(4)}, ${r.nextInt(9)})"
        case 4 =>
          val ch = ('A' + r.nextInt(26)).toChar
          s"REPLACE(${strExpr(depth - 1)}, '$ch', '${ch.toLower}${ch.toLower}')"
        case 5 =>
          val pad = if (r.chance(50)) "LPAD" else "RPAD"
          s"$pad(${strExpr(depth - 1)}, ${1 + r.nextInt(19)}, '${('a' + r.nextInt(26)).toChar}')"
        case 6 => s"REVERSE(${strExpr(depth - 1)})"
        case 7 =>
          val side = if (r.chance(50)) "LEFT" else "RIGHT"
          s"$side(${strExpr(depth - 1)}, ${r.nextInt(7)})"
      }
    }
    def pred(): String = r.nextInt(3) match {
      case 0 => s"${big(r.pick(ints))} % ${2 + r.nextInt(13)} = ${r.nextInt(5)}"
      case 1 => s"${r.pick(strs)} LIKE '${('A' + r.nextInt(26)).toChar}%'"
      case 2 => s"LENGTH(${strExpr(1)}) ${r.pick(Seq("<", ">=", "="))} ${2 + r.nextInt(18)}"
    }
    val where = (1 to 1 + r.nextInt(2)).map(_ => pred())
      .mkString(if (r.chance(60)) " AND " else " OR ")
    if (r.chance(50)) {
      val cols = (1 to 1 + r.nextInt(3)).map(k => s"${strExpr(1 + r.nextInt(2))} AS v$k")
      Shape(t.name, None,
        s"SELECT ${cols.mkString(", ")} FROM {${t.name}} a WHERE $where",
        (1 to cols.size).map(k => s"v$k"))
    } else {
      // group by a string-function key: the function runs on BOTH the
      // projection and the grouping side in each engine
      val gkey = strExpr(1)
      Shape(t.name, None,
        s"SELECT $gkey AS g, COUNT(*) AS v1, " +
          s"MIN(${strExpr(1 + r.nextInt(2))}) AS v2, " +
          s"SUM(LENGTH(${strExpr(1)})) AS v3 " +
          s"FROM {${t.name}} a WHERE $where GROUP BY 1",
        Seq("g", "v1", "v2", "v3"))
    }
  }

  private[queries] val shapes: Seq[Shape] = {
    val r = new Rng(Seed)
    val legacy = (1 to LegacyShapes).map(_ => genShape(r))
    val extra = ((LegacyShapes + 1) to R13Shapes).map(_ => genShape13(r))
    val extra13b = ((R13Shapes + 1) to R13bShapes).map(_ => genShape13b(r))
    val extra13c = ((R13bShapes + 1) to NShapes).map(_ => genShape13c(r))
    legacy ++ extra ++ extra13b ++ extra13c
  }

  /** Test hook: the abstract (pre-dialect) SQL of every shape, in shape
    * order — FuzzSpec checksums the legacy prefix to pin walk
    * stability and counts the new families.
    */
  private[queries] def innerShapes: Seq[String] = shapes.map(_.inner)

  /** Digest wrapper around one shape, dialect-parameterized: `hex8` maps
    * "first 8 md5 hex chars of <expr>" to a BIGINT in each engine. The
    * per-row string canonicalizes every output column through
    * `COALESCE(CAST(... AS VARCHAR(64)), '~')` — integers and ASCII
    * strings render identically in both engines, NULL gets a sentinel,
    * and SUM of the per-row hashes is order-independent.
    */
  private def wrap(i: Int, s: Shape, hex8: String => String,
      name: String => String, strType: String): String = {
    // column aliases the inner SELECT exposes, recorded at generation
    // time (never re-parsed from SQL); the sanity check below keeps a
    // future grammar case honest about declaring its full arity
    val aliases = s.aliases
    require(aliases.nonEmpty &&
      aliases.forall(a => s.inner.contains(s"AS $a")),
      s"shape $i declares aliases ${aliases.mkString(",")} the SQL doesn't bind")
    val rowStr = s"concat_ws('|', ${aliases.map(a =>
      s"COALESCE(CAST($a AS $strType), '~')").mkString(", ")})"
    val inner = s.inner.replace("{" + s.table + "}", name(s.table))
    val inner2 = s.joined.fold(inner)(j => inner.replace("{" + j + "}", name(j)))
    // outer CAST: DuckDB's SUM(BIGINT) widens to HUGEINT (float64 via
    // pandas); both engines land on BIGINT explicitly
    s"""SELECT $i AS shape_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(COALESCE(SUM(${hex8(rowStr)}), 0) AS BIGINT) AS digest
       |FROM ($inner2) q$i""".stripMargin
  }

  private def render(hex8: String => String, name: String => String,
      strType: String): String = {
    val seedRow =
      s"SELECT -1 AS shape_id, CAST($NShapes AS BIGINT) AS n_rows, CAST($Seed AS BIGINT) AS digest"
    (seedRow +: shapes.zipWithIndex.map { case (s, i) =>
      wrap(i, s, hex8, name, strType) })
      .mkString("", "\nUNION ALL\n", "\nORDER BY shape_id")
  }

  // STRING vs VARCHAR: Spark's ANSI session logs a char/varchar WARN
  // per VARCHAR cast (and treats it as string anyway); DuckDB has no
  // STRING type — so the canonicalizing cast is dialect-split too
  private[queries] val duckSql = render(
    e => s"(('0x' || substr(md5($e), 1, 8))::BIGINT)", identity, "VARCHAR")
  private[queries] val sparkSql = render(
    e => s"CAST(conv(substr(md5($e), 1, 8), 16, 10) AS BIGINT)", "fz_" + _,
    "STRING")
}
