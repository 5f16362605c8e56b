package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Pins the fuzz generator's determinism and dialect hygiene — the gate
  * itself is hash-compared by the driver; these are the properties a
  * fixture-free unit test can hold.
  */
class FuzzSpec extends SparkSpec {

  private val oracle = RelationalGates.fuzz_relational.oracle.get

  test("generation is deterministic: the oracle embeds the seed row and N shapes") {
    assert(oracle.contains(s"CAST(${FuzzShapes.Seed} AS BIGINT) AS digest"))
    // one newline-delimited UNION ALL separator per shape (the seed row
    // + NShapes branches); set-op SHAPES carry their own inline
    // "UNION ALL" on a single line, so only the \n-framed form counts
    assert("\nUNION ALL\n".r.findAllIn(oracle).size === FuzzShapes.NShapes)
  }

  test("every shape digests at least one aliased column") {
    // a wrap() whose alias extraction came up empty would render
    // concat_ws('|', ) — a syntax error caught only at gate runtime
    assert(!oracle.contains("concat_ws('|', )"))
  }

  test("the common-dialect grammar stays off the engines' divergent surface") {
    // doubles sum order-dependently; timestamps render differently —
    // no generated shape may touch those columns
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "o_totalprice", "c_acctbal", "s_acctbal", "p_retailprice",
        "l_shipdate", "o_orderdate", "\"value\"", " ts ", "props"))
      assert(!oracle.contains(c), s"divergent-type column $c leaked into a shape")
  }

  test("building the gate leaves no fz_ view in the catalog") {
    // one-row tables carrying the columns the grammar reads
    val dir = Files.createTempDirectory("fuzz-views").toString
    FuzzShapes.shapes.flatMap(s => s.table +: s.joined.toSeq).distinct.foreach { t =>
      val spec = FuzzShapes.tbl(t)
      val cols = spec.ints.map(col("id").as(_)) ++
        spec.strs.map(col("id").cast("string").as(_)) ++
        (if (t == "events") Seq(col("id").as("ts")) else Nil)
      spark.range(1).select(cols: _*).write.parquet(s"$dir/$t.parquet")
    }
    RelationalGates.fuzz_relational.build(spark, dir)
    val left = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("fz_")).map(_.name)
    assert(left.isEmpty, left.mkString(", "))
  }

  test("the oracle rendering carries no spark-side view prefix") {
    // the gate reads fz_-prefixed temp views; DuckDB reads the bare
    // parquet tables — a prefix leaking into the oracle would 404
    assert(!oracle.contains("fz_"))
  }

  test("the legacy 120-shape prefix is walk-stable (round-12 SQL, byte for byte)") {
    // the r13 families were appended AFTER the legacy walk — if a
    // generator edit ever perturbs the shared Rng sequence, the first
    // 120 shapes' SQL changes and this checksum names the break
    val legacy = FuzzShapes.innerShapes
      .take(FuzzShapes.LegacyShapes).mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(legacy.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md5 === "5703bacea9e1e25d738bd0a263f21ed2")
  }

  test("the round-13 families are all present at their generated counts") {
    val extra = FuzzShapes.innerShapes
      .slice(FuzzShapes.LegacyShapes, FuzzShapes.R13Shapes)
    assert(extra.size === 80)
    assert(extra.count(_.contains("LEFT JOIN")) === 23)
    assert(extra.count(_.contains("FULL JOIN")) === 19)
    // IN/NOT IN subqueries (12 of the 20 negated — the 3VL trap)
    assert(extra.count(s =>
      s.contains(" IN (SELECT") || s.contains("NOT IN (SELECT")) === 20)
    assert(extra.count(_.contains("NOT IN (")) === 12)
    assert(extra.count(_.contains("DECIMAL(38,6)")) === 18)
    // division is OFF the decimal surface: result-scale rules differ
    // between the engines, so only exact *, +, - are generated
    assert(!extra.exists(_.contains(" / ")))
  }

  test("the round-13b families (EXISTS, multi-grouping) are present at their counts") {
    val extra = FuzzShapes.innerShapes
      .slice(FuzzShapes.R13Shapes, FuzzShapes.R13bShapes)
    assert(extra.size === 60)
    val exists = extra.count(_.contains("EXISTS (SELECT 1"))
    val grouping = extra.count(_.contains("GROUPING SETS"))
    assert(exists + grouping === 60, "every 13b shape is one of the two families")
    assert(exists === 28)
    assert(extra.count(_.contains("NOT EXISTS")) === 11)
    // the EMPTY grouping set is a documented Spark-vs-standard
    // divergence on empty input — it must never enter the grammar
    assert(!extra.exists(_.contains("()")), "empty grouping set leaked into a shape")
    // correlation is always an equi-key — the semi/anti join must plan
    // as a hash join, never a nested-loop over the fact side
    assert(extra.filter(_.contains("EXISTS (SELECT 1"))
      .forall(_.matches("""(?s).*WHERE b\.\w+ = a\.\w+ AND.*""")))
    // division stays off the surface here too
    assert(!extra.exists(_.contains(" / ")))
  }

  test("the round-13c string-function family stays on the common surface") {
    val extra = FuzzShapes.innerShapes.drop(FuzzShapes.R13bShapes)
    assert(extra.size === 40)
    // every shape exercises at least one string function
    val fns = Seq("UPPER(", "LOWER(", "TRIM(", "SUBSTR(", "REPLACE(",
      "LPAD(", "RPAD(", "REVERSE(", "LEFT(", "RIGHT(", "LENGTH(")
    assert(extra.forall(s => fns.exists(s.contains)))
    // the dialect-divergent names must never appear — the shape text is
    // rendered once for both engines
    for (bad <- Seq("INSTR(", "STRPOS(", "SPLIT_PART(", "CONCAT(", "||"))
      assert(!extra.exists(_.contains(bad)), s"divergent function $bad leaked")
    // SUBSTR is always 1-based with a non-negative length (negative
    // starts/lengths are where the dialects part ways)
    val sub = """SUBSTR\([^,]+, (-?\d+), (-?\d+)\)""".r
    extra.foreach { s =>
      sub.findAllMatchIn(s).foreach { m =>
        assert(m.group(1).toInt >= 1 && m.group(2).toInt >= 0)
      }
    }
  }
}
