package graft.queries

/** Round-4 batch 45: multiset set operations (INTERSECT ALL /
  * EXCEPT ALL) — bag semantics with multiplicities, the variant the
  * DISTINCT set-ops gate (j11) does not exercise.
  */
object Round4Ops45 {

  val j23_set_ops_all = OpQuery.sql("j23_set_ops_all", "lineitem")(
    """WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem WHERE l_returnflag = 'R'),
      |b AS (SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem WHERE l_returnflag = 'A')
      |SELECT op, CAST(v AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS mult
      |FROM (
      |  SELECT 'intersect_all' AS op, v FROM (SELECT v FROM a INTERSECT ALL SELECT v FROM b)
      |  UNION ALL
      |  SELECT 'except_all' AS op, v FROM (SELECT v FROM a EXCEPT ALL SELECT v FROM b))
      |GROUP BY op, v
      |ORDER BY op, v""".stripMargin)

  val all: Seq[OpQuery] = Seq(j23_set_ops_all)
}
