package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** [[Registry]]: every gate belongs to exactly one named family. */
class RegistrySpec extends AnyFunSuite {

  private val families = Registry.families

  test("family names are unique and non-empty, and no family is empty") {
    val names = families.map(_._1)
    assert(names.forall(_.nonEmpty), names)
    assert(names.distinct == names, names.diff(names.distinct))
    assert(families.forall(_._2.nonEmpty), families.filter(_._2.isEmpty).map(_._1))
  }

  test("every gate sits in exactly one family, and familyOf names it") {
    assert(Registry.all.nonEmpty)
    Registry.all.foreach { q =>
      val homes = families.collect { case (f, qs) if qs.exists(_.name == q.name) => f }
      assert(homes.size == 1, s"${q.name} is listed in ${homes.mkString(", ")}")
      assert(Registry.familyOf(q.name).contains(homes.head), q.name)
    }
    assert(Registry.all.size == families.map(_._2.size).sum)
    assert(Registry.familyOf("not_a_gate").isEmpty)
  }

  test("the gate_mix gates resolve by name") {
    val byName = Registry.all.map(q => q.name -> q).toMap
    Seq("q1_agg", "s15_scd2_merge", "ivm_join_refresh", "sim_ivf_topk", "dedup_clusters")
      .foreach { n =>
        assert(byName.get(n).exists(_.name == n), n)
        assert(Registry.familyOf(n).isDefined, n)
      }
    assert(Registry.flagship.name == "q1_agg")
  }
}
