package graft

import graft.gates.{Artifacts, GateRegistry}

/** Guards the single gate registry: the gate set is pinned by name, every
  * gate carries its oracle, names are unique, name selection rejects
  * typos, and staging covers every artifact a gate declares. */
class GateRegistrySpec extends SparkSpec {
  private val registry = GateRegistry.all

  test("the registry holds exactly the pinned gate names") {
    val pinned = scala.io.Source.fromResource("gate_names.txt").getLines()
      .filter(_.nonEmpty).toSeq
    assert(pinned.size == 350)
    assert(registry.gates.map(_.name).sorted == pinned)
    assert(SparkEntry.queries.keySet == pinned.toSet)
    assert(SparkEntry.oracleSql.keySet == pinned.toSet)
  }

  test("every gate has non-empty oracle SQL") {
    val empty = registry.gates.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"gates without oracle SQL: $empty")
  }

  test("a registry with a repeated gate name throws") {
    val g = registry.byName("q1_agg")
    val e = intercept[IllegalArgumentException](
      new GateRegistry(Seq(g, registry.byName("j_semi"), g)))
    assert(e.getMessage.endsWith(": q1_agg"))
  }

  test("select returns the named gates and fails naming the unknown ones") {
    assert(registry.select(Seq("j_semi")).map(_.name) == Seq("j_semi"))
    val e = intercept[IllegalArgumentException](
      registry.select(Seq("j_semi", "j_semii")))
    assert(e.getMessage.endsWith("unknown gate(s): j_semii"))
  }

  test("stageAllSpools builds every artifact the gates declare") {
    val declared = registry.artifacts
    // one memo key per artifact name: two artifacts sharing a name would
    // serve each other's data
    assert(declared.map(_.name).distinct.size == declared.size)
    assert(SparkEntry.stageAllSpools(spark, sf0001) == declared.size)
    val missing = declared.filterNot(a => Artifacts.isStaged(a.key(sf0001)))
    assert(missing.isEmpty, s"declared but not staged: ${missing.map(_.name)}")
  }
}
