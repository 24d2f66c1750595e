package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked operator gate: its engine body over an sf dir, the
  * DuckDB SQL that must produce the same rows, and the staged inputs the
  * body reads without measuring.
  *
  * Conventions (cross-engine exactness, see Fns):
  *  - aggregates of double measures go through DECIMAL(18,6) and emit DOUBLE;
  *  - every query ends in a total-order ORDER BY mirrored in the oracle;
  *  - all computed columns are aliased identically on both sides.
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
                      oracleSql: String, artifacts: Seq[Artifact[_]] = Nil)

/** The gates by name. Throws if two gates share a name, which a
  * name-keyed `Map(...)` literal would silently collapse to one. */
final class GateRegistry(val gates: Seq[Gate]) {
  locally {
    val repeated = gates.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"gate names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
  }

  val byName: Map[String, Gate] = gates.map(g => g.name -> g).toMap

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, g) => n -> g.run }

  lazy val oracleSql: Map[String, String] = byName.map { case (n, g) => n -> g.oracleSql }

  /** The named gates in the given order; throws naming every unknown one,
    * so a mistyped name never silently shrinks a run. */
  def select(names: Seq[String]): Seq[Gate] = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    names.distinct.map(byName)
  }

  /** Every artifact some gate declares, each once, in declaration order. */
  def artifacts: Seq[Artifact[_]] = gates.flatMap(_.artifacts).distinct
}

object GateRegistry {
  /** Every gate of every family module, built once per JVM. */
  lazy val all: GateRegistry = new GateRegistry(Seq(MartGates.gates,
    TpchGates.gates, AnalyticsGates.gates, DedupGates.gates, TextGates.gates,
    CorpusGates.gates, StreamGates.gates, MultimodalGates.gates,
    GraphGates.gates, VectorGates.gates).flatten)
}
