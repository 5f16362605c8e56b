package graft.queries

/** The full operator inventory exposed to the driver via
  * [[graft.SparkEntry]], one entry per gate family. A family's key names
  * what its gates test; its object holds the gates and their `all` list.
  */
object Registry {
  val families: Seq[(String, Seq[OpQuery])] = Seq(
    "relational" -> RelationalGates.all,
    "tpch" -> TpchGates.all,
    "data_quality" -> DataQualityGates.all,
    "stats" -> StatsGates.all,
    "stat_tests" -> StatTestsGates.all,
    "timeseries" -> TimeSeriesGates.all,
    "functions" -> FunctionsGates.all,
    "formats" -> FormatsGates.all,
    "tables" -> TablesGates.all,
    "medallion" -> MedallionGates.all,
    "text" -> TextGates.all,
    "dedup" -> DedupGates.all,
    "vectors" -> VectorsGates.all,
    "ml" -> MlGates.all,
    "graph" -> GraphGates.all,
    "multimodal" -> MultimodalGates.all,
    "events" -> EventsGates.all,
    "streaming" -> StreamingGates.all)

  val flagship: OpQuery = RelationalGates.q1_agg

  val all: Seq[OpQuery] = {
    val qs = families.flatMap(_._2)
    // SparkEntry builds a Map from these — a duplicate name would let a
    // later family silently SHADOW an earlier gate (nearly happened in
    // round 6: a second "graph_triangles"). Fail the build instead.
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.mkString(", ")}")
    qs
  }

  private val familyByGate: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  /** The family key of the gate called `name`, if there is one. */
  def familyOf(name: String): Option[String] = familyByGate.get(name)
}
