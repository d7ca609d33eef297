package graft.bench

import graft.{EngineQueries, SparkEntry}

/** One call a pass makes. `kind` names the public entry point it goes
  * through:
  *  - `sparql`: `SparqlParser.parse` then `GraftEngine.executeParsed`;
  *  - `sqlgen`: `SparqlParser.parse` then `SqlGenExecutor.execute`;
  *  - `op` / `stream`: the `SparkEntry.benchQueries` function of that
  *    name (an operator family or a streaming query).
  * `sparql` is empty for `op` and `stream`. */
final case class Call(name: String, kind: String, sparql: String, oracle: String,
    param: Option[Param])

/** A workload: the lake scale it runs on and the calls of one pass. */
final case class Workload(name: String, scale: Double, calls: Seq[Call])

object Workloads {

  /** The prefix every suite query is run with. */
  val Prefix = "PREFIX g: <http://graft.io/schema/>\n"

  private lazy val suite: Map[String, (String, String)] =
    EngineQueries.suite.map { case (n, s, o) => n -> (Prefix + s, o) }.toMap

  private def sparqlCall(name: String): Call = {
    val (s, o) = suite(name)
    Call(name, "sparql", s, o, Params.forGate(name))
  }

  /** The SQL-generation twin `name` of suite query `source`: same SPARQL,
    * same oracle, same seeded literal. */
  private def sqlgenCall(name: String, source: String): Call = {
    val (s, o) = suite(source)
    Call(name, "sqlgen", s, o, Params.forGate(source))
  }

  private def opCall(name: String, kind: String): Call = {
    require(SparkEntry.oracleSql.contains(name), s"no oracle for $name")
    Call(name, kind, "", SparkEntry.oracleSql(name), None)
  }

  /** A cross-section of the engine suite: scans, joins, aggregates,
    * MINUS, multi-source unions, CSV/JSON/ORC/JDBC sources, FnO and join
    * transforms, and every gate with a seeded literal. Sized so a pass
    * takes a few seconds on 4 cores, which leaves out the property-path
    * closures: one of them alone takes longer than the rest of a pass. */
  val SparqlGates: Seq[String] = Seq("q01_scan_project", "q04_join2", "q05_join3",
    "q06_join4_mod", "q10_union_sources", "q11_transform_join", "q12_filter_subject",
    "q15_fno_transform", "q18_jdbc_source", "q22_date_filter", "q26_minus",
    "q50_json_source", "q55_orc_source")

  /** SQL-generation twins of gates above (same SPARQL, oracle, literal). */
  val SqlGenGates: Seq[String] = Seq("sg02_sqlgen_join3", "sg21_sqlgen_builtins")

  /** Driver-paced loops with a localCheckpoint per round (ops/Graph,
    * ops/Dedup, ops/Ckpt) and an AvailableNow streaming query with a
    * dedup state store. */
  val OpGates: Seq[String] = Seq("g01_pagerank", "c01_dedup_clusters")
  val StreamGates: Seq[String] = Seq("st03_streaming_dedup")

  def apply(name: String): Workload = name match {
    case "sparql-small" =>
      val twins = EngineQueries.sqlGenGates.toMap
      Workload(name, 0.01, SparqlGates.map(sparqlCall) ++
        SqlGenGates.map(n => sqlgenCall(n, twins(n))))
    case "ops-stream" => Workload(name, 0.002,
      OpGates.map(opCall(_, "op")) ++ StreamGates.map(opCall(_, "stream")))
    case other => sys.error(s"unknown workload $other")
  }
}
