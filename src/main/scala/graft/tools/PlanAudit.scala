package graft.tools

import graft.{Gates, GraftSession, SparkEntry, Verify}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan anti-pattern sweep over EVERY registered gate — the
  * automated version of the judge's per-round plan audit, born from a
  * measured miss: t49's scoring join BROADCAST the corpus-sized bigram
  * explode for four sessions because Catalyst estimates a Generate's
  * size from the (tiny) parquet bytes behind it, and no count-based
  * timing or correctness gate can see that. Flags, per gate:
  *
  *  - `cartesian`: a CartesianProduct in the executed plan (a
  *    non-broadcast cross — quadratic shuffle at scale). SPARQL
  *    disconnected-BGP gates legitimately plan these; they are
  *    whitelisted by name below.
  *  - `bcast-generate`: a BroadcastExchange whose subtree contains a
  *    Generate (explode) — the size-misestimate trap: the optimizer
  *    broadcasts what it thinks is small parquet but is actually an
  *    exploded stream many times larger. Legitimate 1-row/stat
  *    broadcasts never contain a Generate.
  *
  * Usage: sbt "runMain graft.tools.PlanAudit [sfDir [gate,gate,...]]"
  * Prints one line per finding and a summary; exit 1 on non-whitelisted
  * findings. Plan BUILD only (no jobs beyond what gate construction
  * itself runs — index fits and driver folds execute, so the full sweep
  * costs a few minutes at sf0.001). */
object PlanAudit {

  /** Gates allowed to plan a CartesianProduct: SPARQL semantics mandate
    * a cross for disconnected BGPs; MMR/judge-style rerankers cross a
    * bounded candidate set with a 1-row stat. Every entry must say why. */
  private val cartesianWhitelist: Map[String, String] = Map(
    // (none currently — q-family crosses plan as BroadcastNestedLoopJoin
    //  over 1-row/stat sides, not CartesianProduct; add entries here
    //  WITH A REASON if a future gate legitimately needs one)
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = Gates.select(args.lift(1))
    val spark = GraftSession.builder(s"local[${GraftSession.cpus()}]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def nodes(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
    def hasGenerate(p: SparkPlan): Boolean =
      nodes(p).exists(_.nodeName.contains("Generate"))

    /** The gate's findings, one line each. */
    def audit(name: String, df: DataFrame): Seq[String] = {
      val nonPortable = Verify.nonPortableColumns(df.schema)
      val all = nodes(df.queryExecution.executedPlan)
      val carts = all.count(_.nodeName.contains("CartesianProduct"))
      val badBcast = all.exists(n => n.nodeName.contains("BroadcastExchange") && hasGenerate(n))
      Option.when(nonPortable.nonEmpty)(s"non-portable output column(s) " +
        nonPortable.mkString(", ") + " — stringify with concat_ws(' ', col)").toSeq ++
        Option.when(carts > 0 && !cartesianWhitelist.contains(name))(
          s"$carts CartesianProduct node(s)") ++
        Option.when(badBcast)("BroadcastExchange over a Generate " +
          "(explode) subtree — size-misestimate broadcast")
    }

    var flagged = 0
    var errored = 0
    names.foreach { name =>
      Gates.run(spark, SparkEntry.queries(name)(spark, sfDir))(audit(name, _)).result match {
        case Right(findings) =>
          flagged += findings.size
          findings.foreach(f => println(s"FLAG $name: $f"))
        case Left(e) =>
          errored += 1
          println(s"ERR  $name: $e")
      }
    }
    println(s"${names.size - flagged - errored}/${names.size} gates clean " +
      s"($flagged flagged, $errored errored)")
    spark.stop()
    if (flagged > 0 || errored > 0) sys.exit(1)
  }
}
