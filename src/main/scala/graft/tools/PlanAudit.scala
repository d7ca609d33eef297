package graft.tools

import graft.{GraftSession, SparkEntry, Verify}
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
    val spark = GraftSession.builder(s"local[${GraftSession.cpus()}]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def nodes(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
    def hasGenerate(p: SparkPlan): Boolean =
      nodes(p).exists(_.nodeName.contains("Generate"))

    val names = args.lift(1) match {
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    var flagged = 0
    var errored = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val nonPortable = Verify.nonPortableColumns(df.schema)
        if (nonPortable.nonEmpty) {
          flagged += 1
          println(s"FLAG $name: non-portable output column(s) " +
            nonPortable.mkString(", ") + " — stringify with concat_ws(' ', col)")
        }
        val plan = df.queryExecution.executedPlan
        val all = nodes(plan)
        val carts = all.count(_.nodeName.contains("CartesianProduct"))
        if (carts > 0 && !cartesianWhitelist.contains(name)) {
          flagged += 1
          println(s"FLAG $name: $carts CartesianProduct node(s)")
        }
        val badBcast = all.filter(n =>
          n.nodeName.contains("BroadcastExchange") && hasGenerate(n))
        if (badBcast.nonEmpty) {
          flagged += 1
          println(s"FLAG $name: BroadcastExchange over a Generate " +
            s"(explode) subtree — size-misestimate broadcast")
        }
      } catch { case e: Throwable =>
        errored += 1
        println(s"ERR  $name: ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(160)}")
      }
    }
    println(s"${names.size - flagged - errored}/${names.size} gates clean " +
      s"($flagged flagged, $errored errored)")
    spark.stop()
    if (flagged > 0 || errored > 0) sys.exit(1)
  }
}
