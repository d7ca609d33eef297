package graft.tools

import graft.{Gates, GraftSession, SparkEntry}
import java.nio.file.{Files, Paths}

/** Plan-identity dump for an engine change that must not move any plan:
  * for every q* and sg* gate (or the named gates), the optimized logical
  * plan with expression ids renumbered in order of first appearance, so
  * the files written by two builds compare with `diff`. The plans print
  * no file paths, so two checkouts in different directories compare
  * directly. Each gate runs through [[graft.Gates.run]], which releases
  * what its build persisted (the closure gates checkpoint while they
  * build); a failed gate is written as its failure line.
  *
  *   sbt "Test/runMain graft.tools.PlanIdentityDump <sfDir> <outFile> [gate,...]"
  */
object PlanIdentityDump {

  private val ExprId = "#(\\d+)".r

  /** `plan` with each `#<id>` replaced by its rank of first appearance. */
  def renumber(plan: String): String = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    ExprId.replaceAllIn(plan, m => "#" + ids.getOrElseUpdate(m.group(1), ids.size))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    val gates = args.lift(2).fold(
      Gates.select(None).filter(_.matches("(q|sg)\\d{2}_.*")))(g => Gates.select(Some(g)))
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val entries = gates.map { gate =>
      val o = Gates.run(spark, SparkEntry.queries(gate)(spark, sfDir)) { df =>
        renumber(df.queryExecution.optimizedPlan.toString)
      }
      s"===== $gate =====\n" + o.result.fold(f => s"FAILED $f\n", identity)
    }
    Files.writeString(Paths.get(outFile), entries.mkString)
    println(s"dumped ${gates.size} optimized plans to $outFile")
    spark.stop()
  }
}
