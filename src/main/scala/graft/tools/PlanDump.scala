package graft.tools

import graft.{GraftSession, SparkEntry}

/** The plan printer: for each named gate, its formatted physical plan —
  * the plan-audit loop: check PushedFilters reach the scans, small dims
  * broadcast, and WholeStageCodegen spans stay wide — plus a
  * collect()-based timing on top of Bench/MicroBench's noop-sink unit;
  * the collect additionally pays row transfer to the driver, which makes
  * driver-bound result shapes visible. (Historical note: before the
  * noop-sink migration, Bench timed `.count()`, which Catalyst can prune
  * hard enough to hide a hot branch entirely — this tool is how the
  * 20 s/pass quadratic bigram explode was first seen.)
  *   sbt "runMain graft.tools.PlanDump <gate>[,<gate>...] <sfDir>" */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(gates, sfDir) = args
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (gate <- gates.split(",").map(_.trim).filter(_.nonEmpty)) {
      println(s"===== $gate =====")
      val df = SparkEntry.queries(gate)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      df.collect()
      println(f"elapsed: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
