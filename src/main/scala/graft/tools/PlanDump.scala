package graft.tools

import graft.{Gates, GraftSession, SparkEntry}

/** The plan printer: for each named gate, its formatted physical plan —
  * the plan-audit loop: check PushedFilters reach the scans, small dims
  * broadcast, and WholeStageCodegen spans stay wide — plus the
  * [[graft.Gates.run]] timing of gate call, plan print and collect(); the
  * collect, where Bench/MicroBench use the noop sink, additionally pays
  * row transfer to the driver, which makes driver-bound result shapes
  * visible. (Historical note: before the
  * noop-sink migration, Bench timed `.count()`, which Catalyst can prune
  * hard enough to hide a hot branch entirely — this tool is how the
  * 20 s/pass quadratic bigram explode was first seen.)
  *   sbt "runMain graft.tools.PlanDump <gate>[,<gate>...] <sfDir>" */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(gates, sfDir) = args
    val names = Gates.select(Some(gates))
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (gate <- names) {
      println(s"===== $gate =====")
      val o = Gates.run(spark, SparkEntry.queries(gate)(spark, sfDir)) { df =>
        df.explain("formatted")
        df.collect()
      }
      println(o.failure.fold(f"elapsed: ${o.seconds}%.1f s (gate call, plan print, collect)")(f => s"FAILED $f"))
    }
    spark.stop()
  }
}
