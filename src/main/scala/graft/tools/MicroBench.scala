package graft.tools

import graft.{GraftSession, SparkEntry}

/** Times selected queries N times in one JVM — separates steady-state cost
  * from JIT/cache warmup that single-shot Bench runs conflate. */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val cpus = GraftSession.cpus()
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      // benchQueries, not queries: MicroBench exists to explain Bench
      // numbers, so it must time the same per-query unit (the ANN
      // overrides time one operator invocation, not the recall harness)
      val fn = SparkEntry.benchQueries(name)
      val times = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        // full materialization via the noop sink — Bench's timing unit
        // (count() lets Catalyst prune entire branches; see Bench.time)
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name: ${times.map(t => f"$t%.1f").mkString(" ")}")
    }
    spark.stop()
  }
}
