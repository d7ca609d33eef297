package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession setup for the graft engine: every entry point
  * (Cli, Verify, Bench and the tools) builds its session here, so the
  * config Verify checks is the config Bench times and users run.
  * Local mode here; on a cluster keep the same SQL confs and size
  * `spark.sql.shuffle.partitions` to ~2-3× total executor cores and
  * `spark.sql.files.maxPartitionBytes` so scan partitions fit executor
  * memory at the target scale. Shuffle and spill files go where Spark
  * puts them by itself: `SPARK_LOCAL_DIRS` or `-Dspark.local.dir`. */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else `default` (the JVM's
    * available processors unless the caller records why not). */
  def cpus(default: => Int = Runtime.getRuntime.availableProcessors()): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // shuffled-hash join allowed when its size conditions hold: no sort
      // of either side (d25@sf2: 28 s against 37–75 s under sort-merge);
      // sort-merge stays the planner's fallback when they fail
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events-style tables store TIMESTAMP(NANOS); affects only nanos cols
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def local(cores: Int = cpus()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 8)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
