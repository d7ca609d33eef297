package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one SparkSession setup for the graft engine: every entry point
  * (Cli, Verify, Bench and the tools) builds its session here, so the
  * config Verify checks is the config Bench times and users run.
  * Local mode here; on a cluster keep the same SQL confs and size
  * `spark.sql.shuffle.partitions` to ~2-3× total executor cores and
  * `spark.sql.files.maxPartitionBytes` so scan partitions fit executor
  * memory at the target scale. Shuffle and spill files go where Spark
  * puts them by itself: `SPARK_LOCAL_DIRS` or `-Dspark.local.dir`.
  *
  * Generated code stays compiled across gates: the builder sizes Spark's
  * per-JVM cache of compiled whole-stage and expression classes to
  * [[CodegenCacheEntries]] (Spark's default is 100). */
object GraftSession {

  /** Entries of Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, 100 by default). One full
    * Verify pass over all gates (sf0.01, 4 cores) compiles 5,070 distinct
    * classes: the count Verify prints at exit, taken with a cache too
    * large to evict. 8192 holds them with room for new gates. At 100 the
    * same pass compiles 8,324 classes, because gates evict each other's
    * classes and compile them again (in a mixed `ops-stream` pass, 17–40 %
    * of a steady-state g01 or c01 call). The cache holds only classes a
    * workload has compiled, never more.
    *
    * The conf is static and read once per JVM: `CodeGenerator`'s static
    * initializer takes it from `SQLConf.get` at the JVM's first compile.
    * A session built after that compile cannot change it, so the first
    * session of a JVM must come from this builder. */
  val CodegenCacheEntries = 8192

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
      .config(NanosAsLong, "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The events readers need TIMESTAMP(NANOS) columns as INT64 nanos,
    * which [[builder]] sets; they assert it rather than set it, so they
    * never change the conf of a session they were handed. */
  def requireNanosAsLong(spark: SparkSession): Unit =
    require(spark.conf.get(NanosAsLong, "false") == "true",
      s"$NanosAsLong must be true: build the session with GraftSession.builder")

  def local(cores: Int = cpus()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 8)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Codegen work of this JVM so far, from Spark's own counters: classes
    * compiled (the count of `CodegenMetrics.METRIC_COMPILATION_TIME`) and
    * compile time (`CodeGenerator.compileTime`, ns). Subtract two
    * readings to charge a region. */
  final case class Codegen(compiles: Long, nanos: Long) {
    def -(o: Codegen): Codegen = Codegen(compiles - o.compiles, nanos - o.nanos)
    def +(o: Codegen): Codegen = Codegen(compiles + o.compiles, nanos + o.nanos)
    def ms: Double = nanos / 1e6
  }
  object Codegen { val Zero: Codegen = Codegen(0, 0) }

  def codegen(): Codegen =
    Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
