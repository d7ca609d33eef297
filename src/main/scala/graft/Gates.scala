package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The one gate runner: Verify, Bench, MicroBench and the tools run
  * every gate call through [[run]], which owns what the call leaves
  * behind. Operators register nothing: a snapshot taken before the call
  * and diffed after it works out what the call made.
  *
  * Rule of a run: the call's own work (the gate's `build` plus the
  * caller's `use`, its sink) is timed and charged its codegen; then,
  * outside the clock and on success and failure alike, every RDD
  * persisted since the snapshot is unpersisted (blocking, so
  * `localCheckpoint` blocks are freed now, not at some later GC) and the
  * CacheManager is cleared. Growth that cannot be released that way
  * (non-daemon threads, streaming queries still active, session conf
  * keys changed) is the gate's hygiene failure. */
object Gates {

  /** Gate names to run: every gate of [[SparkEntry.queries]] sorted, or
    * the comma-separated `spec` in its order. An unknown name is refused,
    * by name, before anything runs. */
  def select(spec: Option[String]): Seq[String] = spec match {
    case None => SparkEntry.queries.keys.toSeq.sorted
    case Some(list) =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(", ")}")
      names
  }

  /** `e` and its causes, outermost first (bounded against cause cycles). */
  def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).toSeq

  /** The innermost cause: Spark wraps task failures, and the outer
    * message names the wrapper, not what went wrong. */
  def rootCause(e: Throwable): Throwable = causes(e).last

  /** A failure as every harness records it: its root cause's class and
    * message, at most 500 characters. */
  def describe(e: Throwable): String = {
    val root = rootCause(e)
    s"${root.getClass.getName}: ${Option(root.getMessage).getOrElse("")}".take(500)
  }

  /** One gate call: `use`'s value or what it threw, the seconds and the
    * codegen work of `use(build)`, and the growth the release could not
    * undo (empty when the call left nothing behind). */
  final case class Outcome[A](value: Either[Throwable, A], seconds: Double,
      codegen: GraftSession.Codegen, hygiene: Seq[String]) {

    /** The failure line: the root cause, else the unreleased growth. */
    def failure: Option[String] = value.left.toOption.map(describe)
      .orElse(Option.when(hygiene.nonEmpty)(s"hygiene: ${hygiene.mkString("; ")}"))

    /** The value, or the failure line. */
    def result: Either[String, A] = failure.toLeft(value.toOption.get)
  }

  /** What a session holds that a gate call could grow. */
  private[graft] final case class Snapshot(rdds: Set[Int], queries: Map[java.util.UUID, String],
      conf: Map[String, String], threads: Set[Thread])

  private[graft] def snapshot(spark: SparkSession): Snapshot =
    Snapshot(spark.sparkContext.getPersistentRDDs.keySet.toSet,
      spark.streams.active.map(q => q.id -> String.valueOf(q.name)).toMap, spark.conf.getAll,
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet)

  /** Run one gate call `use(build)` on `spark` under the rule in this
    * object's header. Never throws what the call throws: the outcome
    * carries it. */
  def run[A](spark: SparkSession, build: => DataFrame)(use: DataFrame => A): Outcome[A] = {
    val before = snapshot(spark)
    val cg0 = GraftSession.codegen()
    val t0 = System.nanoTime()
    val value = try Right(use(build)) catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val codegen = GraftSession.codegen() - cg0
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.rdds(id)) rdd.unpersist(blocking = true)
    }
    spark.catalog.clearCache()
    val after = snapshot(spark)
    val conf = (before.conf.keySet ++ after.conf.keySet).filter(k => before.conf.get(k) != after.conf.get(k))
    val hygiene =
      (after.threads -- before.threads).map(t => s"thread ${t.getName}").toSeq.sorted ++
        (after.queries -- before.queries.keys).values.map(n => s"active query $n").toSeq.sorted ++
        conf.toSeq.sorted.map(k => s"conf $k")
    Outcome(value, seconds, codegen, hygiene)
  }

  /** The timing sink: full materialization through the noop sink, not
    * `.count()`, which Catalyst prunes hard enough to elide entire
    * branches (round 15 found a 20 s/pass quadratic explode, t49/t18's
    * bigram HOF, that every count-based timing had hidden). */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}
