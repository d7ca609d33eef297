package graft.bench

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** What Spark reports about one traced call, gathered by listeners the
  * benchmark registers; the program itself is not instrumented. */
final class CallTrace {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  var stages = 0
  var tasks = 0
  var taskBusyMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var rowsScanned = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var smj = 0
  var bhj = 0
  var shj = 0
  var batches = 0
  var batchMs = 0L
  val stateRows = mutable.Map.empty[java.util.UUID, Long]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs.map { case (s, e) => Seq(s, e) }, "stages" -> stages, "tasks" -> tasks,
    "task_busy_ms" -> taskBusyMs, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "rows_scanned" -> rowsScanned,
    "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "smj" -> smj, "bhj" -> bhj, "shj" -> shj,
    "batches" -> batches, "batch_ms" -> batchMs, "state_rows" -> stateRows.values.sum)
}

/** A `SparkListener` keyed by the job group the benchmark sets per call,
  * a `QueryExecutionListener` reading each execution's planning phases
  * and final physical plan, and a `StreamingQueryListener` reading
  * micro-batch progress. Attached only around traced passes. */
final class Tracer(spark: SparkSession) {

  val GroupPrefix = "perfbench:"

  private val byGroup = mutable.Map.empty[String, CallTrace]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  @volatile private var current: String = null

  private def traceOf(group: String): CallTrace =
    byGroup.synchronized(byGroup.getOrElseUpdate(group, new CallTrace))

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix)).orElse(Option(current))
      g.foreach { group =>
        byGroup.synchronized {
          jobStart(e.jobId) = (group, e.time)
          e.stageIds.foreach(stageGroup(_) = group)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = byGroup.synchronized {
      jobStart.remove(e.jobId).foreach { case (g, start) => traceOf(g).jobs += ((start, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = byGroup.synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(traceOf(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = byGroup.synchronized {
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val t = traceOf(g)
        t.tasks += 1
        t.taskBusyMs += m.executorRunTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.rowsScanned += m.inputMetrics.recordsRead
      }
    }
  }

  private def finalPlan(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case s: QueryStageExec => finalPlan(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(finalPlan)
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(current).foreach { g =>
        val phases = qe.tracker.phases
        def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
        val nodes = finalPlan(qe.executedPlan)
        byGroup.synchronized {
          val t = traceOf(g)
          t.analysisMs += ms("analysis")
          t.optimizationMs += ms("optimization")
          t.planningMs += ms("planning")
          t.smj += nodes.count(_.isInstanceOf[SortMergeJoinExec])
          t.bhj += nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
          t.shj += nodes.count(_.isInstanceOf[ShuffledHashJoinExec])
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(current).foreach { g =>
        val p = e.progress
        byGroup.synchronized {
          val t = traceOf(g)
          t.batches += 1
          t.batchMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
          val rows = p.stateOperators.map(_.numRowsTotal).sum
          t.stateRows(p.runId) = math.max(rows, t.stateRows.getOrElse(p.runId, 0L))
        }
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    BenchAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(executions)
    spark.streams.removeListener(streams)
  }

  /** Run `f` as traced call `id`; returns its result and what Spark
    * reported about it once the listener bus has drained. */
  def traced[A](id: String)(f: => A): (A, CallTrace) = {
    val group = GroupPrefix + id
    current = group
    try {
      val a = f
      BenchAccess.drainListenerBus(spark.sparkContext)
      (a, traceOf(group))
    } finally {
      current = null
      byGroup.synchronized {
        byGroup.remove(group)
        stageGroup.filterInPlace((_, g) => g != group)
      }
    }
  }
}
