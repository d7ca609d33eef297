package graft.bench

import graft.{GraftSession, SparkEntry}
import graft.engine.{GraftEngine, SqlGenExecutor, StarSpec}
import graft.model.{ObjVar, ParsedQuery}
import graft.sparql.SparqlParser
import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One benchmark run in one JVM: set up the lake, make untimed warm-up
  * passes, then make passes over the workload's calls until the
  * measured time reaches `--seconds`, with one client in a closed loop.
  * Every call writes its result to Spark's noop sink; the first call of
  * each distinct query text also collects it, untimed, for the DuckDB
  * oracle check run.py makes afterwards. Writes every record to
  * `--out` as JSON; run.py turns the records into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   --lake DIR --cores N --out FILE
  * `--lake` holds the generated tables; they are made there on first use. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, lake: String, cores: Int, out: String)

  private def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("lake"), need("cores").toInt, need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val runner = new Runner(a, Workloads(a.workload))
    val out = try runner.run() finally runner.close()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(a.out), out)
  }
}

object Runner {
  /** Set-up repetitions; `setup_s` takes their median. */
  val SetupReps = 3

  /** Timed-call seconds of the untimed warm-up passes before the measured
    * ones; the first warm-up pass is part of set-up. */
  val WarmupSeconds = 15.0
}

final class Runner(a: Main.Args, wl: Workload) {

  private var spark: SparkSession = _
  private var lake: Lake.Parsed = _
  private var sfDir: String = _
  private var candidates: Map[String, IndexedSeq[String]] = Map.empty
  private lazy val benchQueries = SparkEntry.benchQueries
  private lazy val tracer = new Tracer(spark)

  private val setupRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val callRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val verifyRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val verified = mutable.Set.empty[String]

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = cpuBean.getProcessCpuTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  private def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9

  /** Set up `SetupReps` times, each with a fresh session and fresh
    * derived sources, keeping the last. */
  private def setup(): Unit = {
    sfDir = a.lake
    val datagen = Lake.cached(sfDir, wl.scale, a.cores)
    for (r <- 1 to Runner.SetupReps) {
      if (spark != null) spark.stop()
      val derived = s"${a.work}/derived$r"
      val t0 = System.nanoTime
      spark = GraftSession.local(a.cores)
      val session = secs(t0)
      val t1 = System.nanoTime
      Lake.derive(spark, sfDir, derived)
      val derive = secs(t1)
      val t2 = System.nanoTime
      val (mt, ct) = Lake.texts(sfDir, derived)
      lake = Lake.parse(mt, ct)
      val parseMs = secs(t2) * 1000
      System.err.println(f"[perfbench] setup $r%d: session $session%.2f s, " +
        f"derive $derive%.2f s, mappings $parseMs%.1f ms")
      setupRecs += Map("datagen_s" -> datagen, "session_s" -> session,
        "derive_s" -> derive, "mappings_parse_ms" -> parseMs, "total_s" -> secs(t0))
    }
    val params = wl.calls.flatMap(_.param).distinct
    candidates = Params.candidates(spark, sfDir, params)
  }

  /** The call order and the literal of every parameter for pass `p`. */
  private def draw(p: Int): (Seq[Call], Map[String, String]) = {
    val rng = new Random(a.seed * 1000003L + p)
    val order = rng.shuffle(wl.calls)
    val values = candidates.toSeq.sortBy(_._1).map { case (g, vs) =>
      g -> vs(rng.nextInt(vs.size))
    }.toMap
    (order, values)
  }

  private def hygiene(): Map[String, Any] = {
    val sc = spark.sparkContext
    Map("persisted_rdds" -> sc.getPersistentRDDs.size,
      "ckpt_blocks" -> BenchAccess.localCheckpointBlocks(sc),
      "active_queries" -> spark.streams.active.length,
      "nondaemon_threads" -> Thread.getAllStackTraces.keySet.asScala.count(t => !t.isDaemon),
      "conf" -> spark.conf.getAll)
  }

  private def hygieneDelta(before: Map[String, Any], after: Map[String, Any]): Map[String, Any] = {
    def n(m: Map[String, Any], k: String) = m(k).asInstanceOf[Int]
    val cb = before("conf").asInstanceOf[Map[String, String]]
    val ca = after("conf").asInstanceOf[Map[String, String]]
    val changed = (cb.keySet ++ ca.keySet).count(k => cb.get(k) != ca.get(k))
    Map("persisted_rdds" -> (n(after, "persisted_rdds") - n(before, "persisted_rdds")),
      "ckpt_blocks" -> (n(after, "ckpt_blocks") - n(before, "ckpt_blocks")),
      "active_queries" -> (n(after, "active_queries") - n(before, "active_queries")),
      "nondaemon_threads" -> (n(after, "nondaemon_threads") - n(before, "nondaemon_threads")),
      "conf_keys_changed" -> changed)
  }

  /** Time `StarSpec.build` (relevant-source detection) for every star
    * of `q`; returns (total ms, sources per star). */
  private def detectSources(q: ParsedQuery): (Double, Seq[Int]) = {
    val vars = q.patterns.flatMap(t => Seq(t.subject) ++ (t.obj match {
      case ObjVar(v) => Seq(v)
      case _ => Nil
    })).toSet
    val t0 = System.nanoTime
    val counts = q.stars.keys.toSeq.sorted.map(s =>
      StarSpec.build(q, s, lake.mappings, vars).sources.size)
    ((System.nanoTime - t0) / 1e6, counts)
  }

  private def runCall(p: Int, c: Call, values: Map[String, String], traced: Boolean): Unit = {
    val (sparql, oracle, literal) = c.param match {
      case Some(pm) =>
        val v = values(pm.gate)
        val (s, o) = Params.bind(pm, c.sparql, c.oracle, v)
        (s, o, v)
      case None => (c.sparql, c.oracle, "")
    }
    val sc = spark.sparkContext
    val id = s"$p:${c.name}"
    val spans = mutable.LinkedHashMap.empty[String, Double]
    def span[A](k: String)(f: => A): A = {
      val t0 = System.nanoTime
      try f finally spans(k) = spans.getOrElse(k, 0.0) + (System.nanoTime - t0) / 1e6
    }
    var stars: Seq[Int] = Nil
    var dfAnalysisMs = 0L
    var df: DataFrame = null
    var error: String = null
    val before = if (traced) hygiene() else null
    sc.setJobGroup(tracer.GroupPrefix + id, c.name)
    val t0ms = System.currentTimeMillis
    val cpu0 = cpuNs
    val t0 = System.nanoTime
    def body(): Unit = {
      df = c.kind match {
        case "sparql" =>
          val q = span("parse")(SparqlParser.parse(sparql))
          if (traced) {
            val (ms, counts) = detectSources(q)
            spans("detect") = ms
            stars = counts
          }
          span("build")(GraftEngine.executeParsed(spark, q, lake.mappings, lake.config))
        case "sqlgen" =>
          val q = span("parse")(SparqlParser.parse(sparql))
          if (traced) span("lower")(SqlGenExecutor.lower(q, lake.mappings, lake.config))
          span("build")(SqlGenExecutor.execute(spark, q, lake.mappings, lake.config))
        case _ => span("build")(benchQueries(c.name)(spark, sfDir))
      }
      if (traced) dfAnalysisMs = df.queryExecution.tracker.phases.get("analysis")
        .map(_.durationMs).getOrElse(0L)
      span("exec")(df.write.format("noop").mode("overwrite").save())
    }
    val trace =
      try {
        if (traced) Some(tracer.traced(id)(body())._2) else { body(); None }
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
          None
      } finally sc.clearJobGroup()
    val wallMs = (System.nanoTime - t0) / 1e6
    val cpuMs = (cpuNs - cpu0) / 1e6
    val t1ms = System.currentTimeMillis
    val after = if (traced) hygiene() else null

    val key = s"${c.name}|$literal"
    if (error == null && !verified.contains(key)) {
      verified += key
      verifyRecs += Map("key" -> key, "name" -> c.name, "literal" -> literal,
        "oracle" -> oracle) ++ Output.collect(df)
      if (traced) BenchAccess.drainListenerBus(sc)
    }
    System.err.println(f"[perfbench] pass $p%d ${c.name}%s ${wallMs}%.1f ms" +
      (if (error != null) s" FAILED $error" else ""))
    callRecs += Map("pass" -> p, "traced" -> traced, "name" -> c.name, "kind" -> c.kind,
      "key" -> key, "error" -> error, "wall_ms" -> wallMs, "cpu_ms" -> cpuMs,
      "t0_ms" -> t0ms, "t1_ms" -> t1ms, "spans" -> spans, "stars" -> stars,
      "df_analysis_ms" -> dfAnalysisMs, "trace" -> trace.map(_.toMap),
      "hygiene" -> (if (traced) hygieneDelta(before, after) else null))
  }

  private def pass(p: Int, traced: Boolean): Double = {
    val (order, values) = draw(p)
    if (traced) tracer.attach()
    val gc0 = gcMs
    val first = callRecs.size
    val t0 = System.nanoTime
    try order.foreach(runCall(p, _, values, traced))
    finally if (traced) tracer.detach()
    val span = secs(t0)
    val calls = callRecs.drop(first)
    val timed = calls.map(_("wall_ms").asInstanceOf[Double]).sum / 1000
    passRecs += Map("pass" -> p, "traced" -> traced, "wall_s" -> timed,
      "span_s" -> span, "cpu_s" -> calls.map(_("cpu_ms").asInstanceOf[Double]).sum / 1000,
      "gc_ms" -> (gcMs - gc0), "heap_after_gc_mb" -> heapAfterGcMb)
    timed
  }

  def run(): Map[String, Any] = {
    setup()
    val w0 = System.nanoTime
    var warm = pass(-1, traced = false)
    val warmup = secs(w0)
    // the JIT keeps compiling for tens of seconds; more warm-up passes
    // keep the measured ones off the steepest part of that curve
    var w = -2
    while (warm < Runner.WarmupSeconds) {
      warm += pass(w, traced = false)
      w -= 1
    }
    var measured = 0.0
    var p = 0
    // --trace 1 interleaves untraced and traced passes (U T T U U T ...),
    // so the traced run also measures the tracing overhead with the JIT's
    // drift spread over both; it stops after as many of each
    while (measured < a.seconds || (a.trace && p % 2 == 1)) {
      measured += pass(p, traced = a.trace && (p % 4 == 1 || p % 4 == 2))
      p += 1
    }
    Map("workload" -> wl.name, "seed" -> a.seed, "cores" -> a.cores, "scale" -> wl.scale,
      "trace" -> a.trace, "lake" -> sfDir, "setup" -> setupRecs, "warmup_s" -> warmup,
      "passes" -> passRecs, "calls" -> callRecs, "verify" -> verifyRecs,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
  }

  /** Stop every streaming query and the session. */
  def close(): Unit = if (spark != null) {
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    spark.stop()
  }
}
