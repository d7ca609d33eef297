package graft.streaming

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import graft.GraftSession
import graft.engine.SourceRegistry
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryException,
  StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Structured Streaming over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props) — net-new capability
  * vs the reference (SURVEY §2.9: none there). Watermarked tumbling-window
  * aggregation; state stays bounded by the watermark at any scale.
  *
  * Every streaming query of the family (here, [[JdbcUpsertSink]],
  * [[CorpusStreams]]) runs through one runner, [[drain]]. Its contract:
  *
  *  - One start. One rule over (label, absolute input path) names the
  *    query and places its scratch directory (checkpoint, file-sink
  *    output) under `graft.stream.stageDir` ([[stageDir]]). The runner
  *    stops a leftover query of that name, wipes the directory, starts
  *    the query with `Trigger.AvailableNow` inside the stream-shuffle cap
  *    ([[withStreamShuffle]]) and awaits termination. A gate therefore
  *    leaves at most one scratch copy per (input, label), and every run
  *    starts from a fresh checkpoint.
  *  - Progress only when asked. With an `onProgress` callback the runner
  *    registers one listener before the start, waits for the query's
  *    terminated event and throws, naming the query, if it does not
  *    arrive within the bound — never partial totals. The listener is
  *    removed however the run ends. Without a callback the runner adds
  *    no listener and no Spark job.
  *  - Failure paths. When the query or a batch throws, the original
  *    exception reaches the caller, in the cause chain of Spark's
  *    `StreamingQueryException`. Afterwards no query of that name is
  *    active, no listener is left registered, and
  *    `spark.sql.shuffle.partitions` holds its prior value. Only a run
  *    given `restarts` instead restarts on its own checkpoint, that many
  *    times ([[crashRestart]]). */
object EventStreams {

  /** Streaming plan: hourly (bucket, event_type) counts + sums with a
    * 2-hour watermark. `source` may be a readStream or batch DataFrame —
    * same plan compiles for both (Structured Streaming contract). */
  def hourlyStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type").as("etype"))
      .agg(count(lit(1)).as("n"),
        // floor-based half-up rounding: identical bit-level behavior in
        // DuckDB (round() differs cross-engine at exact .5 boundaries)
        (floor(sum(col("value")) * 100 + 0.5) / 100).as("sumv"))
      .select(col("w.start").cast("long").as("bucket"), col("etype"), col("n"), col("sumv"))

  /** Watermarked hourly DISTINCT-user estimate. Structured Streaming
    * PROHIBITS exact distinct aggregation (unbounded per-window value
    * state); the HLL++ sketch (`approx_count_distinct`, deterministic,
    * fixed kilobytes of mergeable state per window) is the form that
    * streams — the same exact-vs-sketch contract as the batch t09/t22
    * gates, surfaced where the exact twin is not merely expensive but
    * ILLEGAL. Output: (bucket, n_approx). */
  def hourlyDistinctUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id")).as("n_approx"))
      .select(col("w.start").cast("long").as("bucket"), col("n_approx"))

  /** [[hourlyDistinctUsers]] as a real streaming query joined against
    * the batch exact twin: (bucket, n_exact, est_ok) where est_ok pins
    * the sketch inside 3·rsd of exact (HLL++ default rsd 0.05). */
  def runHourlyDistinctBatch(spark: SparkSession, parquetPath: String): DataFrame = {
    val st = runToMemory(
      hourlyDistinctUsers(streamEvents(spark, parquetPath)),
      "hdu", parquetPath, "complete")
    val ex = readEvents(spark, parquetPath)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .select(col("w.start").cast("long").as("bucket"), col("n_exact"))
    st.join(ex, "bucket")
      .select(col("bucket"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact"))
          <= col("n_exact") * (3 * 0.05) + 1).as("est_ok"))
  }

  /** STREAMING KMV distinct sketch per event type: the bottom-k
    * aggregator ([[graft.ops.Sketches.kmvDistinctPerGroup]]) as
    * streaming aggregation state — O(k) longs per group held by the
    * state store across micro-batches, merged exactly like the batch
    * map-side combine. Because a bottom-k set is a pure function of
    * the value SET, the complete-mode result over AvailableNow must
    * equal the batch sketch row-for-row — which is what the st18 gate
    * pins against the same ORDER BY hash LIMIT k oracle as t45. This
    * is the streaming story for sketches: a dashboard keeps a live
    * distinct estimate without ever storing the distinct set. */
  def kmvDistinctPerType(events: DataFrame, k: Int, salt: String): DataFrame =
    graft.ops.Sketches.kmvEstimate(
      events.select(col("event_type").as("scope"),
          graft.ops.Sketches.kmvHash(col("user_id"), salt).as("__h"))
        .groupBy(col("scope"))
        .agg(graft.functions.KmvSketch.bottomK(k)(col("__h")).as("ks"))
        .withColumn("k", lit(k)), k)

  /** [[kmvDistinctPerType]] as a real streaming query (AvailableNow,
    * complete mode). */
  def runKmvDistinctBatch(spark: SparkSession, parquetPath: String,
      k: Int = 64, salt: String = "kst"): DataFrame =
    runToMemory(
      kmvDistinctPerType(streamEvents(spark, parquetPath), k, salt),
      "kmv", parquetPath, "complete")

  /** STREAMING native session_window: event-time sessions (30-minute
    * merge gap) per user — the built-in API form of sessionization (vs
    * [[sessionize]]'s custom `flatMapGroupsWithState` form; both exist
    * because the API form is one line but fixes the semantics, while
    * custom state lets you attach arbitrary per-session payloads). The
    * watermark bounds session state on an indefinite stream: a session
    * whose gap has passed the watermark can never grow and its state is
    * evicted after emission. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** [[sessionWindows]] as a real streaming query over the events file
    * (AvailableNow, complete mode so the tail sessions the final
    * watermark has not closed still emit — the choice that makes the
    * result equal the batch ts08 twin exactly). */
  def runSessionWindowBatch(spark: SparkSession, parquetPath: String): DataFrame =
    runToMemory(
      sessionWindows(streamEvents(spark, parquetPath)),
      "ssw", parquetPath, "complete")

  final case class HourlyAnom(etype: String, bucket: Long, n_events: Long,
      z: Option[Double])

  /** STREAMING twin of [[graft.ops.EventAnalytics.hourlyAnomalies]]:
    * per-type hourly counts held as custom `flatMapGroupsWithState`
    * state (a bucket→count map — state ∝ the type's hour SPAN, not its
    * event volume), with each trigger re-emitting the type's densified
    * trailing-window z table over all counts seen so far. Arbitrary
    * window functions don't stream, and chaining a streaming aggregate
    * into a second stateful operator is restricted — the custom-state
    * formulation is how rolling anomaly detection runs on a live
    * stream. Re-emission semantics: downstream keeps the LATEST row per
    * (etype, bucket) (under an AvailableNow single-file source there is
    * one batch and the output equals the batch operator exactly — the
    * st13 gate); for indefinite streams add a timeout that finalizes
    * buckets past the watermark, as [[sessionize]] documents. */
  def streamingAnomalies(events: DataFrame, window: Int = 24): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val b = events.select(col("event_type").as("etype"),
      floor(unix_micros(col("ts")) / 3600000000L).as("bucket")).as[(String, Long)]
    b.groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], HourlyAnom](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (etype: String, it: Iterator[(String, Long)], state: GroupState[Map[Long, Long]]) =>
          val counts = it.foldLeft(state.getOption.getOrElse(Map.empty[Long, Long])) {
            case (m, (_, bk)) => m.updated(bk, m.getOrElse(bk, 0L) + 1L)
          }
          state.update(counts)
          if (counts.isEmpty) Iterator.empty
          else {
            val (b0, b1) = (counts.keys.min, counts.keys.max)
            val dense = (b0 to b1).map(k => counts.getOrElse(k, 0L)).toArray
            dense.indices.iterator.map { i =>
              val lo = i - window
              val z =
                if (lo < 0) None
                else {
                  val win = dense.slice(lo, i)
                  val n = window.toDouble
                  val s = win.map(_.toDouble).sum
                  val ss = win.map(c => c.toDouble * c).sum
                  val variance = (ss - s * s / n) / (n - 1)
                  if (variance > 0)
                    Some(math.floor((dense(i) - s / n) / math.sqrt(variance)
                      * 10000 + 0.5) / 10000)
                  else None
                }
              HourlyAnom(etype, b0 + i, dense(i), z)
            }
          }
      }.toDF()
  }

  /** [[streamingAnomalies]] as a real AvailableNow streaming query —
    * one file, one batch, output equal to the batch operator. */
  def runStreamingAnomaliesBatch(spark: SparkSession, parquetPath: String,
      window: Int = 24): DataFrame =
    runToMemory(streamingAnomalies(streamEvents(spark, parquetPath), window),
      "anom", parquetPath, "append")

  /** Normalize an event-time column to session-tz TimestampType (µs
    * precision) regardless of the physical shape the parquet writer
    * chose. Three shapes occur in the wild (and the testdata has shipped
    * two of them across rounds):
    *  - INT64 TIMESTAMP(NANOS) read as LongType via
    *    `spark.sql.legacy.parquet.nanosAsLong` → truncate to µs;
    *  - TIMESTAMP(MICROS, adjusted) → TimestampType, pass through;
    *  - TIMESTAMP(MICROS, NTZ) → TimestampNTZType, cast (value-preserving
    *    under the UTC session tz every graft entry point pins).
    * Anything else fails loud — a silent mis-read here corrupts every
    * downstream watermark/window. */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"`$tsCol` div 1000")))
      case TimestampType => df
      case TimestampNTZType => df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case other => sys.error(
        s"graft: unsupported dtype $other for event-time column `$tsCol` " +
          "(expected INT64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }

  /** Read the events table with `ts` normalized ([[normalizeTs]]). The
    * nanosAsLong conf the session must carry only affects
    * TIMESTAMP(NANOS) files; it is a no-op for the µs shapes. */
  def readEvents(spark: SparkSession, parquetPath: String): DataFrame = {
    GraftSession.requireNanosAsLong(spark)
    normalizeTs(SourceRegistry.parquet(spark, parquetPath))
  }

  /** File-source stream over the events file with the [[normalizeTs]]
    * event-time normalization applied. */
  private[streaming] def streamEvents(spark: SparkSession, parquetPath: String): DataFrame = {
    GraftSession.requireNanosAsLong(spark)
    normalizeTs(streamParquet(spark, parquetPath, "events_stream"))
  }

  /** File-source stream over one parquet table, a single file or a
    * directory of part files (as `graft.tools.DataGen` writes them). The
    * source monitors a directory: a directory is streamed as it is, a
    * single file through a symlink in its [[stageDir]]. Works for ANY
    * table, not just events. */
  def streamParquet(spark: SparkSession, parquetPath: String,
      label: String): DataFrame = {
    val schema = SourceRegistry.parquet(spark, parquetPath).schema
    val dir =
      if (Files.isDirectory(Paths.get(parquetPath))) Paths.get(parquetPath)
      else {
        val dir = Files.createDirectories(stageDir(spark, parquetPath, label))
        val link = dir.resolve("part-0.parquet")
        // a dangling link (target regenerated/removed) reads as not-exists
        // under follow semantics but still blocks createSymbolicLink —
        // remove it rather than throw FileAlreadyExists
        if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) && !Files.exists(link))
          Files.delete(link)
        if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
          Files.createSymbolicLink(link, Paths.get(parquetPath).toAbsolutePath)
        dir
      }
    spark.readStream.schema(schema).parquet(dir.toString)
  }

  /** `<graft.stream.stageDir>/<key>/<label>`, the key hashing the input's
    * ABSOLUTE path (not the parent dir's basename — two lakes both named
    * "sf1" under different roots would share a directory and the
    * first-created symlink would win for both). The root defaults to the
    * JVM temp dir: library code must not write into a source checkout. */
  private def stageDir(spark: SparkSession, path: String, label: String): Path =
    Paths.get(spark.conf.getOption("graft.stream.stageDir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_stream"), pathKey(path), label)

  private def pathKey(path: String): String =
    f"${Paths.get(path).toAbsolutePath.toString.hashCode & 0x7fffffff}%08x"

  /** Shuffle partitions a streaming query runs with, at most. */
  private val StreamPartitions = 8

  /** Run `f` (a streaming query: plan + start + awaitTermination) with
    * `spark.sql.shuffle.partitions` capped at [[StreamPartitions]],
    * restoring the session value afterwards.
    *
    * Why: stateful micro-batch queries pay O(partitions) PER BATCH in
    * state-store maintenance (each partition keeps an HDFS-backed store
    * with delta/snapshot files committed every batch) and task overhead,
    * AQE is disabled under streaming so nothing coalesces them, and the
    * benched state volumes are KBs — the streaming gates ran 2–3× SLOWER
    * at local[32] (32 state partitions) than at local[8] (st10 9.7 s vs
    * 4.6 s, st06 7.6 s vs 2.6 s). Sizing state partitions to STATE VOLUME
    * rather than core count is the production rule too; a cap derived
    * from the estimated state size is the planned replacement for this
    * constant. Results are partition-count-independent (the determinism
    * sweep asserts layout independence for every gate).
    *
    * Assumes ONE thread starts streaming queries on `spark` at a time:
    * the cap is set on the session-global conf, so a concurrent query
    * on the same session would race on it and could pin the wrong
    * state-partition count into its new checkpoint. */
  private def withStreamShuffle[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val eff = math.min(prev.toInt, StreamPartitions)
    if (eff == prev.toInt) f
    else {
      spark.conf.set(key, eff.toString)
      try f finally spark.conf.set(key, prev)
    }
  }

  /** A drained query: its name (the memory sink's table) and its scratch
    * directory. */
  private[graft] final case class Drained(name: String, dir: String)

  /** The runner every streaming query of the family goes through (its
    * contract is this object's header). `sink` sets the writer's format
    * and options, given the scratch directory (the checkpoint is its
    * `ckpt`); `restarts` is how many times a failed run restarts on that
    * checkpoint; `drainTimeoutMs` bounds the wait for the terminated
    * event of a run with `onProgress`. */
  private[graft] def drain(plan: DataFrame, label: String, path: String, mode: String,
      sink: (DataStreamWriter[Row], String) => DataStreamWriter[Row] =
        (w, _) => w.format("memory"),
      onProgress: StreamingQueryProgress => Unit = null,
      restarts: Int = 0, drainTimeoutMs: Long = 30000L): Drained = {
    val spark = plan.sparkSession
    val run = Drained(s"graft_${label}_${pathKey(path)}", stageDir(spark, path, label).toString)
    spark.streams.active.filter(_.name == run.name).foreach(_.stop())
    FileUtils.deleteDirectory(new java.io.File(run.dir))
    val ended = new LinkedBlockingQueue[UUID]
    val listener = Option(onProgress).map(f => new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      // match on the (unique, pre-start) query NAME, not the id — the id
      // is only known after start() returns, and the async bus can
      // deliver the first progress event before that
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == run.name) f(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.put(e.runId)
    })
    listener.foreach(spark.streams.addListener)
    try withStreamShuffle(spark) {
      val writer = sink(plan.writeStream.queryName(run.name).outputMode(mode)
        .option("checkpointLocation", s"${run.dir}/ckpt"), run.dir)
        .trigger(Trigger.AvailableNow())
      def attempt(left: Int): StreamingQuery = {
        val q = writer.start()
        try { q.awaitTermination(); q }
        catch { case _: StreamingQueryException if left > 0 => attempt(left - 1) }
        finally if (q.isActive) q.stop()
      }
      val q = attempt(restarts)
      // the listener bus is async and every progress event precedes the
      // terminated one: once that arrives, the callback has seen them all
      if (listener.isDefined) {
        val deadline = System.nanoTime + drainTimeoutMs * 1000000L
        while (Option(ended.poll(deadline - System.nanoTime, TimeUnit.NANOSECONDS))
            .getOrElse(throw new TimeoutException(s"streaming query ${run.name}: no " +
              s"terminated event within $drainTimeoutMs ms, its progress totals would be partial"))
            != q.runId) ()
      }
    } finally listener.foreach(spark.streams.removeListener)
    run
  }

  /** [[drain]] into the memory sink; returns the sink's table. */
  private[streaming] def runToMemory(plan: DataFrame, label: String, path: String,
      mode: String): DataFrame =
    plan.sparkSession.table(drain(plan, label, path, mode).name)

  /** Mid-batch crash + restart, the delivery recipe of st17 and st19. The
    * events file is staged as four files read one per micro-batch; each
    * batch stores `perBatch(batch)` in its own `out/batch=<id>` directory
    * (overwrite: the idempotent-foreachBatch sink). On the first run,
    * batch 0 stores `perBatch` of a PARTIAL, non-atomic slice of its rows
    * and then throws — a crash strictly inside a batch, after sink bytes
    * hit disk, before the offset commit. [[drain]] restarts once on the
    * same checkpoint, which replays batch 0 from the write-ahead offset
    * log (identical file set); its overwrite supersedes the partial
    * debris, and the remaining batches drain. Returns every stored row.
    *
    * Delivery contract this pins (COVERAGE "streaming delivery"):
    * at-least-once replay from the WAL + an idempotent sink = exactly
    * once — the contract st10 proves for JDBC upsert under full re-run,
    * here under an injected MID-BATCH failure with partial sink output. */
  private def crashRestart(spark: SparkSession, parquetPath: String, label: String)(
      perBatch: DataFrame => DataFrame): DataFrame = {
    val in = stageDir(spark, parquetPath, s"${label}_in").toString
    SourceRegistry.parquet(spark, parquetPath).repartition(4).write.mode("overwrite").parquet(in)
    val src = spark.readStream.schema(SourceRegistry.parquet(spark, in).schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val injected = new AtomicBoolean(false)
    val stored = drain(src, label, parquetPath, "append", (w, dir) =>
      w.foreachBatch { (df: Dataset[Row], bid: Long) =>
        val batch = s"$dir/out/batch=$bid"
        if (bid == 0L && injected.compareAndSet(false, true)) {
          perBatch(df.filter(pmod(col("event_id"), lit(2)) === 0))
            .write.mode("overwrite").parquet(batch) // partial, then die
          throw new RuntimeException("injected mid-batch crash")
        }
        perBatch(df).write.mode("overwrite").parquet(batch)
      }, restarts = 1).dir + "/out"
    require(injected.get(), "crash injection must have fired")
    SourceRegistry.parquet(spark, stored).drop("batch")
  }

  /** [[crashRestart]] over a per-user aggregate: the read-back
    * (user_id, n, sumv) must equal the plain batch aggregate over the
    * source — no loss (everything arrives despite the crash) and no
    * duplicates (neither the replayed batch nor the partial write
    * double-counts). */
  def runCrashRestartExactlyOnce(spark: SparkSession,
      parquetPath: String): DataFrame =
    crashRestart(spark, parquetPath, "xo")(_.select(col("user_id"), col("value")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sumv"))

  /** STREAMING quantile sketch under an injected mid-batch crash — the
    * bottom-k coordinated sample ([[graft.ops.Sketches]]) composed with
    * the [[crashRestart]] delivery recipe: each micro-batch folds to its
    * own O(groups·k) partial sketch state; the final sketch is the rollup
    * (union-merge) of the stored partials. Because bottom-k state is a
    * pure function of the row SET and closed under union, the rolled-up
    * sketch is BIT-IDENTICAL to a from-scratch build over all rows —
    * regardless of batch boundaries, replay, or the crash's partial
    * (half-batch) sketch, which the restart's full-batch overwrite
    * supersedes. This is the streaming lake pattern: per-batch sketch
    * states persist once; any later scope answers from stored state
    * without re-reading events. Returns the post-crash (scope, n, k, m,
    * q_p50, q_p90) the exact-state oracle restates as a single direct
    * sketch. */
  def runStreamQuantileCrash(spark: SparkSession, parquetPath: String,
      k: Int, salt: String): DataFrame = {
    import graft.ops.Sketches
    val stored = crashRestart(spark, parquetPath, "sqs")(
      Sketches.quantileSketchPerGroup(_, col("event_type"), col("value"), col("event_id"), k, salt))
    Sketches.quantileSketchQuery(
      Sketches.quantileSketchRollup(
        stored.select(col("scope"), col("n"), col("k"), col("qs")), col("scope"), k),
      Seq(("p50", 1, 2), ("p90", 9, 10)))
  }

  /** [[streamingDedup]] streamed into a parquet file sink and read back
    * (file source → watermarked dedup → exactly-once file sink: the
    * full production ingest-to-egress path in one gate). */
  def runDedupToParquetSink(spark: SparkSession, parquetPath: String,
      delay: String, keys: Seq[String]): DataFrame = {
    val out = drain(streamingDedup(streamEvents(spark, parquetPath), "ts", delay, keys),
      "dedup_sink", parquetPath, "append",
      (w, dir) => w.format("parquet").option("path", s"$dir/out")).dir + "/out"
    SourceRegistry.parquet(spark, out)
  }

  /** [[streamingDedup]] run as a real streaming query over the events
    * parquet file; returns the surviving rows. */
  def runStreamingDedupBatch(spark: SparkSession, parquetPath: String,
      delay: String, keys: Seq[String]): DataFrame =
    runToMemory(
      streamingDedup(streamEvents(spark, parquetPath), "ts", delay, keys),
      "dedup", parquetPath, "append")

  def runHourlyStatsBatch(spark: SparkSession, parquetPath: String): DataFrame =
    runToMemory(hourlyStats(streamEvents(spark, parquetPath)),
      "hourly", parquetPath, "complete")

  /** [[sessionize]] (the flatMapGroupsWithState custom-state surface) run
    * as a real streaming query over the events parquet file. A
    * single-file source under AvailableNow is ONE micro-batch (same
    * reasoning as the st03 dedup gate), so every user's events arrive in
    * one group call and the emitted sessions equal the batch
    * gaps-and-islands result — which is exactly what the st05 gate pins
    * against the st02 oracle. */
  def runSessionizeBatch(spark: SparkSession, parquetPath: String,
      gapMinutes: Int): DataFrame =
    runToMemory(
      sessionize(streamEvents(spark, parquetPath), gapMinutes),
      "sess", parquetPath, "append")

  /** Stream-static enrichment (the standard streaming ingest shape): the
    * event stream joins a static dimension table, then aggregates per
    * dimension attribute. Spark plans the static side as a broadcast
    * re-evaluated per micro-batch — no stream-side join state, so state
    * stays bounded regardless of stream length; the aggregation state is
    * one row per dimension value. The value sum goes through
    * decimal(18,6) so it is order-independent (double addition is not
    * associative across partition/batch orders). */
  def enrichedCounts(events: DataFrame, dim: DataFrame, eventKey: Column,
      dimKey: Column, dimAttr: Column): DataFrame =
    events.join(dim.select(dimKey.as("__dim_key"), dimAttr.as("seg")),
        eventKey === col("__dim_key"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sumv"))

  /** [[enrichedCounts]] run as a real streaming query (file source →
    * memory sink): events enriched with the customer dimension
    * (user_id + 1 = c_custkey), counts + value sums per market segment. */
  def runEnrichedCountsBatch(spark: SparkSession, parquetPath: String,
      sfDir: String): DataFrame = {
    val cust = SourceRegistry.parquet(spark, s"$sfDir/customer.parquet")
    runToMemory(
      enrichedCounts(streamEvents(spark, parquetPath), cust,
        col("user_id") + 1, col("c_custkey"), col("c_mktsegment")),
      "enrich", parquetPath, "complete")
  }

  /** Watermarked stream-stream interval join (the attribution shape):
    * each `leftType` event pairs with the same user's `rightType` events
    * in `[l_ts, l_ts + windowMinutes]`. Both inputs carry watermarks and
    * the join condition bounds BOTH event times, so Spark derives a state
    * expiry for each side — buffered rows are dropped once the other
    * side's watermark passes the window, keeping join state
    * O(rows inside window + delay) regardless of stream length. This is
    * the canonical stream-stream join contract: without the two
    * watermarks + two-sided time bound the state grows without bound and
    * a 100 TB stream eventually OOMs every executor. Inner join → append
    * mode; results emit as soon as both sides arrive. */
  def attributionJoin(left: DataFrame, right: DataFrame,
      windowMinutes: Int, delay: String = "1 hour"): DataFrame = {
    val l = left
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", delay)
    val r = right
      .select(col("event_id").as("purchase_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", delay)
    l.join(r, col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("view_id"), col("user_id"), col("purchase_id"),
        unix_micros(col("l_ts")).as("view_us"),
        unix_micros(col("r_ts")).as("purchase_us"))
  }

  /** Left-outer variant of [[attributionJoin]]: unmatched views emit a
    * NULL purchase — but only once the watermark passes their window's
    * end (state expiry is the emission trigger; until then Spark cannot
    * know no purchase is coming). Views whose window has NOT fully
    * passed the final watermark when the stream ends stay buffered and
    * never emit — the fundamental streaming-outer-join contract, which
    * the st07 gate's oracle states explicitly via the same cutoff
    * (global watermark = min of both sides' max event time, minus the
    * delay). */
  def attributionJoinOuter(left: DataFrame, right: DataFrame,
      windowMinutes: Int, delay: String = "1 hour"): DataFrame = {
    val l = left
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", delay)
    val r = right
      .select(col("event_id").as("purchase_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", delay)
    l.join(r, col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
        "left_outer")
      .select(col("view_id"), col("user_id"), col("purchase_id"),
        unix_micros(col("l_ts")).as("view_us"),
        unix_micros(col("r_ts")).as("purchase_us"))
  }

  def runAttributionOuterBatch(spark: SparkSession, parquetPath: String,
      windowMinutes: Int): DataFrame = {
    val ev = streamEvents(spark, parquetPath)
    runToMemory(
      attributionJoinOuter(ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"), windowMinutes),
      "attro", parquetPath, "append")
  }

  /** [[attributionJoin]] run as a real stream-stream self-join over the
    * events parquet file: views joined to purchases of the same user
    * within the window. Both sides read the SAME file-source stream
    * (stream-stream self-join), filtered by event type. */
  def runAttributionBatch(spark: SparkSession, parquetPath: String,
      windowMinutes: Int): DataFrame = {
    val ev = streamEvents(spark, parquetPath)
    runToMemory(
      attributionJoin(ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"), windowMinutes),
      "attr", parquetPath, "append")
  }

  /** Streaming exact dedup: drops rows whose key was already seen, with
    * state bounded by the watermark (duplicates arriving later than the
    * watermark delay may pass — the deliberate state/recall trade every
    * streaming dedup makes). Batch twin: [[graft.ops.Dedup.exact]]. */
  def streamingDedup(events: DataFrame, tsCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Batch sessionization as a declarative gaps-and-islands window plan:
    * lag → session-break flag → cumulative session id → groupBy. Each
    * step is a per-user window (Spark's sort-based window spills to disk)
    * or a hash aggregate, so per-user state is bounded — a 10⁷-event
    * power user sorts externally instead of materializing in one task's
    * heap (the failure mode of the flatMapGroupsWithState formulation at
    * 100 TB). Gap comparisons are in microseconds (the events table's
    * native precision). Returns (user_id, start, end, n_events). */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events.select(col("user_id"), col("ts"))
      .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sess", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(col("ts")).as("start"), max(col("ts")).as("end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("start"), col("end"), col("n_events"))
  }

  /** Sessionization with typed state: gap-based sessions per user via
    * flatMapGroupsWithState — the custom-state surface
    * (KeyValueGroupedDataset) for TRUE STREAMING use (extend with
    * GroupStateTimeout to emit sessions as watermarks pass). For batch
    * data use [[sessionizeBatch]]: this formulation materializes each
    * user's full event list in executor memory, which is fine per
    * micro-batch but not for an unbounded batch group. */
  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class Session(user_id: Long, start: java.sql.Timestamp,
      end: java.sql.Timestamp, n_events: Long)

  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60000000L
    // gap comparisons in MICROSECONDS (the events table's native
    // precision, and what sessionizeBatch/the st02+st05 oracles use) —
    // Timestamp.getTime alone truncates to ms and mis-classifies gaps
    // that straddle the threshold by under a millisecond
    def tsUs(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val typed = events.select(col("user_id"), col("ts"), col("event_type")).as[Event]
    // batch path: sort per user in-state; streaming path would use timeouts
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Event], Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[List[Event]]) =>
          val evs = it.toList.sortBy(e => tsUs(e.ts))
          val sessions = scala.collection.mutable.ListBuffer.empty[Session]
          var cur = List.empty[Event]
          for (e <- evs) {
            if (cur.nonEmpty && tsUs(e.ts) - tsUs(cur.last.ts) > gapUs) {
              sessions += Session(uid, cur.head.ts, cur.last.ts, cur.size.toLong)
              cur = List(e)
            } else cur = cur :+ e
          }
          if (cur.nonEmpty)
            sessions += Session(uid, cur.head.ts, cur.last.ts, cur.size.toLong)
          sessions.iterator
      }.toDF()
  }

  /** Streaming observability — the streaming twin of the a09 batch
    * Observation gate: `observe` attaches per-micro-batch quality
    * metrics (row count, user_id completeness, out-of-range count) to a
    * running ingest query at ZERO extra passes (the metrics are
    * aggregated inside the existing scan), and the monitor reads them
    * from the progress stream. This is how a 100 TB/day ingest watches
    * its own health without a second job. Returns the run-total metric
    * row summed across micro-batches.
    *
    * Metrics are summed from every progress event ([[drain]]'s
    * `onProgress`), NOT read from `q.recentProgress` after termination —
    * that is a bounded ring buffer
    * (`spark.sql.streaming.numRecentProgressUpdates`, default 100), so a
    * run with more micro-batches would silently drop the earliest
    * batches from a "run-total". */
  def runObservedQuality(spark: SparkSession, parquetPath: String): DataFrame = {
    import spark.implicits._
    val plan = streamParquet(spark, parquetPath, "obsq")
      .observe("dq",
        count(lit(1)).as("n_rows"),
        count(col("user_id")).as("n_user"),
        sum(when(col("value") > 75.0, 1L).otherwise(0L)).as("n_high"))
      .select(lit(1).as("one"))
    val nr = new AtomicLong(0L)
    val nu = new AtomicLong(0L)
    val nh = new AtomicLong(0L)
    drain(plan, "obs", parquetPath, "append", onProgress = p =>
      Option(p.observedMetrics.get("dq")).foreach { r =>
        nr.addAndGet(r.getAs[Long]("n_rows"))
        nu.addAndGet(r.getAs[Long]("n_user"))
        nh.addAndGet(r.getAs[Long]("n_high"))
      })
    Seq((nr.get(), nu.get(), nh.get())).toDF("n_rows", "n_user", "n_high")
  }

  /** Late-data accounting for a watermarked streaming aggregation: run a
    * windowed count over `stagingDir` one FILE per micro-batch
    * (maxFilesPerTrigger=1 under AvailableNow — the file order, by
    * modification time then path, IS the event-time replay order) and
    * report how many input rows the watermark dropped — the metric that
    * tells a 100 TB/day ingest whether its allowed-lateness budget is
    * silently discarding data, read from each batch's state-operator
    * progress (the same every-micro-batch guarantee as
    * [[runObservedQuality]]).
    *
    * Semantics under test (both empirically pinned by the st16 gate):
    * the watermark gating batch N is the one COMMITTED after batch N−1
    * — and that commit carries batch N−2's event-time high mark, so a
    * late row is only dropped from the second batch after the one that
    * outran it (lateness is a cross-batch property twice over). And for
    * an AGGREGATION the drop unit is the post-map-side-combine GROUP,
    * not the input row — two late rows in one window count once
    * (per-row accounting needs a row-level stateful op, e.g. a
    * dropDuplicates audit). Output: one row (n_input,
    * n_late_groups_dropped). */
  def runLateDropAudit(spark: SparkSession, stagingDir: String,
      delay: String, windowLen: String): DataFrame = {
    import spark.implicits._
    val plan = spark.readStream.schema(SourceRegistry.parquet(spark, stagingDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(stagingDir)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen)).count()
    val nIn = new AtomicLong(0L)
    val nDrop = new AtomicLong(0L)
    drain(plan, "latedrop", stagingDir, "update", onProgress = p => {
      nIn.addAndGet(p.numInputRows)
      p.stateOperators.foreach(op => nDrop.addAndGet(op.numRowsDroppedByWatermark))
    })
    Seq((nIn.get(), nDrop.get())).toDF("n_input", "n_late_groups_dropped")
  }
}
