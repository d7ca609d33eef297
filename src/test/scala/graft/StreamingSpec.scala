package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Watermark semantics of the streaming hourly aggregation: windows emit
  * (append mode) once the watermark passes, and data later than the
  * watermark is dropped — bounded state at any scale. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[2]", 2).getOrCreate()

  private def ts(hour: Int, min: Int = 0) =
    java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:$min%02d:00")

  test("append-mode hourly windows finalize at the watermark; late rows drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = ms.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.hourlyStats(events).writeStream
      .format("memory").queryName("wmtest").outputMode("append").start()
    try {
      // batch 1: two events in hour 0, one in hour 5 (advances the watermark
      // to 03:00 at batch end)
      ms.addData((ts(0, 10), "click", 1.0), (ts(0, 20), "click", 2.0), (ts(5), "view", 1.0))
      q.processAllAvailable()
      // batch 2: trigger emission under the new watermark — hour-0 closes
      ms.addData((ts(5, 30), "view", 1.0))
      q.processAllAvailable()
      val afterClose = spark.table("wmtest")
        .filter("bucket = " + ts(0).getTime / 1000).collect()
      assert(afterClose.length == 1)
      assert(afterClose.head.getAs[Long]("n") == 2)

      // batch 3: a LATE hour-0 event (far behind the 03:00 watermark) +
      // a fresh event; the late row must not reopen or change the window
      ms.addData((ts(0, 40), "click", 99.0), (ts(6), "view", 1.0))
      q.processAllAvailable()
      ms.addData((ts(9), "view", 1.0)) // advance again to flush anything pending
      q.processAllAvailable()
      val afterLate = spark.table("wmtest")
        .filter("bucket = " + ts(0).getTime / 1000).collect()
      assert(afterLate.length == 1, "late data must not re-emit the closed window")
      assert(afterLate.head.getAs[Long]("n") == 2, "late row must be dropped")
    } finally q.stop()
  }

  test("stream-static enrichment accumulates across micro-batches, no stream state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "A"), (2L, "B")).toDF("k", "segname")
    val ms = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = ms.toDF().toDF("ts", "user_id", "value")
    val enriched = EventStreams.enrichedCounts(events, dim,
      org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("k"),
      org.apache.spark.sql.functions.col("segname"))
    val q = enriched.writeStream.format("memory")
      .queryName("enrichtest").outputMode("complete").start()
    try {
      ms.addData((ts(1), 1L, 1.5), (ts(1, 5), 2L, 2.0), (ts(1, 10), 3L, 9.0))
      q.processAllAvailable()
      ms.addData((ts(2), 1L, 0.5)) // second micro-batch joins the same dim
      q.processAllAvailable()
      val got = spark.table("enrichtest")
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
      // user 3 has no dim row (inner join drops it); sums span batches
      assert(got == Seq(("A", 2L, 2.0), ("B", 1L, 2.0)))
    } finally q.stop()
  }

  test("streaming dedup drops in-watermark duplicates across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val deduped = EventStreams.streamingDedup(
      ms.toDF().toDF("ts", "doc_id"), "ts", "1 hour", Seq("doc_id"))
    val q = deduped.writeStream.format("memory")
      .queryName("deduptest").outputMode("append").start()
    try {
      ms.addData((ts(1), 10L), (ts(1, 5), 10L), (ts(1, 10), 11L))
      q.processAllAvailable()
      ms.addData((ts(1, 20), 10L), (ts(1, 30), 12L)) // 10 again, in-watermark
      q.processAllAvailable()
      val ids = spark.table("deduptest").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(10L, 11L, 12L))
    } finally q.stop()
  }

  test("checkpoint restart: dedup state survives stop/start; file source resumes exactly-once") {
    // the fault-tolerance story a 100 TB deployment actually relies on:
    // a NEW query instance on the SAME checkpoint must recover the
    // dedup state store (a post-restart duplicate still drops) and the
    // file-source offset log (batch-1 files are not re-ingested)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toFile
    val in = s"$root/in"; val ck = s"$root/ck"; val out = s"$root/out"
    Seq((ts(1), 10L), (ts(1, 10), 11L)).toDF("ts", "doc_id")
      .write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def start() = {
      val src = spark.readStream.schema(schema).parquet(in)
      EventStreams.streamingDedup(src, "ts", "1 hour", Seq("doc_id"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
    }
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 2, "batch 1 emits both ids")
    Seq((ts(1, 20), 10L), (ts(1, 30), 12L)).toDF("ts", "doc_id")
      .write.mode("append").parquet(in)
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val ids = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(10L, 11L, 12L),
      s"recovered state must drop the post-restart duplicate of 10, got $ids")
  }

  test("mid-batch crash + restart converges to exactly-once (injected failure)") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val sf = "/root/testdata/sf0.001"
    val got = EventStreams.runCrashRestartExactlyOnce(spark, s"$sf/events.parquet")
    val want = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)))
          .cast("double").as("sumv"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "post-crash sink must equal the batch aggregate exactly")
  }

  test("runner: back-to-back crash-restart runs leave no more scratch than one run") {
    import java.nio.file.{Files, Path}
    import spark.implicits._
    val events = Files.createTempDirectory("graft_events_spec").resolve("events.parquet").toString
    (1L to 40L).map(i => (i, ts((i % 20).toInt), i % 7, 1.5 * i))
      .toDF("event_id", "ts", "user_id", "value").write.parquet(events)
    val stage = Files.createTempDirectory("graft_stage_spec")
    def dirs(p: Path): Long = {
      val s = Files.walk(p)
      try s.filter(Files.isDirectory(_)).count() finally s.close()
    }
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def scratch = dirs(stage) + tmp.listFiles().count(_.getName.startsWith("graft_"))
    spark.conf.set("graft.stream.stageDir", stage.toString)
    try {
      EventStreams.runCrashRestartExactlyOnce(spark, events).collect()
      val once = scratch
      EventStreams.runCrashRestartExactlyOnce(spark, events).collect()
      assert(scratch == once, "the second run left scratch directories of its own")
    } finally spark.conf.unset("graft.stream.stageDir")
  }

  /** A one-file parquet input for the runner's failure-path specs. */
  private def tinyInput(): (org.apache.spark.sql.DataFrame, String) = {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_runner_spec").resolve("in").toString
    Seq((ts(1), 1L), (ts(2), 2L)).toDF("ts", "v").write.parquet(in)
    (spark.readStream.schema(spark.read.parquet(in).schema).parquet(in), in)
  }

  test("runner: a throwing batch propagates; no query, listener or shuffle cap is left behind") {
    import org.apache.spark.sql.{Dataset, Row}
    val (src, in) = tinyInput()
    val key = "spark.sql.shuffle.partitions"
    val listeners = spark.streams.listListeners().length
    val boom = new IllegalStateException("batch failed")
    spark.conf.set(key, "16") // above the stream cap, so the runner lowers it
    try {
      val e = intercept[Exception] {
        EventStreams.drain(src, "fail_spec", in, "append",
          (w, _) => w.foreachBatch { (_: Dataset[Row], _: Long) => throw boom },
          onProgress = _ => ())
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).contains(boom),
        s"the batch's exception must reach the caller, got $e")
      assert(spark.streams.active.isEmpty)
      assert(spark.streams.listListeners().length == listeners)
      assert(spark.conf.get(key) == "16")
    } finally spark.conf.set(key, "2")
  }

  test("runner: a progress run whose terminated event is late throws instead of partial totals") {
    val (src, in) = tinyInput()
    val listeners = spark.streams.listListeners().length
    // a slow progress callback holds the terminated event behind it on
    // the listener bus, past the 100 ms bound
    val e = intercept[java.util.concurrent.TimeoutException] {
      EventStreams.drain(src, "late_spec", in, "append",
        onProgress = _ => Thread.sleep(3000), drainTimeoutMs = 100)
    }
    assert(e.getMessage.contains("graft_late_spec_"), e.getMessage)
    assert(spark.streams.active.isEmpty)
    assert(spark.streams.listListeners().length == listeners)
  }

  test("flatMapGroupsWithState sessionize under AvailableNow equals the batch window plan") {
    // the st05 gate's in-repo twin: one micro-batch over the single-file
    // source means every user's history reaches one group call, so the
    // custom-state path must reproduce the gaps-and-islands result row
    // for row — including sub-millisecond gap boundaries (the events
    // table carries microsecond noise; ms-truncated comparisons diverge)
    import org.apache.spark.sql.functions.{col, unix_micros}
    val sf = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), unix_micros(col("start")).as("s"),
          unix_micros(col("end")).as("e"), col("n_events"))
        .collect().map(_.toSeq).toSet
    val streamed = canon(EventStreams.runSessionizeBatch(
      spark, s"$sf/events.parquet", gapMinutes = 30))
    val batch = canon(EventStreams.sessionizeBatch(
      EventStreams.readEvents(spark, s"$sf/events.parquet"), gapMinutes = 30))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-stream attribution join pairs within the window; expired state drops late matches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lms = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val rms = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = EventStreams.attributionJoin(
      lms.toDF().toDF("event_id", "user_id", "ts"),
      rms.toDF().toDF("event_id", "user_id", "ts"),
      windowMinutes = 30, delay = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrtest")
      .outputMode("append").start()
    try {
      // view at 00:00 (user 1); purchases at 00:10 (inside the 30-min
      // window) and 01:30 (outside) — only the first pairs
      lms.addData((100L, 1L, ts(0, 0)))
      rms.addData((200L, 1L, ts(0, 10)), (201L, 1L, ts(1, 30)))
      q.processAllAvailable()
      val got = spark.table("attrtest").select("view_id", "purchase_id")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((100L, 200L)))
      // advance both watermarks to ~02:50 — far past the view's state
      // lifetime (l_ts + 30-min window + 10-min delay = 00:40)
      lms.addData((101L, 9L, ts(3, 0)))
      rms.addData((202L, 9L, ts(3, 0)))
      q.processAllAvailable()
      // a late purchase inside the ORIGINAL window arrives after the view
      // row's join state expired — bounded state means no pair can form
      rms.addData((203L, 1L, ts(0, 20)))
      q.processAllAvailable()
      val late = spark.table("attrtest").select("purchase_id").as[Long].collect().toSet
      assert(late.contains(202L), "in-window same-batch pair must emit")
      assert(!late.contains(203L), "late purchase joined expired view state")
    } finally q.stop()
  }

  test("outer stream-stream join: nulls emit only at state expiry, tail views stay buffered") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lms = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val rms = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = EventStreams.attributionJoinOuter(
      lms.toDF().toDF("event_id", "user_id", "ts"),
      rms.toDF().toDF("event_id", "user_id", "ts"),
      windowMinutes = 30, delay = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrouter")
      .outputMode("append").start()
    try {
      // matched view (00:00 → purchase 00:10) and unmatched view (00:05)
      lms.addData((100L, 1L, ts(0, 0)), (101L, 2L, ts(0, 5)))
      rms.addData((200L, 1L, ts(0, 10)))
      q.processAllAvailable()
      def rows() = spark.table("attrouter")
        .select("view_id", "purchase_id").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      // the unmatched view must NOT have emitted yet: a null result
      // before its window passes would be retracted by a later purchase
      val early = rows()
      assert(early.get(100L).flatten.contains(200L))
      assert(!early.contains(101L),
        "null must not emit while a matching purchase could still arrive")
      // advance both watermarks past 00:05 + 30 min + 10 min delay
      lms.addData((102L, 9L, ts(2, 0)))
      rms.addData((201L, 9L, ts(2, 0)))
      q.processAllAvailable()
      val late = rows()
      assert(late.get(101L).exists(_.isEmpty),
        "expired unmatched view emits exactly one null row")
      // the 02:00 view pairs inner; its own null can never ALSO appear
      assert(late.get(102L).flatten.contains(201L))
    } finally q.stop()
  }

  test("normalizeTs maps all three physical ts shapes to the same TimestampType values") {
    // round-9 regression class: the testdata's events.ts silently changed
    // from INT64 TIMESTAMP(NANOS) to TIMESTAMP(MICROS, NTZ) and every
    // streaming gate threw. The reader contract is: long-nanos,
    // TIMESTAMP, and TIMESTAMP_NTZ all land on identical µs-precision
    // TimestampType values; anything else fails loud.
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    import org.apache.spark.sql.types.TimestampType
    val us = 1704103200123456L // 2024-01-01 10:00:00.123456 UTC, µs
    val asLong = spark.range(1).select(expr(s"${us}L * 1000").as("ts")) // nanos
    val asTs = spark.range(1).select(expr(s"timestamp_micros(${us}L)").as("ts"))
    val asNtz = spark.range(1).select(
      expr(s"cast(timestamp_micros(${us}L) as timestamp_ntz)").as("ts"))
    val outs = Seq(asLong, asTs, asNtz).map(EventStreams.normalizeTs(_))
    for (o <- outs) {
      assert(o.schema("ts").dataType == TimestampType)
      assert(o.select(unix_micros(col("ts"))).head().getLong(0) == us)
    }
    val bad = spark.range(1).select(col("id").cast("string").as("ts"))
    val e = intercept[RuntimeException](EventStreams.normalizeTs(bad))
    assert(e.getMessage.contains("unsupported dtype"))
  }

  test("streaming distinct-user sketch merges across micro-batches; duplicates don't inflate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val events = ms.toDF().toDF("ts", "user_id")
    val q = EventStreams.hourlyDistinctUsers(events).writeStream
      .format("memory").queryName("hdu_test").outputMode("complete").start()
    try {
      ms.addData((ts(0, 5), 1L), (ts(0, 10), 2L), (ts(0, 15), 1L))
      q.processAllAvailable()
      ms.addData((ts(0, 20), 2L), (ts(0, 25), 3L)) // user 2 repeats cross-batch
      q.processAllAvailable()
      val got = spark.table("hdu_test").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // 3 distinct users in hour 0; HLL++ is exact at this cardinality,
      // and the cross-batch repeat of user 2 must not inflate the count
      assert(got(ts(0).getTime / 1000) == 3L, s"got $got")
    } finally q.stop()
  }

  test("streaming KMV sketch: cross-batch bottom-k state equals the batch sketch exactly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    val events = ms.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStreams.kmvDistinctPerType(events, k = 8, salt = "kst")
      .writeStream.format("memory").queryName("kmv_test")
      .outputMode("complete").start()
    try {
      // 20 users across 2 micro-batches, with cross-batch repeats
      ms.addData((0 until 12).map(i => (ts(0, i), i.toLong, "click")): _*)
      q.processAllAvailable()
      ms.addData((8 until 20).map(i => (ts(0, i % 60), i.toLong, "click")): _*)
      q.processAllAvailable()
      val got = spark.table("kmv_test")
        .as[(String, Int, Long, Option[Long], Long)].collect().toSeq
      // the streaming state must equal the batch sketch over the union
      // (including the carried k column)
      val batch = graft.ops.Sketches.kmvDistinctPerGroup(
        (0 until 20).map(i => (i.toLong, "click")).toDF("user_id", "event_type"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("user_id"), k = 8, salt = "kst")
        .as[(String, Int, Long, Option[Long], Long)].collect().toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.head._2 == 8 && got.head._3 == 8, "sketch saturated at k")
    } finally q.stop()
  }

  test("streaming anomalies: cross-batch state; latest emission equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val events = ms.toDF().toDF("ts", "event_type")
    val q = EventStreams.streamingAnomalies(events, window = 3).writeStream
      .format("memory").queryName("anom_test").outputMode("append").start()
    try {
      // batch 1: hours 0..2, one event each
      ms.addData((ts(0, 1), "x"), (ts(1, 1), "x"), (ts(2, 1), "x"))
      q.processAllAvailable()
      // batch 2: hour 3 gets a 5-event spike — its trailing window spans
      // BATCH-1 state
      ms.addData((1 to 5).map(m => (ts(3, m), "x")): _*)
      q.processAllAvailable()
      val latest = spark.table("anom_test")
        .groupBy(org.apache.spark.sql.functions.col("etype"),
          org.apache.spark.sql.functions.col("bucket"))
        .agg(org.apache.spark.sql.functions.last(
            org.apache.spark.sql.functions.col("n_events")).as("n"),
          org.apache.spark.sql.functions.last(
            org.apache.spark.sql.functions.col("z")).as("z"))
        .collect().map(r => r.getLong(1) -> (r.getLong(2), Option(r.get(3)))).toMap
      val h0 = ts(0).getTime / 3600000L
      assert(latest(h0 + 3)._1 == 5)
      // trailing counts (1,1,1): zero variance → z null by contract; the
      // batch operator on the SAME data must agree row-for-row
      val batch = graft.ops.EventAnalytics.hourlyAnomalies(
        (Seq((ts(0, 1), "x"), (ts(1, 1), "x"), (ts(2, 1), "x")) ++
          (1 to 5).map(m => (ts(3, m), "x"))).toDF("ts", "event_type"),
        org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.col("event_type"), window = 3)
        .collect().map(r => r.getLong(1) -> (r.getLong(2), Option(r.get(3)))).toMap
      assert(latest == batch, s"stream $latest vs batch $batch")
    } finally q.stop()
  }

  test("streaming near-dup pairs a late arrival against state from earlier micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().toDF("doc_id", "text")
    val q = graft.streaming.CorpusStreams.nearDupCandidatesPlan(docs, n = 3)
      .writeStream.format("memory").queryName("nd_state").outputMode("append").start()
    try {
      val dup = "the quick brown fox jumps over the lazy dog tonight again"
      ms.addData((1L, dup),
        (2L, "spark executors shuffle partitions across the cluster memory fabric"))
      q.processAllAvailable()
      assert(spark.table("nd_state").collect().isEmpty) // nothing similar yet
      ms.addData((3L, dup)) // near-dup of doc 1, LATER micro-batch
      q.processAllAvailable()
      val pairs = spark.table("nd_state").select("id_a", "id_b")
        .distinct().as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 3L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming near-dup hot-bucket cap: beyond maxBucket new members neither pair nor enter state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().toDF("doc_id", "text")
    val q = graft.streaming.CorpusStreams
      .nearDupCandidatesPlan(docs, n = 3, maxBucket = 2)
      .writeStream.format("memory").queryName("nd_cap").outputMode("append").start()
    try {
      val dup = "one single template sentence repeated across every document here"
      ms.addData((1L, dup), (2L, dup), (3L, dup))
      q.processAllAvailable()
      val b1 = spark.table("nd_cap").select("id_a", "id_b")
        .distinct().as[(Long, Long)].collect().toSet
      assert(b1 == Set((1L, 2L)), s"cap at 2 must admit only docs 1 and 2: $b1")
      ms.addData((4L, dup)) // bucket already full: no pairs, no state growth
      q.processAllAvailable()
      val b2 = spark.table("nd_cap").select("id_a", "id_b")
        .distinct().as[(Long, Long)].collect().toSet
      assert(b2 == Set((1L, 2L)), s"full bucket must not admit doc 4: $b2")
    } finally q.stop()
  }
}
