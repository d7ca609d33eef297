package graft

import graft.ops.{EventAnalytics, Graph, Pipeline, Retrieval}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 corpus-pipeline additions: BM25 retrieval + inverted index,
  * triangle counting, time-grid resample/ffill, winsorization, dense
  * dictionaries, and the deterministic train/val/test split. */
class RetrievalSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  import spark.implicits._

  // ---- BM25 -------------------------------------------------------------

  test("bm25Scores matches the hand-computed Okapi formula on a tiny corpus") {
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "b b b")).toDF("doc_id", "text")
    val got = Retrieval.bm25Scores(docs, col("doc_id"), col("text"), Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference computation, independent of the op's column expressions
    val n = 3.0; val avgdl = (3.0 + 2.0 + 3.0) / 3.0
    def idf(df: Double) = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def tfc(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val expected = Map(
      1L -> r4(r4(idf(2) * tfc(2, 3)) + r4(idf(2) * tfc(1, 3))), // a:2, b:1
      2L -> r4(r4(idf(2) * tfc(1, 2))),                          // a:1
      3L -> r4(r4(idf(2) * tfc(3, 3))))                          // b:3
    assert(got == expected)
  }

  test("bm25TopK is deterministic and plans as TakeOrderedAndProject") {
    val docs = (1L to 50L).map(i => (i, s"a ${"b " * (i % 5).toInt}")).toDF("doc_id", "text")
    val top = Retrieval.bm25TopK(docs, col("doc_id"), col("text"), Seq("b"), k = 5)
    assert(top.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    val rows = top.collect()
    assert(rows.length == 5)
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("bm25 document-frequency join broadcasts; no sort-merge join in the plan") {
    val docs = (1L to 50L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val p = Retrieval.bm25Scores(docs, col("doc_id"), col("text"), Seq("a", "b"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("bm25BatchTopK: per-query ranks agree with single-query scoring; broadcast-only joins") {
    val docs = Seq((1L, "a a b"), (2L, "a c c"), (3L, "b b c"), (4L, "d d"))
      .toDF("doc_id", "text")
    val queries = Seq((10, "a"), (10, "b"), (20, "c")).toDF("qid", "term")
    val batch = Retrieval.bm25BatchTopK(docs, col("doc_id"), col("text"),
      queries, k = 2)
    val rows = batch.collect()
      .map(r => (r.getInt(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    // each query's ranked docs must equal the single-query path's scores
    for ((qid, terms) <- Seq(10 -> Seq("a", "b"), 20 -> Seq("c"))) {
      val single = Retrieval.bm25Scores(docs, col("doc_id"), col("text"), terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      for (rk <- 1 to 2) {
        val (docId, score) = rows((qid, rk))
        assert(single(docId) == score, s"qid $qid rank $rk")
      }
      val (top, _) = rows((qid, 1))
      assert(single(top) == single.values.max)
    }
    // query table and term stats are result-sized: no sort-merge join
    val plan = batch.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  // ---- inverted index ----------------------------------------------------

  test("invertedIndex postings are doc_id-sorted, df/total_tf consistent, cap works") {
    val docs = Seq((3L, "x y x"), (1L, "x"), (2L, "y x")).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(docs, col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[org.apache.spark.sql.Row](3).map(p => (p.getLong(0), p.getLong(1)))))
      .sortBy(_._1)
    assert(idx.map(_._1).toSeq == Seq("x", "y"))
    val x = idx(0)
    assert(x._2 == 3 && x._3 == 4) // df=3 docs, total_tf=4 instances
    assert(x._4 == Seq((1L, 1L), (2L, 1L), (3L, 2L))) // sorted by doc_id
    val capped = Retrieval.invertedIndex(docs, col("doc_id"), col("text"),
      maxPostings = 2).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](3).size).toMap
    assert(capped("x") == 2 && capped("y") == 2)
  }

  test("probePostings round-trips the index back to flat (term, doc_id, tf)") {
    val docs = Seq((1L, "x y"), (2L, "y y")).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(docs, col("doc_id"), col("text"))
    val got = Retrieval.probePostings(idx, Seq("y")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("y", 1L, 1L), ("y", 2L, 2L)))
  }

  // ---- triangles ---------------------------------------------------------

  test("triangleCounts: planted triangle + tail; duplicates, reversals, self-loops ignored") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), // triangle
      (3L, 4L), (4L, 5L),                         // tail, no triangle
      (2L, 1L), (1L, 1L), (1L, 2L))               // reversal, self-loop, dup
      .toDF("s", "d")
    val got = Graph.triangleCounts(edges, col("s"), col("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts on K5: every node sits in C(4,2)=6 triangles") {
    val nodes = 1L to 5L
    val edges = (for (u <- nodes; v <- nodes if u < v) yield (u, v)).toDF("s", "d")
    val got = Graph.triangleCounts(edges, col("s"), col("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == nodes.map(_ -> 6L).toMap)
  }

  // ---- resample + ffill --------------------------------------------------

  test("resampleFfill fills gaps forward, flags observed buckets, breaks ts ties deterministically") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:20:00") // same bucket, later
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 02:30:00")
    val ev = Seq(("a", t0, 1.0, 10L), ("a", t1, 2.0, 11L), ("a", t1, 99.0, 12L),
      ("a", t2, 3.0, 13L)).toDF("k", "ts", "v", "id")
    val got = EventAnalytics.resampleFfill(ev, col("k"), col("ts"), col("v"),
        col("id"), stepSeconds = 3600L)
      .orderBy(col("grid_ts")).collect()
      .map(r => (r.getTimestamp(1).toString, r.getDouble(2), r.getBoolean(3)))
    assert(got.length == 3) // buckets 00:00, 01:00, 02:00
    assert(got(0) == ("2024-01-01 00:00:00.0", 99.0, true)) // tie → max tieBreak
    assert(got(1) == ("2024-01-01 01:00:00.0", 99.0, false)) // forward-filled
    assert(got(2) == ("2024-01-01 02:00:00.0", 3.0, true))
  }

  test("resampleFfill plans exactly one real Exchange (the key repartition)") {
    val ev = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1.0, 1L))
      .toDF("k", "ts", "v", "id")
    val plan = EventAnalytics.resampleFfill(ev, col("k"), col("ts"), col("v"),
      col("id")).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    val reused = plan.contains("ReusedExchange")
    assert(exchanges <= (if (reused) 1 else 2),
      s"resample shuffles more than the one key partition:\n$plan")
  }

  // ---- winsorize ---------------------------------------------------------

  test("winsorize clips to exact interpolated group quantiles") {
    val df = (1 to 20).map(i => ("g", i.toDouble)).toDF("grp", "x")
    val got = Pipeline.winsorize(df, col("grp"), col("x"), lo = 0.05, hi = 0.95)
      .select(col("x"), col("clipped")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // percentile over 1..20: p05 = 1.95, p95 = 19.05 (linear interpolation)
    assert(got(1.0) == 1.95 && got(20.0) == 19.05)
    assert(got(10.0) == 10.0 && got(2.0) == 2.0 && got(19.0) == 19.0)
  }

  // ---- hourly anomalies --------------------------------------------------

  test("hourlyAnomalies flags a planted spike; zero hours densify into the trailing stats") {
    import graft.ops.EventAnalytics
    def t(h: Int, m: Int = 0) = java.sql.Timestamp.from(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").toInstant
        .plusSeconds(h * 3600L + m * 60L))
    // steady 2 events/hour for hours 0..23 — except hour 5 is EMPTY
    // (densified zero) — then a 40-event spike at hour 24
    val rows = (0 to 23).filterNot(_ == 5).flatMap(h =>
      Seq((t(h, 1), "x"), (t(h, 2), "x"))) ++
      (1 to 40).map(m => (t(24, m), "x"))
    val got = EventAnalytics.hourlyAnomalies(rows.toDF("ts", "etype"),
        col("ts"), col("etype"), window = 24)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 3600000L
    assert(got(h0 + 5)._1 == 0)              // densified zero hour exists
    assert(got(h0)._2.isEmpty)               // no trailing window yet
    val (spikeN, spikeZ) = got(h0 + 24)
    assert(spikeN == 40 && spikeZ.exists(_ > 10.0), s"spike z = $spikeZ")
    // exact expectation: trailing counts are 23×2 and 1×0 → μ = 46/24,
    // σ² = (Σc²·n − (Σc)²)/(n(n−1)) ... restate the op's own formula
    val (n, s, ss) = (24.0, 46.0, 92.0)
    val z = math.floor((40 - s / n) / math.sqrt((ss - s * s / n) / (n - 1))
      * 10000 + 0.5) / 10000
    assert(spikeZ.contains(z))
  }

  // ---- z-score -----------------------------------------------------------

  test("zscoreByGroup: exact-moment z; degenerate groups null out; partitioning-independent") {
    import graft.ops.Pipeline
    val df = Seq(("a", 2L), ("a", 4L), ("a", 6L), ("b", 5L), ("c", 7L), ("c", 7L))
      .toDF("g", "x")
    def run(d: org.apache.spark.sql.DataFrame) =
      Pipeline.zscoreByGroup(d, col("g"), col("x")).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val got = run(df)
    // group a: μ=4, σ=2 → z ∈ {−1, 0, 1}
    assert(got(("a", 2L)) == Some(-1.0) && got(("a", 4L)) == Some(0.0)
      && got(("a", 6L)) == Some(1.0))
    assert(got(("b", 5L)).isEmpty)       // n < 2
    assert(got(("c", 7L)).isEmpty)       // zero variance
    assert(run(df.repartition(7)) == got) // order/partitioning-independent
  }

  // ---- dictionary --------------------------------------------------------

  test("dictionary assigns dense 0-based ids in value order; encode joins them back") {
    val df = Seq("pear", "apple", "pear", "fig", null).toDF("w")
    val dict = Pipeline.dictionary(df, col("w"))
    val d = dict.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d == Map("apple" -> 0L, "fig" -> 1L, "pear" -> 2L))
    val enc = Pipeline.dictEncode(df, col("w"), dict).collect()
      .map(r => Option(r.getString(0)) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(enc == Set(Some("pear") -> 2L, Some("apple") -> 0L,
      Some("fig") -> 1L, None -> -1L))
  }

  test("dictionary ids stay dense and ordered across many partitions") {
    val df = spark.range(1000).select(concat(lit("v"),
      format_string("%04d", (col("id") * 7919) % 1000)).as("w")).repartition(8)
    val d = Pipeline.dictionary(df, col("w")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._2)
    assert(d.length == 1000)
    assert(d.map(_._2).toSeq == (0L until 1000L))
    assert(d.map(_._1).toSeq == d.map(_._1).sorted.toSeq)
  }

  // ---- PCM audio ---------------------------------------------------------

  test("audioFrames decodes s16le bytes exactly: closed-form samples, ragged tail frame") {
    import graft.ops.Multimodal
    val docs = Seq(1L, 65L).toDF("doc_id")
    val got = Multimodal.audioFrames(Multimodal.audioFromDocuments(docs), frameLen = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    def sample(id: Long, i: Int): Long = ((id * 31 + i * 7919L) % 65536L) - 32768L
    // doc 1: 65 samples → frames 0..4, last frame 1 sample
    val n1 = 64 + 1 % 128
    assert(n1 == 65)
    for (f <- 0 to 4) {
      val idxs = (f * 16 until math.min((f + 1) * 16, 65))
      val expect = (idxs.size.toLong, idxs.map(i => math.abs(sample(1L, i))).sum)
      assert(got((1L, f)) == expect, s"frame $f")
    }
    assert(got((1L, 4))._1 == 1) // ragged tail
    // doc 65: 129 samples → 9 frames
    assert(got.keys.count(_._1 == 65L) == 9)
  }

  // ---- lake maintenance --------------------------------------------------

  test("mergeUpsert applies updates, deletes keys outright, rejects schema drift") {
    import graft.ops.LakeOps
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val ups = Seq((2L, "b2", false), (3L, "x", true), (4L, "d", false))
      .toDF("k", "v", "del")
    val got = LakeOps.mergeUpsert(base, ups, "k", Some("del")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 4L -> "d")) // 3 deleted
    intercept[IllegalArgumentException] {
      LakeOps.mergeUpsert(base, ups.withColumnRenamed("v", "w"), "k", Some("del"))
    }
  }

  test("cdcApply: latest-wins by seq — supersede, tombstone, resurrect, out of order") {
    import graft.ops.LakeOps
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    // arrival order scrambled vs sequence: k1 U@2 beats U@1; k2 D@2
    // beats U@1; k3 I@2 resurrects after D@1; k5 inserts a new key
    val changes = Seq(
      (1L, "a2", 2L, "U"), (2L, "b1", 1L, "U"), (3L, "c9", 2L, "I"),
      (1L, "a1", 1L, "U"), (2L, "", 2L, "D"), (3L, "", 1L, "D"),
      (5L, "e", 1L, "I")).toDF("k", "v", "seq", "op")
    val got = LakeOps.cdcApply(base, changes, "k", "seq", "op").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a2", 3L -> "c9", 4L -> "d", 5L -> "e"), s"$got")
    intercept[IllegalArgumentException] {
      LakeOps.cdcApply(base, changes.withColumnRenamed("v", "w"), "k", "seq", "op")
    }
  }

  test("writeAuditPublish: audit gates the manifest; quarantined batch invisible; multi-batch union") {
    import graft.ops.LakeOps
    val root = java.nio.file.Files.createTempDirectory("wap_spec")
      .toFile.getAbsolutePath
    val audit = (st: org.apache.spark.sql.DataFrame) => {
      val n = st.filter(col("v").isNull).count()
      if (n > 0) Seq(s"$n null v") else Seq.empty[String]
    }
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val (ok1, _) = LakeOps.writeAuditPublish(b1, root, audit)
    val bad = Seq((3L, null.asInstanceOf[String])).toDF("k", "v")
    val (ok2, viol) = LakeOps.writeAuditPublish(bad, root, audit)
    val b3 = Seq((4L, "d")).toDF("k", "v")
    val (ok3, _) = LakeOps.writeAuditPublish(b3, root, audit)
    assert(ok1 && !ok2 && viol == Seq("1 null v") && ok3)
    val got = LakeOps.readPublished(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 4L -> "d"), s"$got")
    // the quarantined batch is still on disk for inspection
    assert(new java.io.File(root).list().exists(_.startsWith("_staged_00001")))
    intercept[IllegalArgumentException] {
      LakeOps.readPublished(spark, root + "_nothing_published")
    }
  }

  test("mergeUpsert: NULL delete flag means upsert, not silent delete") {
    import graft.ops.LakeOps
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val ups = Seq((1L, "a2", Option.empty[Boolean]), (2L, "x", Some(true)))
      .toDF("k", "v", "del")
    val got = LakeOps.mergeUpsert(base, ups, "k", Some("del")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a2")) // 1 upserted despite NULL flag; 2 deleted
  }

  test("scd2Merge: NULL payloads register as changes (null-safe compare)") {
    import graft.ops.LakeOps
    def d(s: String) = java.sql.Date.valueOf(s)
    val dim = Seq(
      (1L, Option(10), d("2020-01-01"), Option.empty[java.sql.Date]), // 10 -> NULL
      (2L, Option.empty[Int], d("2020-01-01"), Option.empty[java.sql.Date]), // NULL -> 5
      (3L, Option.empty[Int], d("2020-01-01"), Option.empty[java.sql.Date])) // NULL -> NULL no-op
      .toDF("k", "nat", "valid_from", "valid_to")
    val ch = Seq((1L, Option.empty[Int]), (2L, Option(5)), (3L, Option.empty[Int]))
      .toDF("k", "nat")
    val got = LakeOps.scd2Merge(dim, ch, "k", Seq("nat"),
        to_date(lit("2024-06-01"))).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1)),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString))).toSet
    assert(got == Set(
      (1L, Some(10), "2020-01-01", Some("2024-06-01")), // closed: 10 -> NULL IS a change
      (1L, None, "2024-06-01", None),
      (2L, None, "2020-01-01", Some("2024-06-01")),     // closed: NULL -> 5 IS a change
      (2L, Some(5), "2024-06-01", None),
      (3L, None, "2020-01-01", None)))                  // NULL -> NULL: no-op
  }

  test("scd2Merge closes changed rows, no-ops identical payloads, inserts new keys, keeps history") {
    import graft.ops.LakeOps
    def d(s: String) = java.sql.Date.valueOf(s)
    val dim = Seq(
      (1L, 10, d("2019-01-01"), Option(d("2020-01-01"))), // closed history
      (1L, 11, d("2020-01-01"), None),                    // current, will change
      (2L, 20, d("2020-01-01"), None))                    // current, no-op change
      .toDF("k", "nat", "valid_from", "valid_to")
    val ch = Seq((1L, 12), (2L, 20), (9L, 77)).toDF("k", "nat")
    val got = LakeOps.scd2Merge(dim, ch, "k", Seq("nat"),
        to_date(lit("2024-06-01"))).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString))).toSet
    assert(got == Set(
      (1L, 10, "2019-01-01", Some("2020-01-01")), // history untouched
      (1L, 11, "2020-01-01", Some("2024-06-01")), // closed at change ts
      (1L, 12, "2024-06-01", None),               // reopened with new payload
      (2L, 20, "2020-01-01", None),               // identical payload: no-op
      (9L, 77, "2024-06-01", None)))              // brand-new key
  }

  // ---- charset profile ---------------------------------------------------

  test("charsetProfile: ASCII and alpha fractions; empty text nulls out") {
    import graft.ops.TextOps
    val df = Seq("abc d1", "ab漢字", "").toDF("t")
      .select(TextOps.charsetProfile(col("t")).as("p"))
      .select(col("p.ascii_ratio"), col("p.alpha_ratio")).collect()
    assert(df(0).getDouble(0) == 1.0 && df(0).getDouble(1) == 0.6667) // "abcd" of 6
    assert(df(1).getDouble(0) == 0.5 && df(1).getDouble(1) == 0.5)    // 2 of 4
    assert(df(2).isNullAt(0) && df(2).isNullAt(1))
  }

  // ---- n-gram counts -----------------------------------------------------

  test("ngramCounts: instance counts with support filter; unigram fast path") {
    import graft.ops.TextOps
    val df = Seq("a b a b", "a b x", "").toDF("text")
    val bi = TextOps.ngramCounts(df, col("text"), n = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bi == Map("a b" -> 3L, "b a" -> 1L, "b x" -> 1L))
    val uni = TextOps.ngramCounts(df, col("text"), n = 1, minCount = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni == Map("a" -> 3L, "b" -> 3L)) // x filtered by support
  }

  // ---- containment -------------------------------------------------------

  test("containmentPairs finds a planted excerpt at 1.0 where jaccard is tiny; cap drops boilerplate") {
    import graft.ops.Dedup
    val long = ((1 to 40).map(i => s"w$i")).mkString(" ")
    val excerpt = ((1 to 10).map(i => s"w$i")).mkString(" ")
    val other = ((100 to 140).map(i => s"v$i")).mkString(" ")
    val df = Seq((1L, long), (2L, excerpt), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, col("doc_id"), col("text"),
      n = 3, threshold = 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // excerpt: 8 3-gram shingles, all inside doc 1 → containment 1.0
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == ((8L, 1.0)))
    // the same pair's jaccard is 8/38 ≈ 0.21 — the asymmetric relation
    // is the one that sees the quote
    // boilerplate cap: with maxDocsPerShingle = 1 no shingle survives
    assert(Dedup.containmentPairs(df, col("doc_id"), col("text"),
      n = 3, threshold = 0.1, maxDocsPerShingle = 1).count() == 0)
  }

  test("containmentPairs: sizes use the cap-filtered universe, so a hot shared shingle does not bias the metric down") {
    import graft.ops.Dedup
    // hot boilerplate H in 10 docs (over the cap of 5); docs 1 and 2 also
    // share phrase P, and doc 1 contains everything doc 2 has plus filler.
    // On the capped universe doc 2's surviving shingles are ALL inside
    // doc 1 → containment must be exactly 1.0. Sizing na/nb over the RAW
    // universe (the old bug) would count doc 2's dropped H-shingles in
    // the denominator and report < 1.0.
    val hot = (1 to 10).map(i => s"h$i").mkString(" ")
    val phrase = (1 to 12).map(i => s"p$i").mkString(" ")
    val filler = (1 to 10).map(i => s"f$i").mkString(" ")
    val rows = Seq((1L, s"$hot $phrase $filler"), (2L, s"$hot $phrase")) ++
      (3L to 10L).map(i => (i, s"$hot junk${i}a junk${i}b junk${i}c"))
    val df = rows.toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, col("doc_id"), col("text"),
      n = 3, threshold = 0.5, maxDocsPerShingle = 5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(got.keySet == Set((1L, 2L)), s"got $got")
    assert(got((1L, 2L)) == 1.0, s"hot-shingle bias: ${got((1L, 2L))}")
  }

  // ---- semantic decontamination ------------------------------------------

  test("semanticDecontam flags a perturbed eval vector, ignores orthogonal ones, shuffles nothing") {
    import graft.ops.Dedup
    val ev = Seq((100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (200L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),  // near eval 100 → flagged
      (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),  // orthogonal to both → clean
      (3L, Seq(0.1f, 0.95f, 0.0f, 0.0f))) // near eval 200 → flagged
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDecontam(corpus, col("vec_id"), col("embedding"),
      ev, col("vec_id"), col("embedding"), threshold = 0.8)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 100L), (3L, 200L)))
    // the corpus pass is scan + literal-matrix expression + broadcast
    // join — no corpus-sized shuffle anywhere
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"))
  }

  // ---- HLL roll-up -------------------------------------------------------

  test("hllRollup: small groups estimate exactly; union equals the direct sketch") {
    val df = Seq((1, "g1"), (2, "g1"), (2, "g1"), (3, "g2"), (4, "g2"), (1, "g2"))
      .toDF("x", "g")
    val r = graft.ops.Sketches.hllRollup(df, col("g"), col("x")).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("g1").getLong(1) == 2 && r("g1").getLong(2) == 2)
    assert(r("g2").getLong(1) == 3 && r("g2").getLong(2) == 3)
    val all = r("__ALL__")
    assert(all.getLong(1) == 4)                 // exact distinct over union
    assert(all.getLong(2) == 4 && all.getLong(3) == 4) // sparse regime: exact
  }

  test("hllRollup: merged and direct estimates both within bounds at estimation-mode cardinalities") {
    val df = spark.range(200000)
      .select((col("id") % 3).cast("string").as("g"), (col("id") % 60000).as("x"))
    val all = graft.ops.Sketches.hllRollup(df, col("g"), col("x"), lgK = 12)
      .filter(col("scope") === "__ALL__").head()
    val (exact, est, direct) = (all.getLong(1), all.getLong(2), all.getLong(3))
    val bound = exact * 3 * graft.ops.Sketches.hllRse(12) + 1
    // merged answers from the composite estimator, direct from HIP — they
    // may differ by a few counts but both must honor the sketch bound
    assert(math.abs(est - exact) <= bound, s"merged $est vs exact $exact")
    assert(math.abs(direct - exact) <= bound, s"direct $direct vs exact $exact")
  }

  // ---- fixed-window packing ----------------------------------------------

  test("packFixedWindows splits docs across context boundaries with exact spans") {
    // token stream: doc1 [0,10) | doc2 [10,16) | doc3 [16,30); C = 8 →
    // examples: e0 [0,8) e1 [8,16) e2 [16,24) e3 [24,30)
    val df = Seq((1L, 10L), (2L, 6L), (3L, 14L)).toDF("doc_id", "ntok")
    val got = graft.ops.Pipeline.packFixedWindows(df, col("doc_id"), col("ntok"),
        contextLen = 8, bucketWidth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val expected = Set(
      (1L, 0L, 0L, 8L, 0L),   // doc1 fills e0
      (1L, 1L, 8L, 10L, 0L),  // doc1 tail opens e1
      (2L, 1L, 0L, 6L, 2L),   // doc2 entirely inside e1 at offset 2
      (3L, 2L, 0L, 8L, 0L),   // doc3 fills e2
      (3L, 3L, 8L, 14L, 0L))  // doc3 tail opens e3 (ragged final example)
    assert(got == expected)
    // every fragment length positive; every non-final example exactly full
    val perExample = got.toSeq.groupBy(_._2).view
      .mapValues(_.map(f => f._4 - f._3).sum).toMap
    assert(perExample(0L) == 8 && perExample(1L) == 8 && perExample(2L) == 8)
    assert(perExample(3L) == 6)
    // zero-token docs produce no fragments
    val z = graft.ops.Pipeline.packFixedWindows(
      Seq((1L, 0L), (2L, 5L)).toDF("doc_id", "ntok"),
      col("doc_id"), col("ntok"), contextLen = 8)
    assert(z.collect().map(_.getLong(0)).toSet == Set(2L))
  }

  // ---- hash split --------------------------------------------------------

  test("splitByGroup co-assigns every group member; a per-doc split would not") {
    import graft.ops.Pipeline
    // 10 clusters of 4 docs each; ids spread across the hash's prefix
    // blocks (the polynomial hash is linear in trailing chars, so
    // CONSECUTIVE ids share a split — spread ids exercise real mixing)
    val df = spark.range(40).select(((col("id") * 104729) % 100000).as("id"),
      (col("id") / 4).cast("long").as("grp"))
    val fr = Seq("train" -> 0.5, "test" -> 0.5)
    val byGroup = Pipeline.splitByGroup(df, col("grp"), "s2", fr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // all members of a group share the split
    for ((_, rows) <- byGroup.groupBy(_._2))
      assert(rows.map(_._3).distinct.length == 1)
    // contrast: the per-doc split separates at least one group's members
    val byDoc = Pipeline.hashSplit(df, col("id"), "s2", fr)
      .collect().map(r => (r.getLong(1), r.getString(2)))
    assert(byDoc.groupBy(_._1).exists(_._2.map(_._2).distinct.length > 1))
  }

  test("hashSplit: stable under subsetting, fractions validated, proportions sane") {
    val df = spark.range(2000).select(col("id"))
    val fr = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val full = Pipeline.hashSplit(df, col("id"), "s1", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val counts = full.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 1700 && counts("val") > 50 && counts("test") > 50)
    // a row's split must not depend on what other rows exist
    val sub = Pipeline.hashSplit(df.filter(col("id") % 3 === 0), col("id"), "s1", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub.forall { case (id, s) => full(id) == s })
    intercept[IllegalArgumentException] {
      Pipeline.hashSplit(df, col("id"), "s1", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  // ---- distribution drift ------------------------------------------------

  test("distributionDrift: disjoint-vocab slice nears TVD 1, clone slices near 0, equals brute full-vocab sum") {
    import graft.ops.TextOps
    // slices A and B share a distribution; slice C is disjoint vocabulary
    val docs = Seq(
      ("A", "x y x y z"), ("B", "x y x y z"), ("C", "q r q r qq")).toDF("src", "text")
    val got = TextOps.distributionDrift(docs, col("src"), col("text"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("C") == 1.0) // no shared term with the rest: TVD exactly 1
    // brute-force check of the absent-mass folding on slice A (rest = B+C):
    // vocab = {x,y,z,q,r,qq}; P_A = (2/5, 2/5, 1/5, 0, 0, 0),
    // Q_rest = (2/10,2/10,1/10,2/10,2/10,1/10); TVD = 0.5*(0.2+0.2+0.1+0.5)
    assert(math.abs(got("A") - 0.5) < 1e-9, s"A: ${got("A")}")
    // identical distributions (no disjoint third slice): drift exactly 0
    val clones = Seq(("A", "x y x y z"), ("B", "x y x y z")).toDF("src", "text")
    val g2 = TextOps.distributionDrift(clones, col("src"), col("text"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(g2("A") == 0.0 && g2("B") == 0.0, s"clones drifted: $g2")
  }

  // ---- dataset profiling -------------------------------------------------

  test("profile: one row per column with null/distinct/min/max; single scan") {
    import graft.ops.Profile
    val df = Seq((Some(3L), Some("b")), (None, Some("a")), (Some(3L), None),
      (Some(1L), Some("b"))).toDF("k", "s")
    val got = Profile.profile(df, Seq("k" -> col("k"), "s" -> col("s")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(got("k") == ((4L, 1L, 2L, "1", "3")))
    assert(got("s") == ((4L, 1L, 2L, "a", "b")))
  }

  // ---- time travel -------------------------------------------------------

  test("snapshotAsOf: k=0 is the base; later batches override earlier; deletes stick") {
    import graft.ops.LakeOps
    val dir = "target/derived/spec_ledger"
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    base.write.mode("overwrite").parquet(s"$dir/base")
    Seq((1L, "a1", false), (2L, "x", true)).toDF("k", "v", "del")
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    Seq((1L, "a2", false), (4L, "d", false)).toDF("k", "v", "del")
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    def snap(k: Int) = LakeOps.snapshotAsOf(spark, dir, k, "k", Some("del"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap(0) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(snap(1) == Map(1L -> "a1", 3L -> "c"))          // 2 deleted
    assert(snap(2) == Map(1L -> "a2", 3L -> "c", 4L -> "d")) // batch2 wins on 1
  }

  test("compactLedger folds the prefix into base and renumbers the tail") {
    import graft.ops.LakeOps
    val dir = "target/derived/spec_ledger_compact"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/base")
    Seq((1L, "a1", false), (2L, "x", true)).toDF("k", "v", "del")
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    Seq((1L, "a2", false), (4L, "d", false)).toDF("k", "v", "del")
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    Seq((5L, "e", false), (3L, "x", true)).toDF("k", "v", "del")
      .write.mode("overwrite").parquet(s"$dir/batch=3")
    def snap(k: Int) = LakeOps.snapshotAsOf(spark, dir, k, "k", Some("del"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val before2 = snap(2); val before3 = snap(3)
    LakeOps.compactLedger(spark, dir, upTo = 2, "k", Some("del"))
    // the new base IS the old as-of(2); the old batch 3 is now batch 1
    assert(snap(0) == before2)
    assert(snap(1) == before3)
    assert(!new java.io.File(s"$dir/batch=2").exists())
    intercept[IllegalArgumentException] {
      LakeOps.compactLedger(spark, dir, upTo = 9, "k", Some("del"))
    }
  }

  // ---- label propagation ---------------------------------------------------

  test("propagateLabels: majority wins, ties break to smallest label, unlabeled clusters NULL") {
    import graft.ops.Dedup
    // cluster 1 = {1,2,3} labels: a,a,b -> a; cluster 2 = {4,5} labels b,a -> tie -> a
    // cluster 3 = {6} unlabeled -> NULL
    val clusters = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L, 6L -> 3L)
      .toDF("node", "cl")
    val labels = Seq(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b", 5L -> "a")
      .toDF("id", "lab")
    val got = Dedup.propagateLabels(clusters, col("node"), col("cl"),
        labels, col("id"), col("lab"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getString(2)))).toMap
    assert(got == Map(1L -> Some("a"), 2L -> Some("a"), 3L -> Some("a"),
      4L -> Some("a"), 5L -> Some("a"), 6L -> None))
  }

  // ---- typo pairs / interval union ----------------------------------------

  test("typoPairs: substitution, insertion, deletion all pair; distance-2 rejected") {
    import graft.ops.Dedup
    val v = Seq("hash", "hesh", "hashh", "has", "table", "tible", "xyzzy")
      .toDF("term")
    val got = Dedup.typoPairs(v, col("term"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("hash", "hesh"),    // substitution
      ("hash", "hashh"),   // insertion
      ("has", "hash"),     // deletion
      ("table", "tible"))) // d2 combos (has/hesh, hesh/hashh, xyzzy/*) rejected
  }

  test("intervalUnionLength: overlaps merge, touching intervals merge, disjoint count") {
    import graft.ops.EventAnalytics
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 20L),   // overlap -> [0,20)
      (1L, 20L, 30L),                 // touching -> merges (half-open)
      (1L, 50L, 60L),                 // disjoint island
      (2L, 0L, 100L), (2L, 10L, 20L)) // contained interval
      .toDF("u", "s", "e")
    val got = EventAnalytics.intervalUnionLength(iv, col("u"), col("s"), col("e"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((2L, 40L))) // [0,30) + [50,60)
    assert(got(2L) == ((1L, 100L)))
  }

  // ---- negative sampling -------------------------------------------------

  test("negativeSamples: deterministic, excludes self and the anchor's cluster, honors k") {
    import graft.ops.Pipeline
    // ids 1..10; 1,2,3 share a cluster (label 1); rest singleton
    val cl = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 6L, 7L -> 7L, 8L -> 8L, 9L -> 9L, 10L -> 10L)
      .toDF("node", "label")
    def run() = Pipeline.negativeSamples(cl, col("node"), col("label"),
      k = 2, salt = "s1").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val got = run()
    assert(got == run()) // re-run identical: no RNG
    // no self-negatives, no within-cluster negatives
    val clusterOf = cl.collect().map(r => r.getLong(0).toString -> r.getLong(1)).toMap
    got.foreach { case (a, _, n) =>
      assert(a != n, s"self negative: $a")
      assert(clusterOf(a) != clusterOf(n), s"cluster leak: $a -> $n")
    }
    // every anchor gets at most k, ranks start at 1
    val byAnchor = got.groupBy(_._1)
    assert(byAnchor.values.forall(_.size <= 2))
    assert(byAnchor.values.forall(_.map(_._2).min == 1))
    intercept[IllegalArgumentException] {
      Pipeline.negativeSamples(cl.limit(1), col("node"), col("label"), 2, "s1")
    }
  }

  // ---- stemming ------------------------------------------------------------

  test("stemLite applies the five suffix rules in order; non-matching terms pass through") {
    import graft.ops.TextOps
    val got = Seq("classes", "queries", "tables", "pass", "filtering",
      "filtered", "sing", "bed", "join")
      .toDF("t").select(TextOps.stemLite(col("t"))).as[String].collect().toSeq
    assert(got == Seq("class", "queri", "table", "pass", "filter",
      "filter", "sing", "bed", "join"))
  }

  // ---- co-occurrence / onsets --------------------------------------------

  test("coOccurrencePairs: hand counts, dedup within group, viral-group cap") {
    import graft.ops.Graph
    // groups: g1={1,2,3}, g2={1,2}, g3={1,2} (with a duplicate row), g4={9}
    val df = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 2L), (4L, 9L)).toDF("g", "i")
    val got = Graph.coOccurrencePairs(df, col("g"), col("i"), minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 3L)) // (1,3),(2,3) appear once: filtered
    // cap: the 3-item group is dropped before the pair join
    val capped = Graph.coOccurrencePairs(df, col("g"), col("i"),
      minShared = 2, maxItemsPerGroup = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((1L, 2L) -> 2L))
  }

  test("audioOnsets: fires on |jump| > threshold, first frame never fires") {
    import graft.ops.Multimodal
    val frames = Seq((1L, 0, 100L), (1L, 1, 100L), (1L, 2, 500L), (1L, 3, 90L),
      (2L, 0, 9999L)).toDF("media_id", "frame_idx", "sum_abs")
    val got = Multimodal.audioOnsets(frames, threshold = 300L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2, 400L), (1L, 3, -410L)))
  }

  // ---- BPE merge learning ------------------------------------------------

  test("BPE applyMerge is greedy left-to-right with overlap handling") {
    import graft.ops.Bpe
    val df = Seq(Seq("a", "a", "a", "a"), Seq("a", "a", "a"),
      Seq("b", "a", "a"), Seq("a"), Seq[String]())
      .toDF("syms")
    val got = df.select(Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("aa", "aa"), Seq("aa", "a"),
      Seq("b", "aa"), Seq("a"), Seq()))
  }

  test("BPE learnMerges reproduces the hand-computed merge sequence; encode applies it") {
    import graft.ops.Bpe
    // "aaab"x3, "ab"x2: pair counts iter1 (a,a)=6 > (a,b)=5 -> merge (a,a)
    // iter2 on [aa,a,b]x3 + [a,b]x2: (a,b)=5 > (aa,a)=3 -> merge (a,b)
    // iter3 on [aa,ab]x3 + [ab]x2: (aa,ab)=3 -> merge (aa,ab)
    val docs = Seq("aaab ab aaab", "aaab ab").toDF("text")
    val merges = Bpe.learnMerges(docs, col("text"), numMerges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges == Seq((1, "a", "a", 6L), (2, "a", "b", 5L), (3, "aa", "ab", 3L)))
    // early stop: a corpus of single chars has no pairs after 1 merge
    val tiny = Seq("aa aa").toDF("text")
    assert(Bpe.learnMerges(tiny, col("text"), numMerges = 5).count() == 1)
    // encode replays the merge table in rank order
    val table = Bpe.learnMerges(docs, col("text"), numMerges = 2)
    val enc = Bpe.encode(Seq("aaab ab ba").toDF("text"), col("text"), table)
      .select("bpe_tokens").as[Seq[String]].head()
    assert(enc == Seq("aa", "ab", "ab", "b", "a"))
  }

  test("connectedComponentsStar equals label-propagation CC on path, star, and hashed graphs") {
    import graft.ops.{Dedup, Graph}
    def labels(pairs: org.apache.spark.sql.DataFrame,
        ids: org.apache.spark.sql.DataFrame,
        f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame) =
      f(pairs, ids).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def star(p: org.apache.spark.sql.DataFrame, i: org.apache.spark.sql.DataFrame) =
      Graph.connectedComponentsStar(p, col("a"), col("b"), i, col("n"))
    def prop(p: org.apache.spark.sql.DataFrame, i: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(p, col("a"), col("b"), i, col("n"))
    // path graph 0-1-2-...-19 (pointer-jump stress) + isolated 100
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("a", "b")
    val pathIds = ((0L to 19L) :+ 100L).toDF("n")
    assert(labels(path, pathIds, star) == labels(path, pathIds, prop))
    assert(labels(path, pathIds, star).forall { case (k, v) =>
      if (k == 100L) v == 100L else v == 0L })
    // two stars sharing a leaf (merge case) + hashed pseudo-random graph
    val merged = Seq((5L, 1L), (5L, 2L), (6L, 2L), (6L, 3L)).toDF("a", "b")
    val mIds = (1L to 6L).toDF("n")
    assert(labels(merged, mIds, star) == labels(merged, mIds, prop))
    val hashed = (0L until 60L)
      .map(i => (i * 104729 % 40, (i * 7919 + 11) % 40)).toDF("a", "b")
    val hIds = (0L until 40L).toDF("n")
    assert(labels(hashed, hIds, star) == labels(hashed, hIds, prop))
  }

  // ---- Unigram-LM tokenizer ---------------------------------------------

  test("UnigramLm learn reproduces the hand-computed EM + prune sequence") {
    import graft.ops.UnigramLm
    // words: abab x2, ab x1, b x1. Seed counts: a=5, b=6, ab=5, ba=2,
    // total 18 -> q0 = (277777777, 333333333, 277777777, 111111111).
    // EM1 Viterbi: abab->[ab,ab], ab->[ab], b->[b] => usage ab=5, b=1,
    // total 6 -> a floors to 1 (char), b=166666666, ab=833333333,
    // ba drops (q=0). Prune keeps ab; final EM is a fixpoint.
    val docs = Seq("abab ab", "abab b").toDF("text")
    val got = UnigramLm.learn(docs, col("text"), maxPieceLen = 2,
      seedSize = 4, vocabSize = 2, emIters = 1, pruneRounds = 1)
      .orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 1L), ("ab", 833333333L), ("b", 166666666L)))
  }

  test("UnigramLm encodeCounts segments per distinct word and reports 0 for empty text") {
    import graft.ops.UnigramLm
    val vocab = Seq(("a", 1L), ("ab", 833333333L), ("b", 166666666L))
      .toDF("piece", "q")
    val docs = Seq((1L, "abab ab"), (2L, "abab b"), (3L, " "))
      .toDF("doc_id", "text")
    val got = UnigramLm.encodeCounts(docs, "doc_id", col("text"), vocab,
      maxPieceLen = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 0L))
  }

  test("UnigramLm docBitsPerChar matches hand-computed nats incl. the UNK floor") {
    import graft.ops.UnigramLm
    val vocab = Seq(("a", 1L), ("ab", 833333333L), ("b", 166666666L))
      .toDF("piece", "q")
    // doc1: pieces ab,ab,ab -> nats 3*round6(ln(.833333333)) = 3*(-0.182322),
    //   nch 6 -> bpc4 0.1315
    // doc2: 'z' is OOV -> UNK floor -20.723266; nats 2*(-0.182322)-20.723266,
    //   nch 5 -> bpc4 6.0847 (the high-bpc "noise" tail, by construction)
    // doc3: empty -> (0, null)
    val docs = Seq((1L, "abab ab"), (2L, "abab z"), (3L, " "))
      .toDF("doc_id", "text")
    val got = UnigramLm.docBitsPerChar(docs, "doc_id", col("text"), vocab,
      maxPieceLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set((1L, 3L, Some(0.1315)), (2L, 3L, Some(6.0847)),
      (3L, 0L, None)))
  }

  test("UnigramLm fertility on the corpus sits between 1 and chars-per-token (t37 cross-check)") {
    import graft.ops.{TextOps, UnigramLm}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = UnigramLm.learn(docs, col("text"))
    // coverage: every corpus character survives as a piece; prune hit its target
    val pieces = vocab.collect().map(_.getString(0))
    val chars = docs.select(explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", ""), "")).as("c"))
      .where(col("c") =!= "").distinct().as[String].collect().toSet
    assert(chars.subsetOf(pieces.filter(_.length == 1).toSet))
    assert(pieces.count(_.length > 1) <= 30)
    val enc = UnigramLm.encodeCounts(docs, "doc_id", col("text"), vocab)
    val nPieces = enc.agg(sum("n_unigram")).head().getLong(0).toDouble
    val stats = docs.select(
      sum(size(TextOps.tokens(col("text")))).cast("long").as("ntok"),
      sum(length(regexp_replace(lower(trim(col("text"))), "\\s+", ""))).cast("long").as("nch"))
      .head()
    val (ntok, nch) = (stats.getLong(0).toDouble, stats.getLong(1).toDouble)
    val fertility = nPieces / ntok
    assert(fertility >= 1.0 && fertility <= nch / ntok,
      s"fertility $fertility outside [1, ${nch / ntok}]")
  }
}
