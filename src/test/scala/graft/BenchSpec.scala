package graft

import graft.Bench.{Adjudicated, Baseline, Regression, Run, Smoke, Verdict}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's policies as pure functions: the baseline file
  * format, the next-baseline rules, and the two output lines. No session. */
class BenchSpec extends AnyFunSuite {

  private def prior(queries: Map[String, Double], history: Map[String, List[Double]],
      sf1Queries: Map[String, Double] = Map.empty,
      sf1History: Map[String, List[Double]] = Map.empty) =
    Baseline("lake/sf0.1", 3, queries, sf1Queries, history, sf1History)

  test("Baseline read → write of the committed bench_baseline.json is byte-identical") {
    val text = Files.readString(Paths.get(Baseline.FileName))
    val b = Baseline.parse(text)
    assert(b.queries.size > 300 && b.sf1Queries.nonEmpty && b.sf1History.nonEmpty)
    assert(b.json == text)
  }

  test("Baseline numbers are written at 3 decimals, HALF_UP, gates sorted") {
    val b = prior(Map("b" -> 0.1, "a" -> 1.0005, "c" -> 0.0), Map("a" -> List(2.0, 0.0004)))
    assert(b.json ==
      """{"sf":"lake/sf0.1","reps":3,"queries":{"a":1.001,"b":0.100,"c":0.000},""" +
        """"history":{"a":[2.000,0.000]}}""" + "\n")
  }

  test("a still-regressed gate keeps its prior min and appends no history") {
    val p = prior(Map("g1" -> 1.0, "g2" -> 1.0), Map("g1" -> List(1.0), "g2" -> List(1.0)))
    val main = Seq("g1" -> ((5.0, 0.1)), "g2" -> ((1.2, 0.1)))
    val next = Bench.nextBaseline("lake/sf0.1", 3, p, main, None,
      Seq(Regression("g1", 1.0, 5.0, "sf0.1")), Set.empty)
    assert(next.queries == Map("g1" -> 1.0, "g2" -> 1.2))
    assert(next.history == Map("g1" -> List(1.0), "g2" -> List(1.0, 1.2)))
  }

  test("history keeps the last 7 mins") {
    val p = prior(Map("g" -> 1.0), Map("g" -> (1 to 7).map(_.toDouble).toList))
    val next = Bench.nextBaseline("lake/sf0.1", 3, p, Seq("g" -> ((8.5, 0.0))), None, Nil, Set.empty)
    assert(next.history == Map("g" -> List(2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.5)))
  }

  test("SPARK_GRAFT_REBASE: a named gate takes its new min; ALL resets history to this run") {
    val p = prior(Map("g1" -> 1.0, "g2" -> 1.0), Map("g1" -> List(1.0, 1.1), "g2" -> List(1.0)))
    val main = Seq("g1" -> ((5.0, 0.0)), "g2" -> ((6.0, 0.0)))
    val regs = Seq(Regression("g1", 1.0, 5.0, "sf0.1"), Regression("g2", 1.0, 6.0, "sf0.1"))
    val one = Bench.nextBaseline("lake/sf0.1", 3, p, main, None, regs, Set("g1"))
    assert(one.queries == Map("g1" -> 5.0, "g2" -> 1.0))
    assert(one.history == Map("g1" -> List(1.0, 1.1, 5.0), "g2" -> List(1.0)))
    val all = Bench.nextBaseline("lake/sf0.1", 3, p, main, None, regs, Set("ALL"))
    assert(all.queries == Map("g1" -> 5.0, "g2" -> 6.0))
    assert(all.history == Map("g1" -> List(5.0), "g2" -> List(6.0)))
  }

  test("a skipped sf1 sweep carries the prior sf1_queries and sf1_history forward") {
    val p = prior(Map("g" -> 1.0), Map("g" -> List(1.0)),
      sf1Queries = Map("g" -> 9.0), sf1History = Map("g" -> List(9.0, 9.5)))
    val main = Seq("g" -> ((1.1, 0.0)))
    val skipped = Bench.nextBaseline("lake/sf0.1", 3, p, main, None, Nil, Set.empty)
    assert(skipped.sf1Queries == p.sf1Queries && skipped.sf1History == p.sf1History)
    val ran = Bench.nextBaseline("lake/sf0.1", 3, p, main, Some(Seq("g" -> ((8.0, 0.0)))), Nil, Set.empty)
    assert(ran.sf1Queries == Map("g" -> 8.0) && ran.sf1History == Map("g" -> List(9.0, 9.5, 8.0)))
  }

  test("report matches the golden detail and headline lines") {
    val expected = Files.readString(Paths.get("src/test/resources/bench_report_golden.jsonl"))
    val (detail, headline) = Bench.report(BenchSpec.fixture)
    assert(s"$detail\n$headline\n" == expected)
  }
}

object BenchSpec {
  /** A run with every optional block: per-gate codegen work (one gate
    * at a sub-millisecond compile time), an sf1 sweep, a scale smoke with
    * capped gates, re-repped (raw) alphas and per-row output counts, more
    * than 15 failures (one message with a quote and a newline), more than
    * 5 regressions, dissolved tripwire hits, and budget skips. */
  val fixture: Run = {
    val main = Seq(
      "a01_revenue_decimal" -> ((0.5554, 0.1)), "b01_bm25_scores" -> ((1.2345, 0.0005)),
      "c01_dedup_clusters" -> ((12.0, 0.0)), "d02_ngram_jaccard" -> ((2.0305, 1.75)),
      "d25_longest_dup_spans" -> ((7.25, 0.333)), "q01_scan_project" -> ((0.0004, 0.0)),
      "q05_join3" -> ((0.1, 0.02)), "ts24_interval_pairs" -> ((3.9995, 0.4)))
    val sf1 = Seq("d05_embed_neardup" -> ((20.5, 2.0)), "q05_join3" -> ((3.25, 0.5)),
      "ts23_asof_nearest_sliced" -> ((25.0, 3.125)))
    val times = Seq(
      "e01_corpus_pipeline" -> Seq(1.0 -> 10.0, 2.0 -> 19.5, 5.0 -> 51.25),
      "c01_dedup_clusters" -> Seq(1.0 -> 3.0, 2.0 -> 6.5),
      "d07_embed_neardup_lsh" -> Seq(1.0 -> 40.0, 2.0 -> 150.0),
      "d25_longest_dup_spans" -> Seq(1.0 -> 20.0, 2.0 -> 37.0, 5.0 -> 95.5),
      "ts02_range_count" -> Seq.empty[(Double, Double)],
      "ts24_interval_pairs" -> Seq(1.0 -> 25.0, 2.0 -> 52.0))
    val alphas = Seq("e01_corpus_pipeline" -> 1.0012, "c01_dedup_clusters" -> 1.1155,
      "d07_embed_neardup_lsh" -> 1.907, "d25_longest_dup_spans" -> 0.9876,
      "ts24_interval_pairs" -> 0.0545).toMap
    val smoke = Smoke(times, alphas, Seq("d07_embed_neardup_lsh", "ts24_interval_pairs"),
      Map("c01_dedup_clusters" -> 1.285, "d25_longest_dup_spans" -> 1.716),
      Map("c01_dedup_clusters" -> Seq(1.0 -> 3.0, 2.0 -> 7.8),
        "d25_longest_dup_spans" -> Seq(1.0 -> 20.0, 2.0 -> 101.0, 5.0 -> 95.5)),
      Map("ts24_interval_pairs" -> Seq(1.0 -> 800000000L, 2.0 -> 3300000000L)))
    val failures = (1 to 17).map { i =>
      f"f$i%02d_gate" -> (if (i == 3) "java.lang.IllegalStateException: bad \"row\"\nat line 2"
        else s"org.apache.spark.SparkException: gate $i failed")
    }
    val regs = Seq(
      Regression("d02_ngram_jaccard", 0.9, 2.0305, "sf0.1"),
      Regression("d25_longest_dup_spans", 3.0, 7.25, "sf0.1"),
      Regression("b01_bm25_scores", 0.4, 1.2345, "sf0.1"),
      Regression("a01_revenue_decimal", 0.2, 0.5554, "sf0.1"),
      Regression("ts24_interval_pairs", 1.5, 3.9995, "sf0.1"),
      Regression("d05_embed_neardup", 8.0, 20.5, "sf1"),
      Regression("ts23_asof_nearest_sliced", 10.0, 25.0, "sf1"))
    val adj = Seq(Adjudicated("c01_dedup_clusters", 5.0, 12.0, 5.5),
      Adjudicated("q05_join3", 0.04, 0.1, 0.041))
    val codegen = main.map(_._1).zipWithIndex.map { case (n, i) =>
      n -> GraftSession.Codegen(i * 7L, i * 12345678L + 500L) }
    Run("lake/sf0.1", 3, main, codegen, Some("localdata/sf1" -> sf1), Some(smoke), failures,
      Some(Verdict(regs, adj)), 2700.0, 2712.3456,
      Seq("smoke:d07_embed_neardup_lsh@5.0", "smoke_adj:d25_longest_dup_spans@5.0", "adj:q05_join3"))
  }
}
