package graft

import graft.ops.Checks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()
  import spark.implicits._

  private def fixture = Seq(
    (1L, Some("a"), 10.0), (2L, Some("b"), 20.0), (3L, None, 30.0),
    (3L, Some("a"), -5.0), (4L, Some("zz"), 15.0)
  ).toDF("id", "cat", "v")

  test("report: hand-computed metrics for every constraint kind") {
    val rep = Checks.report(fixture, Seq(
      Checks.NotNull("cat"), Checks.Unique("id"),
      Checks.InRange("v", 0.0, 25.0), Checks.InSet("cat", Seq("a", "b")),
      Checks.MatchesRegex("cat", "^[ab]$"), Checks.MinRows(10L)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(rep.size == 6)
    // 4/5 cats non-null
    assert(rep.contains(("not_null", "cat", 0.8, 1L, false)))
    // ids: 5 non-null, 4 distinct (3 twice)
    assert(rep.contains(("unique", "id", 0.8, 1L, false)))
    // v: -5 and 30 out of [0,25] -> 3/5 in range
    assert(rep.contains(("in_range", "v:[0.0,25.0]", 0.6, 2L, false)))
    // "zz" outside {a,b}; nulls don't count
    assert(rep.contains(("in_set", "cat:{a,b}", 0.8, 1L, false)))
    assert(rep.contains(("matches_regex", "cat:^[ab]$", 0.8, 1L, false)))
    assert(rep.contains(("min_rows", ">=10", 5.0, 5L, false)))
  }

  test("report: clean data passes everything") {
    val rep = Checks.report(fixture.filter(col("id") <= 2), Seq(
      Checks.NotNull("cat"), Checks.Unique("id"),
      Checks.InRange("v", 0.0, 25.0), Checks.MinRows(2L)))
    assert(rep.collect().forall(_.getBoolean(4)))
  }

  test("report: the whole suite is one scan + one aggregate pair") {
    val rep = Checks.report(fixture, Seq(
      Checks.NotNull("cat"), Checks.InRange("v", 0.0, 25.0),
      Checks.InSet("cat", Seq("a", "b")), Checks.MinRows(1L)))
    val plan = rep.queryExecution.executedPlan
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Int =
      if (p.children.isEmpty) 1 else p.children.map(leaves).sum
    // a UNION-ALL-of-subqueries shape would re-scan per constraint;
    // the conditional-aggregate fold keeps a single leaf
    assert(leaves(plan) == 1, plan.toString)
  }

  test("violations: per-row reasons, clean rows absent, multi-fail rows fan out") {
    val v = Checks.violations(fixture, col("id"), Seq(
      Checks.InRange("v", 0.0, 25.0), Checks.InSet("cat", Seq("a", "b")),
      Checks.NotNull("cat")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v.contains((3L, "in_range")))   // v=30
    assert(v.contains((3L, "not_null")))   // cat null on the first id-3 row
    assert(v.contains((3L, "in_range")))   // v=-5 second id-3 row
    assert(v.contains((4L, "in_set")))     // zz
    assert(!v.exists(_._1 == 1L) && !v.exists(_._1 == 2L))
  }

  test("report refuses an empty constraint list") {
    intercept[IllegalArgumentException] { Checks.report(fixture, Seq.empty) }
  }

  test("privacy: k-anonymity report, suppression keeps exactly the >=k cells, l-diversity") {
    import graft.ops.Privacy
    val df = Seq(
      ("us", "a", 1.0), ("us", "a", -1.0), ("us", "a", 2.0), // cell of 3, mixed sign
      ("de", "b", 5.0), ("de", "b", 6.0),                    // cell of 2, all positive
      ("fr", "c", 9.0)                                       // singleton
    ).toDF("country", "seg", "bal")
    val qis = Seq(col("country"), col("seg"))
    val rep = Privacy.kAnonymityReport(df, qis, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rep == Set(("de", "b", 2L), ("fr", "c", 1L)))
    val kept = Privacy.suppressSmallGroups(df, qis, k = 3)
      .select(col("country")).as[String].collect()
    assert(kept.toSeq == Seq("us", "us", "us"))
    // suppression preserves the full row (no dropped payload columns)
    assert(Privacy.suppressSmallGroups(df, qis, 3).columns.toSeq ==
      Seq("country", "seg", "bal"))
    val ld = Privacy.lDiversityReport(df, qis, col("bal") < 0, l = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // us cell has both signs → diverse; de and fr leak the sign
    assert(ld == Set(("de", "b"), ("fr", "c")))
    intercept[IllegalArgumentException] {
      Privacy.kAnonymityReport(df, qis, k = 1)
    }
  }
}
