package graft

import graft.fixtures.TpchLake
import graft.sparql.SparqlParser
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SPARQL 1.1 §12 subqueries and residual (non-star-var) FILTERs. */
class SubquerySpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val P = "PREFIX g: <http://graft.io/schema/>\n"

  test("parser: { SELECT ... } becomes a nested ParsedQuery, outer prefixes in scope") {
    val q = SparqlParser.parse(P +
      """SELECT ?cn ?avgT WHERE {
        |  ?c g:custName ?cn .
        |  { SELECT ?c (AVG(?tp) AS ?avgT) WHERE {
        |      ?o g:customer ?c . ?o g:totalprice ?tp .
        |    } GROUP BY ?c }
        |}""".stripMargin)
    // the subquery joins the outer group's leaf
    val graft.model.Join(outer: graft.model.Bgp, graft.model.SubSelect(sub)) = q.where: @unchecked
    assert(outer == q.bgp)
    assert(sub.groupBy == Seq("c"))
    assert(sub.aggregates.map(_.alias) == Seq("avgT"))
    assert(sub.stars.keySet == Set("o"))
    assert(sub.patterns.forall(_.predicate.startsWith(TpchLake.NS)))
    // outer body unaffected
    assert(q.stars.keySet == Set("c"))
  }

  test("q45: subquery aggregate joins the outer star and the residual filter applies") {
    val df = SparkEntry.queries("q45_subquery")(spark, sf)
    assert(df.columns.toSeq == Seq("cn", "avgT"))
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(1) >= 150000))
    // twin in plain Spark
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_custkey").agg(avg("o_totalprice").as("avgT"))
      .filter(col("avgT") >= 150000)
    assert(rows.length == o.count())
  }

  test("q46: subquery ORDER BY + LIMIT evaluates inside the group") {
    val rows = SparkEntry.queries("q46_subquery_topn")(spark, sf).collect()
    assert(rows.length == 5)
    val top5 = spark.read.parquet(s"$sf/orders.parquet")
      .orderBy(col("o_totalprice").desc).limit(5)
      .select("o_totalprice").collect().map(_.getDouble(0)).toSet
    assert(rows.map(_.getDouble(1)).toSet == top5)
  }

  test("a FILTER on a BIND output applies instead of silently dropping") {
    val got = TpchLake.run(spark, sf, P +
      """SELECT ?bv WHERE {
        |  ?c g:acctbal ?ab .
        |  BIND(?ab + 10 AS ?bv)
        |  FILTER(?bv > 1000)
        |}""".stripMargin).count()
    val exp = spark.read.parquet(s"$sf/customer.parquet")
      .select((col("c_acctbal") + 10).as("bv")).filter(col("bv") > 1000).count()
    assert(got == exp && got > 0)
  }

  test("a FILTER on a completely unknown var fails instead of silently dropping") {
    intercept[Exception] {
      TpchLake.run(spark, sf, P +
        "SELECT ?n WHERE { ?c g:custName ?n . FILTER(?nope > 5) }").count()
    }
  }

  test("subquery-only WHERE body works (no outer patterns)") {
    val rows = TpchLake.run(spark, sf, P +
      """SELECT ?c ?avgT WHERE {
        |  { SELECT ?c (AVG(?tp) AS ?avgT) WHERE {
        |      ?o g:customer ?c . ?o g:totalprice ?tp .
        |    } GROUP BY ?c }
        |}""".stripMargin).count()
    val exp = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_custkey").distinct().count()
    assert(rows == exp)
  }
}
