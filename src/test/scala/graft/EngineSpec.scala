package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end engine smoke on the sf0.001 tables (the full DuckDB-hash
  * correctness gate runs driver-side at sf0.01; scripts/check_oracle.py
  * replicates it locally). */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q05_join3 filters to one region's customers") {
    val df = SparkEntry.queries("q05_join3")(spark, sf)
    assert(df.columns.toSeq == Seq("cname", "nname", "rname"))
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(2) == "ASIA"))
  }

  test("q07_groupby_agg produces 6 (returnflag, linestatus) groups with sane sums") {
    val rows = SparkEntry.queries("q07_groupby_agg")(spark, sf).collect()
    assert(rows.length == 6)
    val sumQty = rows.map(r => r.getDouble(r.fieldIndex("sum_qty"))).sum
    val cnt = rows.map(r => r.getLong(r.fieldIndex("cnt"))).sum
    assert(sumQty > 0 && cnt > 0)
  }

  test("q10_union_sources doubles the nation table") {
    val n = SparkEntry.queries("q10_union_sources")(spark, sf).count()
    val base = spark.read.parquet(s"$sf/nation.parquet").count()
    assert(n == 2 * base)
  }

  test("q11_transform_join equals the untransformed part join") {
    val got = SparkEntry.queries("q11_transform_join")(spark, sf).count()
    val li = spark.read.parquet(s"$sf/lineitem.parquet").filter("l_quantity = 50")
    val p = spark.read.parquet(s"$sf/part.parquet")
    val exp = li.join(p, li("l_partkey") === p("p_partkey")).count()
    assert(got == exp && got > 0)
  }

  test("EXISTS group whose subject is an outer object var keeps that var in the solution") {
    // ?c names the EXISTS star (anti/semi-joined away) but the kept star
    // ?o binds it as an object var — SELECT ?c must resolve to o's column,
    // not drop it (valid SPARQL in the supported fragment)
    val df = graft.fixtures.TpchLake.run(spark, sf,
      """PREFIX g: <http://graft.io/schema/>
        |SELECT ?c ?t WHERE {
        |  ?o g:customer ?c . ?o g:totalprice ?t .
        |  FILTER(?t > 100000)
        |  FILTER EXISTS { ?c g:acctbal ?bal . FILTER(?bal > 5000) }
        |}""".stripMargin)
    assert(df.columns.toSeq == Seq("c", "t"))
    val ord = spark.read.parquet(s"$sf/orders.parquet").filter("o_totalprice > 100000")
    val cust = spark.read.parquet(s"$sf/customer.parquet").filter("c_acctbal > 5000")
    val exp = ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_semi")
      .selectExpr("o_custkey", "o_totalprice")
      .collect().map(_.mkString("|")).sorted.toSeq
    val got = df.collect().map(_.mkString("|")).sorted.toSeq
    assert(got == exp && got.nonEmpty)
    // same direction through NOT EXISTS (the left-anti machinery)
    val anti = graft.fixtures.TpchLake.run(spark, sf,
      """PREFIX g: <http://graft.io/schema/>
        |SELECT ?c ?t WHERE {
        |  ?o g:customer ?c . ?o g:totalprice ?t .
        |  FILTER(?t > 100000)
        |  FILTER NOT EXISTS { ?c g:acctbal ?bal . FILTER(?bal > 5000) }
        |}""".stripMargin).collect().map(_.mkString("|")).sorted.toSeq
    val expAnti = ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti")
      .selectExpr("o_custkey", "o_totalprice")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(anti == expAnti)
  }

  test("VALUES types literals per-column: mixed list keeps numeric members on a long column") {
    // g:region binds n_regionkey (long); "x" can never match a numeric
    // binding and is dropped instead of forcing a string comparison
    val mixed = graft.fixtures.TpchLake.run(spark, sf,
      """PREFIX g: <http://graft.io/schema/>
        |SELECT ?nname ?reg WHERE {
        |  ?n g:nationName ?nname . ?n g:region ?reg .
        |  VALUES ?reg { 1 "x" 2 }
        |}""".stripMargin)
    val regs = mixed.collect().map(_.getAs[Number](1).longValue).toSet
    assert(regs == Set(1L, 2L))
    // all-unparseable list on a numeric column → empty result, no error
    val none = graft.fixtures.TpchLake.run(spark, sf,
      """PREFIX g: <http://graft.io/schema/>
        |SELECT ?nname WHERE {
        |  ?n g:nationName ?nname . ?n g:region ?reg .
        |  VALUES ?reg { "x" }
        |}""".stripMargin)
    assert(none.count() == 0)
  }

  test("a star with no join edge is cross joined onto the chain") {
    // 1500 orders with their customer, times the 5 regions ?r ranges over
    val df = graft.fixtures.TpchLake.run(spark, sf,
      """PREFIX g: <http://graft.io/schema/>
        |SELECT ?n ?o ?rn WHERE {
        |  ?c g:custName ?n . ?o g:customer ?c . ?r g:regionName ?rn .
        |}""".stripMargin)
    assert(df.count() == 7500)
  }

  test("unsatisfiable star fails with a clear error") {
    val e = intercept[IllegalArgumentException] {
      graft.fixtures.TpchLake.run(spark, sf,
        "PREFIX g: <http://graft.io/schema/> SELECT ?x WHERE { ?a g:noSuchPred ?x . }")
    }
    assert(e.getMessage.contains("no relevant source"))
  }
}
