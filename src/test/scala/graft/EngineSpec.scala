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
    // ?c names the EXISTS group's star (semi-joined away) but the body's
    // star ?o binds it as an object var — SELECT ?c must resolve to o's column,
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
    // same direction through NOT EXISTS (a MINUS group, left anti join)
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

  test("OPTIONAL, MINUS and NOT EXISTS groups join on their shared variables in both engines") {
    import org.apache.spark.sql.functions.col
    def read(t: String) = spark.read.parquet(s"$sf/$t.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
    def both(body: String): Seq[Seq[String]] = {
      val (m, c) = graft.fixtures.TpchLake.lake(sf)
      val q = graft.sparql.SparqlParser.parse("PREFIX g: <http://graft.io/schema/>\n" + body)
      val viaColumns = graft.fixtures.TpchLake.run(spark, sf,
        "PREFIX g: <http://graft.io/schema/>\n" + body)
      Seq(rows(viaColumns), rows(graft.engine.SqlGenExecutor.execute(spark, q, m, c)))
    }
    // an OPTIONAL group of three patterns binds ?tp only where all of
    // them match: the order's customer must be Customer#000000001
    val cust1 = read("customer").filter(col("c_name") === "Customer#000000001")
    val tpOf = read("orders").join(cust1, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
    val expOpt = rows(read("lineitem").join(tpOf, col("l_orderkey") === col("o_orderkey"), "left_outer")
      .select(col("l_orderkey"), col("o_totalprice")))
    assert(expOpt.size == 6000 && expOpt.count(!_.endsWith("|null")) == 21)
    for (got <- both(
      """SELECT ?l ?tp WHERE { ?l g:order ?o .
        |  OPTIONAL { ?o g:totalprice ?tp . ?o g:customer ?c . ?c g:custName ?cn .
        |    FILTER(?cn = "Customer#000000001") }
        |}""".stripMargin)) assert(got == expOpt)
    // a MINUS / NOT EXISTS group on the body's own star still removes:
    // every customer has an account balance
    val expNone = rows(read("customer").join(read("customer").filter(col("c_acctbal").isNotNull),
      Seq("c_custkey"), "left_anti").select("c_custkey", "c_name"))
    assert(expNone.isEmpty)
    for (kw <- Seq("MINUS", "FILTER NOT EXISTS"); got <- both(
      s"SELECT ?c ?n WHERE { ?c g:custName ?n . $kw { ?c g:acctbal ?b } }"))
      assert(got == expNone, kw)
    // a MINUS group of three stars: customers with no line of quantity > 49
    val big = read("orders").join(read("lineitem").filter(col("l_quantity") > 49),
      col("o_orderkey") === col("l_orderkey"))
    val expChain = rows(read("customer").join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name"))
    assert(expChain.size == 65)
    for (got <- both(
      """SELECT ?c ?n WHERE { ?c g:custName ?n .
        |  MINUS { ?o g:customer ?c . ?l g:order ?o . ?l g:quantity ?q . FILTER(?q > 49) }
        |}""".stripMargin)) assert(got == expChain)
    // SELECT * lists an OPTIONAL group's own variables among the body's,
    // sorted, in both engines
    val (m, c) = graft.fixtures.TpchLake.lake(sf)
    val star = graft.sparql.SparqlParser.parse("PREFIX g: <http://graft.io/schema/>\n" +
      "SELECT * WHERE { ?c g:custName ?n . OPTIONAL { ?o g:customer ?c . ?o g:totalprice ?t } }")
    val a = graft.engine.GraftEngine.executeParsed(spark, star, m, c)
    val b = graft.engine.SqlGenExecutor.execute(spark, star, m, c)
    assert(a.columns.toSeq == Seq("c", "n", "o", "t") && b.columns.toSeq == a.columns.toSeq)
    assert(rows(a) == rows(b))
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
