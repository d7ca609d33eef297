package graft

import graft.engine.{GraftEngine, SqlGenExecutor}
import graft.fixtures.TpchLake
import graft.sparql.SparqlParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end engine smoke on the sf0.001 tables (the full DuckDB-hash
  * correctness gate runs driver-side at sf0.01; scripts/check_oracle.py
  * replicates it locally). */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def read(t: String) = spark.read.parquet(s"$sf/$t.parquet")

  private def rows(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq

  /** `body`'s rows through the Column engine and the SQL engine, on the
    * lake at `dir`. */
  private def both(body: String, dir: String = sf): Seq[Seq[String]] = {
    val text = "PREFIX g: <http://graft.io/schema/>\n" + body
    val viaColumns = rows(TpchLake.run(spark, dir, text))
    val (m, c) = TpchLake.lake(dir)
    Seq(viaColumns, rows(SqlGenExecutor.execute(spark, SparqlParser.parse(text), m, c)))
  }

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
    val (m, c) = TpchLake.lake(sf)
    val star = SparqlParser.parse("PREFIX g: <http://graft.io/schema/>\n" +
      "SELECT * WHERE { ?c g:custName ?n . OPTIONAL { ?o g:customer ?c . ?o g:totalprice ?t } }")
    val a = GraftEngine.executeParsed(spark, star, m, c)
    val b = SqlGenExecutor.execute(spark, star, m, c)
    assert(a.columns.toSeq == Seq("c", "n", "o", "t") && b.columns.toSeq == a.columns.toSeq)
    assert(rows(a) == rows(b))
  }

  test("SELECT * and ASK keep a MINUS or NOT EXISTS group's own join and FILTER variables, in both engines") {
    val (m, c) = TpchLake.lake(sf)
    def run(body: String): Seq[(Seq[String], Seq[String])] = {
      val q = SparqlParser.parse("PREFIX g: <http://graft.io/schema/>\n" + body)
      Seq(GraftEngine.executeParsed(spark, q, m, c), SqlGenExecutor.execute(spark, q, m, c))
        .map(df => (df.columns.toSeq, rows(df)))
    }
    val names = read("customer").select("c_custkey", "c_name")
    // customers with no line of quantity > 49, through a three-star group
    val big = read("orders").join(read("lineitem").filter(col("l_quantity") > 49),
      col("o_orderkey") === col("l_orderkey"))
    val expChain = rows(names.join(big, col("c_custkey") === col("o_custkey"), "left_anti"))
    // customers whose balance is at most 9000, through a one-star group
    val expBal = rows(read("customer").filter(col("c_acctbal") <= 9000).select("c_custkey", "c_name"))
    assert(expChain.size == 65 && expBal.nonEmpty && expBal.size < 150)
    val chain = "{ ?o g:customer ?c . ?l g:order ?o . ?l g:quantity ?q . FILTER(?q > 49) }"
    val bal = "{ ?c g:acctbal ?b FILTER(?b > 9000) }"
    for ((kw, group, exp) <- Seq(("MINUS", chain, expChain), ("FILTER NOT EXISTS", chain, expChain),
        ("MINUS", bal, expBal), ("FILTER NOT EXISTS", bal, expBal))) {
      val query = s"SELECT * WHERE { ?c g:custName ?n . $kw $group }"
      for (got <- run(query)) assert(got == (Seq("c", "n"), exp), query)
      val ask = s"ASK WHERE { ?c g:custName ?n . $kw $group }"
      for ((_, got) <- run(ask)) assert(got == Seq("true"), ask)
    }
    // every balance is above -1000, so nothing survives the group
    assert(read("customer").filter(col("c_acctbal") <= -1000).isEmpty)
    val none = "ASK WHERE { ?c g:custName ?n . FILTER NOT EXISTS { ?c g:acctbal ?b FILTER(?b > -1000) } }"
    for ((_, got) <- run(none)) assert(got == Seq("false"), none)
  }

  test("VALUES on a BIND output joins it like any other binding, in both engines") {
    import spark.implicits._
    def expected(vals: Long*) = rows(read("customer").select(col("c_name"), lit(1L).as("x"))
      .join(vals.toDF("x"), "x").select("c_name", "x"))
    assert(expected(2).isEmpty && expected(1, 2).size == 150)
    for (got <- both("SELECT ?n ?x WHERE { ?c g:custName ?n . BIND(1 AS ?x) VALUES ?x { 2 } }"))
      assert(got == expected(2))
    for (got <- both("SELECT ?n ?x WHERE { ?c g:custName ?n . BIND(1 AS ?x) VALUES ?x { 1 2 } }"))
      assert(got == expected(1, 2))
  }

  test("VALUES on a variable only OPTIONAL binds joins by compatibility, in both engines") {
    import spark.implicits._
    val priced = read("customer").join(read("orders"), col("c_custkey") === col("o_custkey"), "left_outer")
    val cheapest = read("orders").agg(min("o_totalprice")).head.getDouble(0)
    def expected(vals: Double*) = rows(priced
      .join(vals.toDF("v"), col("o_totalprice").isNull || col("o_totalprice") === col("v"))
      .select(col("c_name"), coalesce(col("o_totalprice"), col("v"))))
    assert(expected(1).isEmpty && expected(1, cheapest).nonEmpty)
    val q = "SELECT ?n ?t WHERE { ?c g:custName ?n . " +
      "OPTIONAL { ?o g:customer ?c . ?o g:totalprice ?t } VALUES ?t { %s } }"
    for (got <- both(q.format("1"))) assert(got == expected(1))
    for (got <- both(q.format(s"1 $cheapest"))) assert(got == expected(1, cheapest))
  }

  test("an OPTIONAL group on a variable an earlier OPTIONAL group binds joins by compatibility, in both engines") {
    val priced = read("customer").join(read("orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_name"), col("o_totalprice").as("t"))
    val statuses = read("orders").select(col("o_totalprice").as("t2"), col("o_orderstatus").as("s"))
    val exp = rows(priced.join(statuses, col("t") === col("t2") || col("t").isNull, "left_outer")
      .select(col("c_name"), coalesce(col("t"), col("t2")), col("s")))
    assert(exp.size >= 1500)
    for (got <- both(
      """SELECT ?n ?t ?s WHERE { ?c g:custName ?n .
        |  OPTIONAL { ?o g:customer ?c . ?o g:totalprice ?t }
        |  OPTIONAL { ?o2 g:totalprice ?t . ?o2 g:orderstatus ?s }
        |}""".stripMargin)) assert(got == exp)
  }

  test("a variable one UNION branch leaves unbound joins a subquery by compatibility, in both engines") {
    // the customer branch leaves ?t unbound, so all 150 customers join the
    // subquery's one row; of the orders only the cheapest does
    val cheapest = read("orders").agg(min("o_totalprice").as("t"))
    val exp = rows(read("customer").crossJoin(cheapest).select(col("c_name"), col("t"))
      .union(read("orders").join(cheapest, col("o_totalprice") === col("t"))
        .select(lit(null).cast("string"), col("t"))))
    assert(exp.size == 151)
    for (got <- both(
      """SELECT ?n ?t WHERE {
        |  { ?c g:custName ?n } UNION { ?o g:totalprice ?t }
        |  { SELECT ?t WHERE { ?o2 g:totalprice ?t } ORDER BY ?t LIMIT 1 }
        |}""".stripMargin)) assert(got == exp)
  }

  test("a NULL source attribute makes no triple, in both engines") {
    // the sf0.001 lake with every third customer name NULL
    val dir = new java.io.File("target/null_lake")
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        f.listFiles().foreach(rmTree)
      f.delete()
    }
    rmTree(dir)
    dir.mkdirs()
    for (entry <- new java.io.File(sf).listFiles() if entry.getName != "customer.parquet")
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(dir, entry.getName).toPath, entry.toPath)
    read("customer")
      .withColumn("c_name", when(col("c_custkey") % 3 =!= 0, col("c_name")))
      .write.parquet(s"$dir/customer.parquet")
    val exp = rows(spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_name").isNotNull).select("c_custkey", "c_name"))
    assert(exp.size == 100)
    for (got <- both("SELECT ?c ?n WHERE { ?c g:custName ?n }", dir.getAbsolutePath))
      assert(got == exp)
    // a negated set expands into the names left, a NULL one included
    for (got <- both("SELECT ?c ?v WHERE { ?c a g:Customer . " +
        "?c !(g:custNation|g:acctbal|g:mktsegment) ?v }", dir.getAbsolutePath))
      assert(got == exp)
    // DESCRIBE lists no triple for a NULL name
    val described = spark.read.parquet(s"$dir/customer.parquet").filter(col("c_acctbal") > 9000)
    val attrs = Seq("custName" -> "c_name", "custNation" -> "c_nationkey",
      "acctbal" -> "c_acctbal", "mktsegment" -> "c_mktsegment")
    val triples = attrs.map { case (p, a) =>
      described.select(col("c_custkey").cast("string"), lit(s"http://graft.io/schema/$p"),
        col(a).cast("string"))
    }.reduce(_.union(_)).union(described.select(col("c_custkey").cast("string"),
      lit(graft.model.TriplePattern.RdfType), lit("http://graft.io/schema/Customer")))
    val expDescribe = rows(triples.na.drop())
    assert(expDescribe.size < rows(triples).size)
    for (got <- both("DESCRIBE ?c WHERE { ?c g:acctbal ?b . FILTER(?b > 9000) }",
        dir.getAbsolutePath)) assert(got == expDescribe)
  }

  test("UNION beside triple patterns or a group joins them, in both engines") {
    val names = read("customer").select(col("c_custkey").as("k"), col("c_name").as("v"))
    val segs = read("customer").select(col("c_custkey").as("k"), col("c_mktsegment").as("v"))
    val exp = rows(read("orders").join(names.union(segs), col("o_custkey") === col("k"))
      .select("o_orderkey", "v"))
    assert(exp.size == 3000)
    for (got <- both(
      "SELECT ?o ?v WHERE { ?o g:customer ?c . { ?c g:custName ?v } UNION { ?c g:mktsegment ?v } }"))
      assert(got == exp)
    val big = read("orders").filter(col("o_totalprice") > 300000)
    val expOpt = rows(names.union(segs).join(big, col("k") === col("o_custkey"), "left_outer")
      .select("k", "v", "o_totalprice"))
    for (got <- both(
      """SELECT ?c ?v ?t WHERE {
        |  { ?c g:custName ?v } UNION { ?c g:mktsegment ?v }
        |  OPTIONAL { ?o g:customer ?c . ?o g:totalprice ?t . FILTER(?t > 300000) }
        |}""".stripMargin)) assert(got == expOpt)
  }

  test("a FILTER beside a UNION applies to the union's solutions, in both engines") {
    val names = read("customer").select(col("c_name").as("name"))
      .union(read("supplier").select(col("s_name")))
    val exp = rows(names.filter(col("name") === "Customer#000000001"))
    assert(exp.size == 1)
    for (got <- both(
      """SELECT ?name WHERE {
        |  { ?c g:custName ?name } UNION { ?s g:suppName ?name }
        |  FILTER(?name = "Customer#000000001")
        |}""".stripMargin)) assert(got == exp)
  }

  test("path alternatives beside OPTIONAL, MINUS, EXISTS, closures, negated sets and UNION, in both engines") {
    val names = read("customer").select(col("c_custkey").as("k"), col("c_name").as("v"))
    val segs = read("customer").select(col("c_custkey").as("k"), col("c_mktsegment").as("v"))
    val alts = names.union(segs)
    val big = read("orders").filter(col("o_totalprice") > 300000)
    val bigGroup = "{ ?o g:customer ?c . ?o g:totalprice ?t . FILTER(?t > 300000) }"
    val alt = "?c g:custName|g:mktsegment ?v ."
    val cases = Seq(
      s"SELECT ?c ?v ?t WHERE { $alt OPTIONAL $bigGroup }" ->
        alts.join(big, col("k") === col("o_custkey"), "left_outer").select("k", "v", "o_totalprice"),
      s"SELECT ?c ?v WHERE { $alt MINUS $bigGroup }" ->
        alts.join(big, col("k") === col("o_custkey"), "left_anti"),
      s"SELECT ?c ?v WHERE { $alt FILTER EXISTS $bigGroup }" ->
        alts.join(big, col("k") === col("o_custkey"), "left_semi"),
      // emp 12's managers are 6, 3 and 1 (emp k reports to k/2)
      "SELECT ?e ?m ?v WHERE { ?e g:mgr+ ?m . ?m g:custName|g:mktsegment ?v . FILTER(?e = 12) }" ->
        alts.filter(col("k").isin(6, 3, 1)).select(lit(12L), col("k"), col("v")),
      // the set leaves g:mktsegment, the one unexcluded customer predicate
      s"SELECT ?c ?v ?w WHERE { ?c a g:Customer . $alt ?c !(g:custName|g:custNation|g:acctbal) ?w }" ->
        alts.join(segs.select(col("k"), col("v").as("w")), "k"),
      s"SELECT ?c ?v ?x WHERE { $alt { ?c g:acctbal ?x } UNION { ?c g:custNation ?x } }" ->
        alts.join(read("customer").select(col("c_custkey").as("k"), col("c_acctbal").as("x"))
          .union(read("customer").select(col("c_custkey"), col("c_nationkey"))), "k"))
    for ((query, expected) <- cases) {
      val exp = rows(expected)
      assert(exp.nonEmpty, query)
      for (got <- both(query)) assert(got == exp, query)
    }
  }

  test("SELECT * beside a subquery or a UNION lists the root node's variables, in both engines") {
    val (m, c) = TpchLake.lake(sf)
    val maxT = read("orders").groupBy(col("o_custkey").as("c")).agg(max("o_totalprice").as("maxT"))
    val cases = Seq(
      """SELECT * WHERE { ?c g:custName ?cn .
        |  { SELECT ?c (MAX(?tp) AS ?maxT) WHERE { ?o g:customer ?c . ?o g:totalprice ?tp } GROUP BY ?c }
        |}""".stripMargin ->
        (Seq("c", "cn", "maxT"),
          read("customer").join(maxT, col("c_custkey") === col("c")).select("c", "c_name", "maxT")),
      "SELECT * WHERE { { ?c g:custName ?n } UNION { ?s g:suppName ?n } }" ->
        (Seq("c", "n", "s"),
          read("customer").select(col("c_custkey"), col("c_name"), lit(null).cast("long"))
            .union(read("supplier").select(lit(null).cast("long"), col("s_name"), col("s_suppkey")))))
    for ((body, (columns, expected)) <- cases) {
      val q = SparqlParser.parse("PREFIX g: <http://graft.io/schema/>\n" + body)
      val a = GraftEngine.executeParsed(spark, q, m, c)
      val b = SqlGenExecutor.execute(spark, q, m, c)
      assert(a.columns.toSeq == columns && b.columns.toSeq == columns, body)
      assert(rows(a) == rows(expected) && rows(b) == rows(expected), body)
    }
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
