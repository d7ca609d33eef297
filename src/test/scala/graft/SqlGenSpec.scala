package graft

import graft.engine.SqlGenExecutor
import graft.fixtures.TpchLake
import graft.sparql.SparqlParser
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-generation engine (reference Presto-path counterpart) must
  * agree with the Column engine on every gated query shape — same SPARQL
  * in, same rows out — and must refuse shapes it does not lower instead
  * of generating wrong SQL. (The sg* driver gates additionally run the
  * generated string through DuckDB.) */
class SqlGenSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  // derived from the ONE authoritative gate list (EngineQueries) — a new
  // sg gate is auto-covered here; rounds 6–8 each shipped a stale
  // hand-copied variant of this list somewhere
  private val gatePairs = EngineQueries.sqlGenGates

  // gates whose filter thresholds / OFFSET exceed the tiny sf0.001 tables
  // and leave 0 rows (both engines agree on empty); every other gate must
  // produce rows
  private val mayBeEmpty =
    Set("sg05_sqlgen_having", "sg13_sqlgen_offset", "sg14_sqlgen_not_exists")

  test("SQL-gen engine agrees with the Column engine on every gated shape") {
    for ((sg, src) <- gatePairs) {
      val a = SparkEntry.queries(sg)(spark, sf)
      val b = SparkEntry.queries(src)(spark, sf)
      assert(a.columns.toSeq == b.columns.toSeq, s"$sg columns")
      val ra = a.collect().map(_.mkString("|")).sorted.toSeq
      val rb = b.collect().map(_.mkString("|")).sorted.toSeq
      assert(ra == rb, s"$sg rows differ from $src")
      if (!mayBeEmpty(sg)) assert(ra.nonEmpty, s"$sg returned no rows")
    }
  }

  test("lowering is a single statement over base tables, filters pushed into stars") {
    val (m, c) = TpchLake.lake(sf)
    val q = SparqlParser.parse(
      "PREFIX g: <http://graft.io/schema/>\n" +
        """SELECT ?cname ?total WHERE {
          |  ?o g:customer ?c . ?o g:totalprice ?total .
          |  ?c g:custName ?cname .
          |  FILTER(?total > 200000)
          |}""".stripMargin)
    val l = SqlGenExecutor.lower(q, m, c)
    assert(l.tables.map(_.name).sorted == Seq("customer", "orders"))
    // the filter must sit inside the o star's subquery (before the join),
    // not in the outer query
    val joinIdx = l.sql.indexOf(" JOIN ")
    val filterIdx = l.sql.indexOf("o__total > 200000")
    assert(filterIdx >= 0 && joinIdx >= 0)
    assert(l.sql.startsWith("SELECT "))
  }

  test("UNION branches with different variables NULL-pad positionally") {
    val (m, c) = TpchLake.lake(sf)
    val q = SparqlParser.parse(
      "PREFIX g: <http://graft.io/schema/>\n" +
        """SELECT ?name ?ab WHERE {
          |  { ?c g:custName ?name . ?c g:acctbal ?ab . }
          |  UNION
          |  { ?s g:suppName ?name . }
          |}""".stripMargin)
    val a = graft.engine.GraftEngine.executeParsed(spark, q, m, c)
    val b = SqlGenExecutor.execute(spark, q, m, c)
    assert(a.columns.toSeq == b.columns.toSeq)
    val ra = a.collect().map(_.mkString("|")).sorted.toSeq
    val rb = b.collect().map(_.mkString("|")).sorted.toSeq
    assert(ra == rb && ra.nonEmpty)
    // the supplier branch leaves ?ab unbound → null
    assert(ra.exists(_.endsWith("|null")))
  }

  test("unsupported shapes are refused, not mis-lowered") {
    val (m, c) = TpchLake.lake(sf)
    def refuse(sparql: String, needle: String): Unit = {
      // require → IllegalArgumentException, sys.error → RuntimeException
      val e = intercept[RuntimeException] {
        SqlGenExecutor.lower(SparqlParser.parse(
          "PREFIX g: <http://graft.io/schema/>\n" + sparql), m, c)
      }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    // a star with no join edge beside joined ones is a Cross step of the
    // shared join plan: the Column engine cross-joins it, SQL refuses
    // (the lowering once left ?r out of the FROM)
    refuse(
      """SELECT ?n ?o ?rn WHERE {
        |  ?c g:custName ?n . ?o g:customer ?c . ?r g:regionName ?rn .
        |}""".stripMargin, "disconnected join graph is not SQL-lowered")
  }

  test("both engines refuse the same bad queries with the same message") {
    val (m, c) = TpchLake.lake(sf)
    val bad = Seq(
      "SELECT ?x ?v WHERE { ?x g:noSuchPredicate ?v }" -> "no relevant source for star ?x",
      """SELECT ?o WHERE {
        |  ?o g:customer ?c . ?o2 g:customer ?c .
        |  MINUS { ?c g:custName ?n }
        |}""".stripMargin -> "2 stars but no join conditions (cartesian query)",
      "DESCRIBE ?n WHERE { ?c g:custName ?n }" -> "DESCRIBE ?n requires ?n to be a star subject",
      "SELECT ?r ?v WHERE { ?r a g:Region . ?r !g:regionName ?v }" ->
        "excludes every mapped predicate",
      "SELECT ?r ?t WHERE { ?r (g:regionName/g:noSuchHop)+ ?t }" ->
        "no relevant source maps the path predicate <http://graft.io/schema/noSuchHop>",
      // the join plan's and the group attachment's refusals: required
      // stars joined only through an OPTIONAL group (SQL once lowered it
      // as an inner join after the LEFT JOIN); a MINUS group sharing no
      // variable (the Column engine once cross-joined it, removing
      // nothing); an OPTIONAL group joining two cross-joined parts; a
      // group variable only an earlier OPTIONAL group binds; a group
      // FILTER on an outer variable
      """SELECT ?l ?cn WHERE {
        |  ?l g:order ?o . OPTIONAL { ?o g:customer ?c } ?c g:custName ?cn .
        |}""".stripMargin -> "2 stars but no join conditions (cartesian query)",
      """SELECT ?c ?n WHERE {
        |  ?c g:custName ?n .
        |  MINUS { ?m1 g:order ?m2 . ?m2 g:totalprice ?tp }
        |}""".stripMargin -> "MINUS group shares no variable with the enclosing pattern",
      """SELECT ?l ?cn WHERE {
        |  ?l g:order ?o . ?o g:totalprice ?tp . ?c g:custName ?cn .
        |  OPTIONAL { ?o g:customer ?c }
        |}""".stripMargin -> "OPTIONAL group joins ?c, ?o, which lie in disconnected parts",
      """SELECT ?c ?n WHERE {
        |  ?c g:custName ?n .
        |  OPTIONAL { ?o g:customer ?c . ?o g:totalprice ?tp }
        |  MINUS { ?o2 g:totalprice ?tp }
        |}""".stripMargin -> "?tp in a MINUS group is bound only by an earlier OPTIONAL group",
      """SELECT ?c ?n WHERE {
        |  ?c g:custName ?n .
        |  FILTER EXISTS { ?o g:customer ?c . FILTER(?n = "x") }
        |}""".stripMargin -> "FILTER(?n ...) inside FILTER EXISTS must reference a variable")
    for ((sparql, needle) <- bad) {
      val q = SparqlParser.parse(FixP + sparql)
      val viaColumns = intercept[IllegalArgumentException] {
        graft.engine.GraftEngine.executeParsed(spark, q, m, c)
      }
      val viaSql = intercept[IllegalArgumentException] { SqlGenExecutor.lower(q, m, c) }
      assert(viaColumns.getMessage.contains(needle), viaColumns.getMessage)
      assert(viaSql.getMessage == viaColumns.getMessage)
    }
  }

  private val FixP = "PREFIX g: <http://graft.io/schema/>\n"
  private def fixtureMappings(entries: Seq[(String, String, String, String)]): String =
    s"""@prefix g: <http://graft.io/schema/>
       |@prefix rr: <http://www.w3.org/ns/r2rml#>
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#>
       |@prefix nosql: <http://purl.org/db/nosql#>
       |
       |""".stripMargin + entries.map { case (name, src, store, clazz) =>
      s"""<#${name}Map>
         |  rml:logicalSource [ rml:source "$src"; nosql:store nosql:$store ];
         |  rr:subjectMap [ rr:template "http://graft.io/$name/{k}"; rr:class g:$clazz ];
         |  rr:predicateObjectMap [ rr:predicate g:xv; rr:objectMap [ rml:reference "v" ] ] .
         |""".stripMargin
    }.mkString("\n")

  test("a reserved-word basename is t_-prefixed, never emitted as a bare identifier") {
    val dir = "target/derived/sqlgen_resv"
    spark.range(3).selectExpr("id as k", "concat('v', id) as v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/order.parquet")
    val m = graft.mappings.RmlParser.parse(
      fixtureMappings(Seq(("ord", s"$dir/order.parquet", "parquet", "Ord"))))
    val c = graft.mappings.ConfigParser.parse(
      s"""{"sources":[{"type":"parquet","options":{},"source":"$dir/order.parquet","entity":"Ord"}]}""")
    val q = SparqlParser.parse(FixP + "SELECT ?s ?v WHERE { ?s a g:Ord . ?s g:xv ?v . }")
    val l = SqlGenExecutor.lower(q, m, c)
    assert(l.tables.map(_.name) == Seq("t_order"), l.tables.toString)
    assert(!l.sql.matches("(?is).*\\bFROM\\s+order\\b.*"), l.sql)
    // and the generated statement actually parses + runs on Spark SQL
    val rows = SqlGenExecutor.execute(spark, q, m, c)
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(rows == Seq("0|v0", "1|v1", "2|v2"))
  }

  test("two sources sharing a basename refuse loudly instead of colliding in the view map") {
    // x.csv and x.json both sanitize to view name `x` — pre-require the
    // second registration silently overwrote the first (last path wins →
    // the generated SQL reads the WRONG data). lower() must refuse; no
    // files are needed since registration precedes any read.
    val m = graft.mappings.RmlParser.parse(fixtureMappings(Seq(
      ("xa", "target/derived/nowhere_a/x.csv", "csv", "X"),
      ("xb", "target/derived/nowhere_b/x.json", "json", "X"))))
    val c = graft.mappings.ConfigParser.parse(
      """{"sources":[
        |{"type":"csv","options":{"header":"true"},"source":"target/derived/nowhere_a/x.csv","entity":"X"},
        |{"type":"json","options":{},"source":"target/derived/nowhere_b/x.json","entity":"X"}]}""".stripMargin)
    val q = SparqlParser.parse(FixP + "SELECT ?s ?v WHERE { ?s a g:X . ?s g:xv ?v . }")
    val e = intercept[IllegalArgumentException] { SqlGenExecutor.lower(q, m, c) }
    assert(e.getMessage.contains("collides"), e.getMessage)
    assert(e.getMessage.contains("x.csv") && e.getMessage.contains("x.json"), e.getMessage)
  }

  test("documented sg gate counts match the authoritative gate list (no hand-written drift)") {
    // rounds 6–8 each needed a dedicated doc-sync commit for a stale
    // sgNN count; this turns that drift into a red test
    val n = EngineQueries.sqlGenGates.size
    assert(gatePairs.size == n) // this spec derives from the same list
    for (doc <- Seq("COVERAGE.md", "README.md")) {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(doc)), "UTF-8")
      val ranges = "sg01–sg(\\d+)".r.findAllMatchIn(text).map(_.group(1).toInt).toSeq
      assert(ranges.nonEmpty, s"$doc no longer states an sg gate range")
      assert(ranges.forall(_ == n), s"$doc claims sg01–sg${ranges.distinct.mkString("/")} but $n gates exist")
      for (m <- "(\\d+) gate pairs".r.findAllMatchIn(text))
        assert(m.group(1).toInt == n, s"$doc claims ${m.group(1)} gate pairs but $n exist")
      for (m <- "(\\d+)/(\\d+)\\s+agree".r.findAllMatchIn(text))
        assert(m.group(1).toInt == n, s"$doc claims ${m.group(0)} but $n gates exist")
    }
    // same guard for the driver-gate total README cites
    val q = SparkEntry.queries.size
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    for (m <- "(\\d+) operator-coverage entries".r.findAllMatchIn(readme))
      assert(m.group(1).toInt == q, s"README claims ${m.group(0)} but SparkEntry.queries has $q")
    // the spec total is runtime-generated (one suite loops test(s"...")),
    // so README deliberately does not hand-write that number
    assert(!"(\\d+) specs".r.findFirstIn(readme).isDefined,
      "README hand-writes a spec count again — keep it derived or absent")
  }

  test("an sg gate self-provisions derived fixtures from a fresh target dir") {
    // Root cause of sg27's five-round absence from the driver artifacts:
    // the sg closures never called ensureDerived, so they only worked if a
    // Column-engine gate (which does) happened to iterate earlier in
    // SparkEntry.queries' hash-arbitrary order. sg27 hashes before ALL of
    // them, so on a fresh clone (empty target/derived) it threw
    // PATH_NOT_FOUND on org_parquet and Verify wrote no row for it — while
    // its identical twin sg34, hashed later, passed. Reproduce the
    // fresh-start condition: a lake dir under a label whose derived
    // fixtures are wiped, then the sg gate alone must succeed.
    val label = "sf-fresh-sg"
    val freshDir = new java.io.File(s"/root/repo/target/$label")
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        f.listFiles().foreach(rmTree)
      f.delete()
    }
    rmTree(freshDir)
    rmTree(new java.io.File(s"/root/repo/target/derived/$label"))
    freshDir.mkdirs()
    for (entry <- new java.io.File(sf).listFiles())
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(freshDir, entry.getName).toPath, entry.toPath)
    val rows = SparkEntry.queries("sg27_sqlgen_path_seeded")(
      spark, freshDir.getAbsolutePath).collect()
    assert(rows.nonEmpty, "sg27 must self-provision org_parquet and answer")
  }

  test("string literals that merely parse as doubles stay quoted") {
    val (m, c) = TpchLake.lake(sf)
    def lowered(value: String): String =
      SqlGenExecutor.lower(SparqlParser.parse(
        "PREFIX g: <http://graft.io/schema/>\n" +
          s"""SELECT ?n WHERE { ?c g:custName ?n . FILTER(?n != "$value") }"""), m, c).sql
    // "Infinity"/"NaN"/"+5"/"1e3" pass toDoubleOption but are not portable
    // unquoted SQL tokens — they must be emitted as quoted strings
    for (v <- Seq("Infinity", "NaN", "+5", "1e3"))
      assert(lowered(v).contains(s"'$v'"), s"$v must stay quoted")
    // plain numerics stay unquoted so numeric comparisons type correctly
    assert(lowered("42").contains("<> 42"))
    assert(lowered("-1.5").contains("<> -1.5"))
  }
}
