package graft

import graft.model._
import graft.sparql.SparqlParser
import org.scalatest.funsuite.AnyFunSuite

class SparqlParserSpec extends AnyFunSuite {

  private val q1 =
    """PREFIX bsbm: <http://bsbm.org/v/>
      |PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
      |SELECT DISTINCT ?label ?p1
      |WHERE {
      |    ?product rdfs:label ?label .
      |    ?product bsbm:producer ?pcr .
      |    ?pcr bsbm:country ?c .
      |    ?product bsbm:propertyNumeric1 ?p1 .
      |    FILTER (?p1 > 630)
      |}
      |ORDER BY ?label
      |LIMIT 10""".stripMargin

  test("reference-shaped query parses into stars, filters, modifiers") {
    val q = SparqlParser.parse(q1)
    assert(q.distinct)
    assert(q.selectVarNames == Seq("label", "p1"))
    assert(q.stars.keySet == Set("product", "pcr"))
    assert(q.stars("product").size == 3)
    assert(q.filters == Seq(FilterCond("p1", ">", "630")))
    assert(q.orderBy == Seq(OrderKey("label", ascending = true)))
    assert(q.limit.contains(10))
    assert(q.patterns.contains(TriplePattern("pcr", "http://bsbm.org/v/country", ObjVar("c"))))
  }

  test("rdf:type via 'a' keyword and explicit qname") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        |SELECT ?x WHERE {
        |  ?r a s:Review .
        |  ?r rdf:type s:Review2 .
        |  ?r s:text ?x .
        |}""".stripMargin)
    val types = q.stars("r").collect {
      case TriplePattern(_, TriplePattern.RdfType, ObjIri(c)) => c
    }
    assert(types == Seq("http://s/Review", "http://s/Review2"))
  }

  test("semicolon predicate-object lists share the subject") {
    val q = SparqlParser.parse(
      "PREFIX s: <http://s/> SELECT ?a ?b WHERE { ?x s:p1 ?a ; s:p2 ?b . }")
    assert(q.stars("x").size == 2)
  }

  test("regex filter and '<' comparison disambiguation") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?n WHERE {
        |  ?x s:name ?n . ?x s:bal ?b .
        |  FILTER regex(?n, "%abc%")
        |  FILTER(?b < 0)
        |}""".stripMargin)
    assert(q.filters.toSet ==
      Set(FilterCond("n", "regex", "%abc%"), FilterCond("b", "<", "0")))
  }

  test("aggregates: SPARQL 1.1 AS form and reference bare form") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?g (SUM(?v) AS ?total) count(?v)
        |WHERE { ?x s:g ?g . ?x s:v ?v . }
        |GROUP BY ?g""".stripMargin)
    assert(q.aggregates == Seq(
      AggSpec("sum", "v", "total"), AggSpec("count", "v", "count(v)")))
    assert(q.groupBy == Seq("g"))
  }

  test("ORDER BY multi-key with ASC/DESC wrappers") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?a WHERE { ?x s:a ?a . ?x s:b ?b . }
        |ORDER BY DESC(?b) ?a""".stripMargin)
    assert(q.orderBy == Seq(OrderKey("b", ascending = false), OrderKey("a", ascending = true)))
  }

  test("TRANSFORM pseudo-clause is extracted and parsed") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?a WHERE { ?k s:x ?a . ?a s:y ?z . }
        |TRANSFORM(?k?a.l.toInt.scl(_+61) && ?k?a.r.toInt)""".stripMargin)
    assert(q.transforms == Seq(
      JoinTransform("k", "a", 'l', Seq(TransformFn("toInt", Nil), TransformFn("scl", Seq("_+61")))),
      JoinTransform("k", "a", 'r', Seq(TransformFn("toInt", Nil)))))
  }

  test("OPTIONAL group: star with only optional patterns is optional") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?n ?t WHERE {
        |  ?c s:name ?n .
        |  OPTIONAL { ?o s:cust ?c . ?o s:total ?t . FILTER(?t > 5) }
        |}""".stripMargin)
    // the group keeps its own patterns and filters, out of the body's
    val group = Filter(Seq(FilterCond("t", ">", "5")),
      Bgp(Seq(TriplePattern("o", "http://s/cust", ObjVar("c")),
        TriplePattern("o", "http://s/total", ObjVar("t")))))
    assert(q.where == LeftJoin(Bgp(Seq(TriplePattern("c", "http://s/name", ObjVar("n")))), group))
    assert(graft.engine.StarSpec.bound(group).maybe == Set("o", "c", "t"))
    assert(q.stars.keySet == Set("c"))
    assert(q.filters.isEmpty)
  }

  test("OPTIONAL predicates on a required star do not make it optional") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?n WHERE {
        |  ?c s:name ?n .
        |  OPTIONAL { ?c s:phone ?p . }
        |}""".stripMargin)
    // the required star keeps only its required pattern; the OPTIONAL
    // one joins it on ?c as a group of its own
    assert(q.stars("c") == Seq(TriplePattern("c", "http://s/name", ObjVar("n"))))
    assert(q.where == LeftJoin(q.bgp, Bgp(Seq(TriplePattern("c", "http://s/phone", ObjVar("p"))))))
  }

  test("OPTIONAL filter on an outer variable is rejected") {
    // the query parses; planning the group's attachment refuses it
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?n WHERE {
        |  ?c s:name ?n .
        |  OPTIONAL { ?o s:cust ?c . FILTER(?n = "x") }
        |}""".stripMargin)
    val e = intercept[IllegalArgumentException](graft.engine.StarSpec.plan(q))
    assert(e.getMessage.contains("FILTER(?n ...) inside OPTIONAL must reference a variable " +
      "bound by the group"), e.getMessage)
  }

  test("MINUS group: star with only minus patterns is a minus star") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?n WHERE {
        |  ?c s:name ?n .
        |  MINUS { ?o s:cust ?c . ?o s:total ?t . }
        |}""".stripMargin)
    val Minus(_, group: Bgp) = q.where: @unchecked
    assert(group.stars.keySet == Set("o"))
    assert(q.stars.keySet == Set("c"))
  }

  test("UNION branches parse separately; beside top-level triples they join a leaf") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?n WHERE {
        |  { ?c s:cname ?n . } UNION { ?x s:sname ?n . } UNION { ?y s:pname ?n . }
        |}""".stripMargin)
    assert(graft.engine.StarSpec.branches(q.where).map(_.bgp.stars.keySet) ==
      Seq(Set("c"), Set("x"), Set("y")))
    assert(q.patterns.isEmpty)
    val mixed = SparqlParser.parse(
      "PREFIX s: <http://s/> SELECT ?n WHERE { ?a s:p ?n . { ?c s:c ?n . } UNION { ?x s:s ?n . } }")
    assert(mixed.where == Join(Bgp(Seq(TriplePattern("a", "http://s/p", ObjVar("n")))),
      Union(Bgp(Seq(TriplePattern("c", "http://s/c", ObjVar("n")))),
        Bgp(Seq(TriplePattern("x", "http://s/s", ObjVar("n")))))))
  }

  test("decimal literals in filters survive tokenization") {
    val q = SparqlParser.parse(
      "PREFIX s: <http://s/> SELECT ?v WHERE { ?x s:v ?v . FILTER(?v >= 10.5) }")
    assert(q.filters == Seq(FilterCond("v", ">=", "10.5")))
  }

  test("FILTER IN / NOT IN parse with mixed literal types") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?v WHERE { ?x s:v ?v . ?x s:w ?w .
        |  FILTER(?v IN ("A", "B", "C")) FILTER(?w NOT IN (1, 2)) }""".stripMargin)
    assert(q.filters == Seq(
      FilterCond("v", "in", "", Seq("A", "B", "C")),
      FilterCond("w", "not in", "", Seq("1", "2"))))
  }

  test("SPARQL builtin calls parse as BFun with arity preserved") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?u WHERE { ?x s:a ?a .
        |  BIND(UCASE(?a) AS ?u)
        |  BIND(SUBSTR(?a, 1, 5) AS ?s5)
        |  BIND(IF(CONTAINS(?a, "x"), 1, 0) AS ?f)
        |}""".stripMargin)
    val byOut = binds(q.where).map(b => b.outVar -> b.expr).toMap
    assert(byOut("u") == BFun("ucase", Seq(BVar("a"))))
    assert(byOut("s5") == BFun("substr", Seq(BVar("a"), BNum("1"), BNum("5"))))
    assert(byOut("f") == BFun("if",
      Seq(BFun("contains", Seq(BVar("a"), BStr("x"))), BNum("1"), BNum("0"))))
  }

  test("ASK form parses; GROUP_CONCAT separator and SAMPLE parse") {
    val a = SparqlParser.parse(
      "PREFIX s: <http://s/> ASK WHERE { ?x s:v ?v . FILTER(?v > 5) }")
    assert(a.ask && a.selectAll)
    val g = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?k (GROUP_CONCAT(?v; SEPARATOR="|") AS ?vs) (SAMPLE(?v) AS ?one)
        |WHERE { ?x s:k ?k . ?x s:v ?v . } GROUP BY ?k""".stripMargin)
    val aggs = g.selectItems.collect { case SelectAgg(x) => x }
    assert(aggs == Seq(
      AggSpec("group_concat", "v", "vs", distinct = false, separator = "|"),
      AggSpec("sample", "v", "one")))
  }

  test("FILTER EXISTS / NOT EXISTS become semi / anti stars") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?v WHERE { ?x s:v ?v .
        |  FILTER EXISTS { ?y s:ref ?x . }
        |  FILTER NOT EXISTS { ?z s:neg ?x . }
        |}""".stripMargin)
    // both wrap the group: EXISTS a semi join, NOT EXISTS an anti join
    assert(q.where == Filter(Seq(
      Exists(Bgp(Seq(TriplePattern("y", "http://s/ref", ObjVar("x")))), negated = false),
      Exists(Bgp(Seq(TriplePattern("z", "http://s/neg", ObjVar("x")))), negated = true)),
      Bgp(Seq(TriplePattern("x", "http://s/v", ObjVar("v"))))))
    assert(q.stars.keySet == Set("x"))
  }

  test("sequence property path desugars to chained triples over fresh vars") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?z WHERE { ?x s:a/s:b/s:c ?z . ?x s:d ?d . }""".stripMargin)
    assert(q.patterns == Seq(
      TriplePattern("x", "http://s/a", ObjVar("__path0")),
      TriplePattern("__path0", "http://s/b", ObjVar("__path1")),
      TriplePattern("__path1", "http://s/c", ObjVar("z")),
      TriplePattern("x", "http://s/d", ObjVar("d"))))
  }

  test("inverse path swaps roles; CONSTRUCT template parses with body separate") {
    val q = SparqlParser.parse(
      "PREFIX s: <http://s/> SELECT ?v WHERE { ?x ^s:ref ?y . ?x s:v ?v . }")
    assert(q.patterns.contains(TriplePattern("y", "http://s/ref", ObjVar("x"))))
    val c = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |CONSTRUCT { ?x s:out ?v . } WHERE { ?x s:v ?v . }""".stripMargin)
    assert(c.construct == Seq(TriplePattern("x", "http://s/out", ObjVar("v"))))
    assert(c.patterns == Seq(TriplePattern("x", "http://s/v", ObjVar("v"))))
    assert(c.selectAll && !c.ask)
  }

  test("BIND expressions: precedence, parens, concat, signed literals") {
    val q = SparqlParser.parse(
      """PREFIX s: <http://s/>
        |SELECT ?z WHERE {
        |  ?x s:a ?a . ?x s:b ?b .
        |  BIND(?a + ?b * 2 AS ?p)
        |  BIND((?a + ?b) * 2 AS ?q)
        |  BIND(?a - 3 AS ?r)
        |  BIND(CONCAT(?a, "_", ?b) AS ?z)
        |}""".stripMargin)
    val byOut = binds(q.where).map(b => b.outVar -> b.expr).toMap
    // * binds tighter than +
    assert(byOut("p") == BOp("+", BVar("a"), BOp("*", BVar("b"), BNum("2"))))
    // parens override precedence
    assert(byOut("q") == BOp("*", BOp("+", BVar("a"), BVar("b")), BNum("2")))
    // tokenizer-fused "-3" in operator position splits into op + literal
    assert(byOut("r") == BOp("-", BVar("a"), BNum("3")))
    assert(byOut("z") == BFun("concat", Seq(BVar("a"), BStr("_"), BVar("b"))))
    // pruning sees all operand vars, not bind outputs
    assert(binds(q.where).flatMap(_.expr.vars).toSet == Set("a", "b"))
  }

  /** The BIND specs of a group, in query order. */
  private def binds(p: Pattern): Seq[BindSpec] = p match {
    case Extend(i, b) => binds(i) :+ b
    case _ => Nil
  }
}
