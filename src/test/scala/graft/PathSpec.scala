package graft

import graft.fixtures.TpchLake
import graft.sparql.SparqlParser
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SPARQL 1.1 property paths: alternatives (`p1|p2` → UNION branches),
  * one-or-more (`p+`) and zero-or-more (`p*`) closures over the derived
  * management hierarchy (emp k reports to k/2 — a binary tree, so every
  * ancestor set is the bit-shift chain k/2, k/4, …, 1). */
class PathSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val P = "PREFIX g: <http://graft.io/schema/>\n"

  test("alternative path desugars to UNION branches sharing the rest of the body") {
    val q = SparqlParser.parse(P +
      "SELECT ?cn ?v WHERE { ?o g:customer ?c . ?o g:orderpriority|g:orderstatus ?v . ?c g:custName ?cn . }")
    // the group's one leaf expands into a UNION of two leaves
    val branches = graft.engine.StarSpec.branches(q.where)
    assert(q.where.isInstanceOf[graft.model.Union] && branches.size == 2)
    assert(q.patterns.isEmpty)
    // each branch carries the join triple, the custName leg, and one alternative
    val leaves = branches.collect { case b: graft.model.Bgp => b.patterns }
    assert(leaves.size == 2 && leaves.forall(_.size == 3))
    val preds = leaves.flatten.map(_.predicate).toSet
    assert(preds.exists(_.endsWith("orderpriority")) && preds.exists(_.endsWith("orderstatus")))
  }

  test("two alternative triples expand to the cross product of choices") {
    val q = SparqlParser.parse(P +
      "SELECT ?a ?b WHERE { ?p g:partName|g:brand ?a . ?p g:ptype|g:psize ?b . }")
    val branches = graft.engine.StarSpec.branches(q.where)
    assert(branches.size == 4 && branches.forall(_.isInstanceOf[graft.model.Bgp]))
  }

  test("p+ / p* record closure specs; modifiers are rejected inside groups") {
    val q = SparqlParser.parse(P + "SELECT ?e ?m WHERE { ?e g:mgr+ ?m . }")
    assert(q.bgp.closures == Seq(graft.model.PathClosure("e", TpchLake.NS + "mgr", "m", graft.model.PathMod.OneOrMore)))
    val q2 = SparqlParser.parse(P + "SELECT ?e ?m WHERE { ?e g:mgr* ?m . }")
    assert(q2.bgp.closures.head.reflexive)
    intercept[RuntimeException] {
      SparqlParser.parse(P + "SELECT ?e WHERE { ?x g:a ?e . OPTIONAL { ?e g:mgr+ ?m . } }")
    }
    intercept[RuntimeException] { // modifier on a sequence path
      SparqlParser.parse(P + "SELECT ?e ?m WHERE { ?e g:mgr/g:mgr+ ?m . }")
    }
  }

  test("p? records a ZeroOrOne closure; bare ? is not confused with ?var") {
    val q = SparqlParser.parse(P + "SELECT ?e ?m WHERE { ?e g:mgr? ?m . }")
    assert(q.bgp.closures == Seq(graft.model.PathClosure("e", TpchLake.NS + "mgr", "m",
      graft.model.PathMod.ZeroOrOne)))
    val cl = q.bgp.closures.head
    assert(cl.reflexive && !cl.transitive)
  }

  test("(p1/p2)+ parses as a composite-hop closure; malformed groups are rejected") {
    val q = SparqlParser.parse(P + "SELECT ?e ?m WHERE { ?e (g:mgr/g:mgr)+ ?m . }")
    assert(q.bgp.closures == Seq(graft.model.PathClosure("e", TpchLake.NS + "mgr", "m",
      graft.model.PathMod.OneOrMore, morePredicates = Seq(TpchLake.NS + "mgr"))))
    assert(q.bgp.closures.head.predicates.size == 2)
    val qz = SparqlParser.parse(P + "SELECT ?e ?m WHERE { ?e (g:mgr/g:mgr)? ?m . }")
    assert(qz.bgp.closures.head.mod == graft.model.PathMod.ZeroOrOne)
    intercept[RuntimeException] { // modifier inside the group
      SparqlParser.parse(P + "SELECT ?e ?m WHERE { ?e (g:mgr+/g:mgr)+ ?m . }")
    }
    intercept[RuntimeException] { // group without a modifier
      SparqlParser.parse(P + "SELECT ?e ?m WHERE { ?e (g:mgr/g:mgr) ?m . }")
    }
  }

  test("q54 walks even-length chains only — a strict subset of q42's full closure") {
    val even = SparkEntry.queries("q54_path_seq_plus")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = SparkEntry.queries("q42_path_plus")(spark, sf) // (e, mgr NAME)
    // emp 8's ancestors: p+ gives 4, 2, 1; (mgr/mgr)+ must give exactly 2
    assert(even.filter(_._1 == 8L).map(_._2) == Set(2L))
    // emp 16: even hops land on 4 and 1
    assert(even.filter(_._1 == 16L).map(_._2) == Set(4L, 1L))
    assert(even.size < all.count())
  }

  test("q53_path_zeroone excludes multi-hop pairs (p? is not p*)") {
    val rows = SparkEntry.queries("q53_path_zeroone")(spark, sf)
    // emp 4's ancestors under p* are 2 AND 1; p? must keep only the
    // one-hop manager 2 (plus the reflexive pair 4-4)
    val m4 = rows.filter(col("e") === 4).select("m").collect().map(_.getLong(0)).toSet
    assert(m4 == Set(2L, 4L))
    val star = SparkEntry.queries("q43_path_star")(spark, sf)
    assert(rows.count() < star.count())
  }

  test("q41_alt_path equals the two-branch union") {
    val rows = SparkEntry.queries("q41_alt_path")(spark, sf).count()
    val orders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows == 2 * orders)
  }

  test("q42_path_plus yields exactly the binary-tree ancestor chains") {
    val df = SparkEntry.queries("q42_path_plus")(spark, sf)
    assert(df.columns.toSeq == Seq("e", "mn"))
    val names = spark.read.parquet(s"$sf/customer.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = df.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // every employee's managers are exactly the k/2, k/4, …, 1 chain
    def chain(k: Long): Seq[String] =
      Iterator.iterate(k / 2)(_ / 2).takeWhile(_ >= 1).map(names).toSeq.sorted
    for (k <- names.keys) {
      val expect = chain(k)
      if (expect.isEmpty) assert(!got.contains(k), s"root $k must have no managers")
      else assert(got(k) == expect, s"ancestors of $k")
    }
  }

  test("q43_path_star adds the reflexive pairs") {
    val plus = TpchLake.run(spark, sf, P + "SELECT ?e ?m WHERE { ?e g:mgr+ ?m . }").count()
    val star = SparkEntry.queries("q43_path_star")(spark, sf).count()
    val n = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(star == plus + n)
  }

  test("negated property set expands to every non-excluded mapped predicate") {
    val q = SparqlParser.parse(P +
      "SELECT ?c ?v WHERE { ?c a g:Customer . ?c !(g:custNation|g:acctbal) ?v . }")
    assert(q.bgp.negations ==
      Seq(graft.model.NegatedPath("c",
        Seq(TpchLake.NS + "custNation", TpchLake.NS + "acctbal"), "v")))
    val rows = SparkEntry.queries("q47_negated_set")(spark, sf).count()
    val n = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(rows == 2 * n) // custName + mktsegment per customer
    // single-predicate form !p
    val one = TpchLake.run(spark, sf, P +
      "SELECT ?n ?v WHERE { ?n a g:Nation . ?n !g:region ?v . }").collect()
    val nations = spark.read.parquet(s"$sf/nation.parquet").count()
    assert(one.length == nations && one.forall(!_.getString(1).forall(_.isDigit)))
    // excluding everything is an error, not an empty result
    intercept[IllegalArgumentException] {
      TpchLake.run(spark, sf, P +
        "SELECT ?n ?v WHERE { ?n a g:Nation . ?n !(g:region|g:nationName) ?v . }")
        .count()
    }
  }

  test("DESCRIBE emits all mapped predicates plus rdf:type for the bound resources") {
    val df = SparkEntry.queries("q44_describe")(spark, sf)
    assert(df.columns.toSeq == Seq("s", "p", "o"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val nations0 = spark.read.parquet(s"$sf/nation.parquet")
      .filter("n_regionkey = 0").collect()
      .map(r => r.get(0).toString).toSet
    assert(rows.map(_._1).toSet == nations0)
    // exactly 3 triples per nation: type, name, region
    assert(rows.length == nations0.size * 3)
    assert(rows.count(_._2.endsWith("#type")) == nations0.size)
    assert(rows.filter(_._2.endsWith("region")).forall(_._3 == "0"))
  }

  test("Closure.fromSeeds walks the full chain from the seed set and terminates on cycles") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 3L), (12L, 6L))
      .toDF("src", "dst")
    val got = graft.ops.Closure.fromSeeds(edges, Seq(12L).toDF("src"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((12L, 6L), (12L, 3L), (12L, 1L)))
    // a seed with no outgoing edge reaches nothing (and must not crash)
    assert(graft.ops.Closure.fromSeeds(edges, Seq(99L).toDF("src")).isEmpty)
    // cyclic graph: the anti-join drains the frontier, no livelock
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val gotCyc = graft.ops.Closure.fromSeeds(cyc, Seq(1L).toDF("src"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotCyc == Set((1L, 2L), (1L, 3L), (1L, 1L)))
  }

  test("FILTER on the subject seeds the closure but not the edge scan: + form") {
    // emp 12's ancestors are 6, 3, 1 — a subject filter pushed into the
    // one-hop edge scan would leave only the direct manager 6
    val got = TpchLake.run(spark, sf,
        P + "SELECT ?e ?m WHERE { ?e g:mgr+ ?m . FILTER(?e = 12) }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((12L, 6L), (12L, 3L), (12L, 1L)))
  }

  test("FILTER on the subject seeds the closure: * form adds the reflexive pair") {
    val got = TpchLake.run(spark, sf,
        P + "SELECT ?e ?m WHERE { ?e g:mgr* ?m . FILTER(?e = 12) }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((12L, 12L), (12L, 6L), (12L, 3L), (12L, 1L)))
  }

  test("VALUES on the subject seeds the closure: + and * forms") {
    val plus = TpchLake.run(spark, sf,
        P + "SELECT ?e ?m WHERE { ?e g:mgr+ ?m . VALUES ?e { 12 13 } }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val chain = Set(6L, 3L, 1L) // both 12 and 13 sit under emp 6
    assert(plus == (for (e <- Set(12L, 13L); m <- chain) yield (e, m)))
    val star = TpchLake.run(spark, sf,
        P + "SELECT ?e ?m WHERE { ?e g:mgr* ?m . VALUES ?e { 12 13 } }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == plus + ((12L, 12L)) + ((13L, 13L)))
  }

  test("an = / VALUES constraint on the object endpoint runs the reverse BFS") {
    // descendants of emp 3: exactly the keys whose ancestor chain
    // k/2, k/4, … passes through 3
    val names = spark.read.parquet(s"$sf/customer.parquet")
      .collect().map(r => r.getLong(0)).toSet
    def hasAncestor(k: Long, a: Long): Boolean =
      Iterator.iterate(k / 2)(_ / 2).takeWhile(_ >= 1).contains(a)
    val expect = names.filter(k => k >= 2 && hasAncestor(k, 3L))
    val eq = TpchLake.run(spark, sf,
        P + "SELECT ?e ?m WHERE { ?e g:mgr+ ?m . FILTER(?m = 3) }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(eq == expect.map(_ -> 3L))
    // VALUES form over two seeds
    val vals = TpchLake.run(spark, sf,
        P + "SELECT ?e ?m WHERE { ?e g:mgr+ ?m . VALUES ?m { 3 2 } }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect2 = names.filter(k => k >= 2 && hasAncestor(k, 2L)).map(_ -> 2L)
    assert(vals == expect.map(_ -> 3L) ++ expect2)
    // * form: the reflexive pair (3,3) joins in through the zero-hop union
    val star = TpchLake.run(spark, sf,
        P + "SELECT ?e ?m WHERE { ?e g:mgr* ?m . FILTER(?m = 3) }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == expect.map(_ -> 3L) + ((3L, 3L)))
  }

  test("object-seeded p+ over an int-src/string-dst source: types normalize end-to-end") {
    // the edge SOURCE is heterogeneous — long subject key, STRING manager
    // column — the shape the round-8 seed-cast hardening was written for.
    // closureEdges normalizes dst to src's type at construction
    // (GraftEngine.closureEdges: chains only exist under one key type),
    // which is ALSO why no spec can fail on the pre-hardening code: after
    // that normalization edges.schema("dst").dataType ==
    // edges.schema("src").dataType, so casting object seeds to the dst
    // type (round 8) and to the src type (before) are provably the same
    // cast. This case pins the end-to-end contract: string-typed edge
    // attrs + a numeric literal seed + reverse BFS give exactly the
    // reverse-reachable set, in the subject key's type.
    import org.apache.spark.sql.functions.{col, concat_ws, expr, when}
    val dir = "target/derived/het_lake"
    val s = spark
    import s.implicits._
    (1L to 15L).toDF("h_key")
      .select(col("h_key"),
        when(col("h_key") >= 2, expr("cast(cast(h_key / 2 as long) as string)"))
          .as("h_mgr"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/het_parquet")
    val mappings =
      s"""@prefix g: <http://graft.io/schema/>
         |@prefix rr: <http://www.w3.org/ns/r2rml#>
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#>
         |@prefix nosql: <http://purl.org/db/nosql#>
         |
         |<#HetMap>
         |  rml:logicalSource [ rml:source "$dir/het_parquet"; nosql:store nosql:parquet ];
         |  rr:subjectMap [ rr:template "http://graft.io/het/{h_key}"; rr:class g:Het ];
         |  rr:predicateObjectMap [ rr:predicate g:hmgr; rr:objectMap [ rml:reference "h_mgr" ] ] .
         |""".stripMargin
    val config =
      s"""{"sources":[{"type":"parquet","options":{},"source":"$dir/het_parquet","entity":"Het"}]}"""
    // descendants of node 3 in the k -> k/2 tree over 1..15: 6,7,12..15
    val got = graft.engine.GraftEngine.execute(spark,
        P + "SELECT ?e ?m WHERE { ?e g:hmgr+ ?m . FILTER(?m = 3) }",
        mappings, config)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set(6L, 7L, 12L, 13L, 14L, 15L).map(_ -> 3L))
    // mirror shape — STRING subject key, the seed literal must cast to
    // string and match: same tree with string keys
    (1L to 15L).toDF("k")
      .select(concat_ws("", expr("cast(k as string)")).as("h_key"),
        when(col("k") >= 2, expr("cast(k / 2 as long)")).as("h_mgr"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/het_rev_parquet")
    val gotRev = graft.engine.GraftEngine.execute(spark,
        P + "SELECT ?e ?m WHERE { ?e g:hmgr+ ?m . FILTER(?m = 3) }",
        mappings.replace("het_parquet", "het_rev_parquet"),
        config.replace("het_parquet", "het_rev_parquet"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotRev == Set("6", "7", "12", "13", "14", "15").map(_ -> "3"))
  }

  test("a filter on the closure endpoint applies to reachability, not the one-hop edge") {
    // ?m < 2 keeps only the root among ANCESTORS — if the filter were
    // pushed into the one-hop scan, only emp 2 and 3 (direct reports of
    // 1) would survive; through the closure every emp ≥ 2 reaches 1
    val rows = TpchLake.run(spark, sf,
        P + "SELECT ?e ?m WHERE { ?e g:mgr+ ?m . FILTER(?m < 2) }").collect()
    // every employee with an edge (key ≥ 2) reaches the root (1)
    val withEdge = spark.read.parquet(s"$sf/customer.parquet")
      .filter("c_custkey >= 2").count()
    assert(rows.length == withEdge)
    assert(rows.forall(_.getLong(1) == 1L))
  }
}
