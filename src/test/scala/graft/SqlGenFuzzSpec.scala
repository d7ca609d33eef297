package graft

import graft.engine.{GraftEngine, SqlGenExecutor}
import graft.fixtures.TpchLake
import graft.sparql.SparqlParser
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.util.{Failure, Success, Try}

/** Seeded fuzz over EXECUTABLE queries on the TpchLake vocabulary: every
  * generated model runs through BOTH engines — the Column engine
  * ([[GraftEngine]]) and the SQL-generation engine ([[SqlGenExecutor]],
  * executed by Spark SQL) — and must agree row-for-row, or the lowering
  * must refuse explicitly (require/sys.error), never silently mis-lower.
  * This closes the gap the hand-written sg* gate pairs leave: two engines
  * that agree on 30 curated shapes can still drift on compositions
  * (OPTIONAL+BIND+HAVING+OFFSET interleavings) no curated gate covers.
  *
  * Aggregates over double columns may differ in the last float bits
  * between plans (different partial-aggregation association), so cells
  * parseable as doubles compare with 1e-9 relative tolerance.
  */
class SqlGenFuzzSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val sf = "/root/testdata/sf0.001"
  private val P = "PREFIX g: <http://graft.io/schema/>\n"

  // ---- vocabulary: star atoms over the lake (pred, objVar, isNumeric) ----
  private case class Pred(name: String, objVar: String, numeric: Boolean,
      domain: Seq[String] = Nil)
  private val custPreds = Seq(
    Pred("custName", "cn", numeric = false),
    Pred("acctbal", "ab", numeric = true),
    Pred("mktsegment", "seg", numeric = false,
      Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")),
    Pred("custNation", "nk", numeric = true))
  private val ordPreds = Seq(
    Pred("orderstatus", "st", numeric = false, Seq("O", "F", "P")),
    Pred("totalprice", "tp", numeric = true),
    Pred("orderpriority", "prio", numeric = false))
  private val liPreds = Seq(
    Pred("quantity", "qty", numeric = true),
    Pred("extprice", "ep", numeric = true),
    Pred("returnflag", "rf", numeric = false, Seq("A", "N", "R")),
    Pred("linestatus", "ls", numeric = false, Seq("O", "F")))

  private case class StarM(subj: String, joins: Seq[(String, String)],
      preds: Seq[Pred])
  private case class AggM(groupVar: String, fn: String, aggVar: String,
      having: Option[(String, Double)])
  private case class BindM(outVar: String, expr: String, operands: Seq[String])
  private case class Model(
      stars: Seq[StarM],
      optStar: Option[String],
      drop: Option[(String, String, Seq[(String, Pred)])], // kw, subj, preds
      filters: Seq[(Pred, String, String)], // pred, op, rendered rhs
      agg: Option[AggM],
      bind: Option[BindM],
      distinct: Boolean,
      includeSubject: Boolean,
      slice: Option[(Int, Int)], // limit, offset
      /** render (star, p1) as the alternative path p1|p2 — desugars to
        * UNION branches, exercising both engines' union lowering */
      altPred: Option[(String, Pred, Pred)] = None,
      /** `?c !(g:custNation|g:acctbal) ?nv .` — negated property set
        * expansion in both engines */
      negSet: Boolean = false,
      /** an AVG-per-customer SPARQL 1.1 subquery joined on ?c — the
        * derived-table lowering in both engines */
      subquery: Boolean = false,
      /** `VALUES ?v { … }` (var, rendered literals) on a star variable, a
        * BIND output or a variable only the OPTIONAL star binds: pushed
        * into the star, or joined as an inline table */
      values: Option[(String, Seq[String])] = None,
      /** a UNION beside the outer pattern binding ?ux: "both" branches
        * join it on ?c, "one" branch leaves ?c unbound (a compatibility
        * join) */
      union: Option[String] = None)

  private def subset[A](xs: Seq[A], min: Int): Gen[Seq[A]] =
    Gen.someOf(xs).map(_.toSeq).retryUntil(_.size >= min).map(s => xs.filter(s.contains))

  private val genModel: Gen[Model] = for {
    shape <- Gen.oneOf(
      Seq("c"), Seq("o"), Seq("o", "c"), Seq("l", "o"), Seq("l", "o", "c"))
    cPreds <- subset(custPreds, 1)
    oPreds <- subset(ordPreds, 1)
    lPreds <- subset(liPreds, 1)
    stars = shape.map {
      case "c" => StarM("c", Nil, cPreds)
      case "o" => StarM("o", if (shape.contains("c")) Seq("customer" -> "c") else Nil, oPreds)
      case "l" => StarM("l", Seq("order" -> "o"), lPreds)
    }
    // an OPTIONAL leaf: the chain's last star (if the shape has >1 star)
    optStar <- if (stars.size > 1)
      Gen.frequency(3 -> Gen.const(Option.empty[String]),
        1 -> Gen.const(Some(shape.last)))
    else Gen.const(Option.empty[String])
    // a MINUS / FILTER [NOT] EXISTS leaf hanging off ?c
    drop <-
      if (shape.contains("c") && optStar.isEmpty)
        Gen.frequency(
          3 -> Gen.const(Option.empty[(String, String, Seq[(String, Pred)])]),
          1 -> (for {
            kw <- Gen.oneOf("MINUS", "FILTER EXISTS", "FILTER NOT EXISTS")
            withFilter <- Gen.oneOf(true, false)
          } yield Some((kw, "o2",
            Seq("customer" -> Pred("customer", "c", numeric = true)) ++
              (if (withFilter) Seq("totalprice" -> Pred("totalprice", "tp2", numeric = true))
               else Nil)))))
      else Gen.const(Option.empty[(String, String, Seq[(String, Pred)])])
    keptStars = stars.filterNot(s => optStar.contains(s.subj))
    keptPreds = keptStars.flatMap(_.preds)
    numPreds = keptPreds.filter(_.numeric)
    strPreds = keptPreds.filterNot(_.numeric)
    nf <- Gen.choose(0, 2)
    filters <- Gen.listOfN(nf, for {
      p <- Gen.oneOf(keptPreds)
      f <-
        if (p.numeric) for {
          op <- Gen.oneOf("<", "<=", ">", ">=")
          v <- Gen.choose(0, 200000)
        } yield (p, op, v.toString)
        else if (p.domain.nonEmpty) for {
          neg <- Gen.oneOf(true, false)
          n <- Gen.choose(1, math.min(3, p.domain.size))
          vs <- Gen.pick(n, p.domain)
        } yield (p, if (neg) "NOT IN" else "IN", vs.map("\"" + _ + "\"").mkString("(", ", ", ")"))
        else Gen.oneOf(
          (p, "regex", "\"%e%\""),
          (p, "!=", "\"Customer#000000001\""))
    } yield f)
    agg <-
      if (strPreds.nonEmpty && numPreds.nonEmpty)
        Gen.frequency(2 -> Gen.const(Option.empty[AggM]), 1 -> (for {
          g <- Gen.oneOf(strPreds)
          fn <- Gen.oneOf("SUM", "MIN", "MAX", "AVG", "COUNT")
          a <- Gen.oneOf(numPreds)
          hv <- Gen.option(Gen.choose(1, 1000).map(v => (">", v.toDouble)))
        } yield Some(AggM(g.objVar, fn, a.objVar, hv))))
      else Gen.const(Option.empty[AggM])
    bindGen = for {
      kind <- Gen.oneOf("arith", "concat", "ucase")
      m <- kind match {
        case "arith" if numPreds.nonEmpty => for {
          v <- Gen.oneOf(numPreds); k <- Gen.choose(1, 100)
        } yield Option(BindM("bv", s"(?${v.objVar} + $k)", Seq(v.objVar)))
        case "concat" if strPreds.nonEmpty =>
          Gen.oneOf(strPreds).map(v =>
            Option(BindM("bv", s"(CONCAT(?${v.objVar}, \"_x\") )", Seq(v.objVar))))
        case "ucase" if strPreds.nonEmpty => // a SPARQL 1.1 builtin —
          // lowered since sg21, so the agreement branch exercises it
          Gen.oneOf(strPreds).map(v =>
            Option(BindM("bv", s"(UCASE(?${v.objVar}))", Seq(v.objVar))))
        case _ => Gen.const(Option.empty[BindM])
      }
    } yield m
    bind <-
      if (agg.isEmpty)
        Gen.frequency(2 -> Gen.const(Option.empty[BindM]), 1 -> bindGen)
      else Gen.const(Option.empty[BindM])
    distinct <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    includeSubject <- Gen.oneOf(true, false)
    // DISTINCT + slice is fair game: the engine re-sorts after dedup so
    // the slice is deterministic (keys ⊆ selected vars here)
    slice <- Gen.option(for { l <- Gen.choose(1, 50); o <- Gen.choose(0, 10) } yield (l, o))
    altCandidates = for {
      st <- stars
      p1 <- st.preds.headOption.toSeq
      pool = st.subj match {
        case "c" => custPreds; case "o" => ordPreds; case _ => liPreds
      }
      p2 <- pool.filterNot(st.preds.contains)
        .find(_.numeric == p1.numeric).toSeq // same type family: the
        // alternated var's column must union cleanly across branches
    } yield (st.subj, p1, p2)
    altPred <-
      if (optStar.isEmpty && drop.isEmpty && altCandidates.nonEmpty)
        Gen.frequency(3 -> Gen.const(Option.empty[(String, Pred, Pred)]),
          1 -> Gen.oneOf(altCandidates).map(Option(_)))
      else Gen.const(Option.empty[(String, Pred, Pred)])
    // negated-set / subquery atoms hang off ?c; they compose with the
    // OPTIONAL/MINUS/EXISTS/alt-path shapes (both engines apply them
    // per-branch and pre-join respectively) — only aggregation is
    // excluded (nv/sqv would need to join the GROUP BY)
    plainC = shape.contains("c") && agg.isEmpty
    negSet <-
      if (plainC) Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
      else Gen.const(false)
    subquery <-
      if (plainC) Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
      else Gen.const(false)
    optPreds = stars.filter(s => optStar.contains(s.subj)).flatMap(_.preds)
    valueTargets = keptPreds.filter(_.domain.nonEmpty).map(p => (p.objVar, p.domain)) ++
      bind.map(b => (b.outVar, if (b.expr.startsWith("(?")) Seq("101", "150") else Seq("BUILDING", "BUILDING_x"))) ++
      optPreds.map(p => (p.objVar, if (p.domain.nonEmpty) p.domain else Seq("1", "2")))
    values <-
      if (valueTargets.isEmpty) Gen.const(Option.empty[(String, Seq[String])])
      else Gen.frequency(3 -> Gen.const(Option.empty[(String, Seq[String])]), 1 -> (for {
        (v, domain) <- Gen.oneOf(valueTargets)
        n <- Gen.choose(1, math.min(2, domain.size))
        vs <- Gen.pick(n, domain)
      } yield Some((v, vs.toSeq))))
    union <-
      if (plainC) Gen.frequency(3 -> Gen.const(Option.empty[String]),
        1 -> Gen.oneOf("both", "one").map(Option(_)))
      else Gen.const(Option.empty[String])
  } yield Model(stars, optStar, drop, filters, agg, bind, distinct,
    includeSubject, slice, altPred, negSet, subquery, values, union)

  private def selectVars(m: Model): Seq[String] = m.agg match {
    case Some(a) => Seq(a.groupVar, "agg1")
    case None =>
      (if (m.includeSubject) Seq(m.stars.head.subj) else Nil) ++
        m.stars.flatMap(_.preds.map(_.objVar)) ++ m.bind.map(_.outVar).toSeq ++
        (if (m.negSet) Seq("nv") else Nil) ++
        (if (m.subquery) Seq("sqv") else Nil) ++
        (if (m.union.nonEmpty) Seq("ux") else Nil)
  }

  private def render(m: Model): String = {
    val sb = new StringBuilder(P)
    val sel = m.agg match {
      case Some(a) =>
        s"?${a.groupVar} (${a.fn}(?${a.aggVar}) AS ?agg1)"
      case None => selectVars(m).map("?" + _).mkString(" ")
    }
    sb ++= s"SELECT ${if (m.distinct) "DISTINCT " else ""}$sel WHERE {\n"
    def renderStar(s: StarM): String =
      (s.joins.map { case (p, o) => s"  ?${s.subj} g:$p ?$o ." } ++
        s.preds.map { p =>
          m.altPred match {
            case Some((subj, p1, p2)) if subj == s.subj && p1 == p =>
              s"  ?${s.subj} g:${p.name}|g:${p2.name} ?${p.objVar} ."
            case _ => s"  ?${s.subj} g:${p.name} ?${p.objVar} ."
          }
        }).mkString("\n")
    for (s <- m.stars) {
      if (m.optStar.contains(s.subj)) sb ++= s"  OPTIONAL {\n${renderStar(s)}\n  }\n"
      else sb ++= renderStar(s) + "\n"
    }
    if (m.negSet) sb ++= "  ?c !(g:custNation|g:acctbal) ?nv .\n"
    if (m.subquery)
      sb ++= "  { SELECT ?c (AVG(?tp2) AS ?sqv) WHERE { " +
        "?o3 g:customer ?c . ?o3 g:totalprice ?tp2 . } GROUP BY ?c }\n"
    for ((kw, subj, preds) <- m.drop) {
      val body = preds.map { case (p, pr) => s"    ?$subj g:$p ?${pr.objVar} ." }
      val filt = preds.collectFirst { case ("totalprice", pr) =>
        s"    FILTER(?${pr.objVar} > 100000)" }.toSeq
      sb ++= s"  $kw {\n${(body ++ filt).mkString("\n")}\n  }\n"
    }
    for ((p, op, rhs) <- m.filters)
      if (op == "regex") sb ++= s"  FILTER regex(?${p.objVar}, $rhs)\n"
      else sb ++= s"  FILTER(?${p.objVar} $op $rhs)\n"
    for (b <- m.bind) sb ++= s"  BIND(${b.expr} AS ?${b.outVar})\n"
    for ((v, vs) <- m.values) {
      val lits = vs.map(x => if (x.toDoubleOption.isDefined) x else "\"" + x + "\"")
      sb ++= s"  VALUES ?$v { ${lits.mkString(" ")} }\n"
    }
    m.union.foreach {
      case "both" => sb ++= "  { ?c g:custName ?ux } UNION { ?c g:mktsegment ?ux }\n"
      case _ => sb ++= "  { ?c g:custName ?ux } UNION { ?r g:regionName ?ux }\n"
    }
    sb ++= "}\n"
    for (a <- m.agg) {
      sb ++= s"GROUP BY ?${a.groupVar}\n"
      for ((op, v) <- a.having) sb ++= s"HAVING(${a.fn}(?${a.aggVar}) $op $v)\n"
    }
    for ((l, o) <- m.slice) {
      // order by every output var so the sliced multiset is canonical
      sb ++= "ORDER BY " + selectVars(m).map("?" + _).mkString(" ") + "\n"
      sb ++= s"LIMIT $l\nOFFSET $o\n"
    }
    sb.toString
  }

  /** Cell → comparable token: doubles rounded so partial-agg association
    * differences between the two plans cannot flip the comparison. */
  private def cell(v: Any): String = v match {
    case null => "␀"
    case d: Double => f"$d%.6f"
    case x =>
      val s = x.toString
      s.toDoubleOption.filter(_ => s.exists(c => c == '.' || c == 'E' || c == 'e'))
        .map(d => f"$d%.6f").getOrElse(s)
  }

  test("fuzzed models: SQL-gen engine agrees with the Column engine or refuses (60 seeded cases)") {
    val params = Gen.Parameters.default
    var seed = Seed(20260812L)
    val (mappings, config) = TpchLake.lake(sf)
    var checked = 0
    var lowered = 0
    var refused = 0
    // shape-coverage counters over the LOWERED subset: the combinations
    // the round briefs called out must actually occur in the 60-model
    // space, not merely be possible
    var nDistinctSliced = 0
    var nNegSet = 0
    var nSubquery = 0
    var nUnion = 0
    val nValues = scala.collection.mutable.Set.empty[String] // targets lowered
    // three canonical models seed the space so the called-out shapes are
    // covered regardless of what the random seeds happen to produce; the
    // random tail can still re-hit them in richer compositions
    val cStar = StarM("c", Nil, custPreds.take(2)) // custName, acctbal
    val forced = Seq(
      Model(Seq(cStar), None, None, Nil, None, None, distinct = true,
        includeSubject = false, slice = Some((7, 3))),
      Model(Seq(cStar), None, None, Nil, None, None, distinct = false,
        includeSubject = true, slice = None, negSet = true),
      Model(Seq(cStar), None, None, Nil, None, None, distinct = false,
        includeSubject = true, slice = Some((5, 0)), subquery = true),
      // VALUES on a star variable, on a BIND output, on a variable only
      // the OPTIONAL star binds; a UNION beside the outer pattern
      Model(Seq(StarM("c", Nil, custPreds.take(3))), None, None, Nil, None, None,
        distinct = false, includeSubject = false, slice = None,
        values = Some(("seg", Seq("BUILDING", "FURNITURE")))),
      Model(Seq(cStar), None, None, Nil, None,
        Some(BindM("bv", "(UCASE(?cn))", Seq("cn"))), distinct = false,
        includeSubject = true, slice = None, values = Some(("bv", Seq("BUILDING")))),
      Model(Seq(StarM("o", Seq("customer" -> "c"), ordPreds.take(2)), cStar), Some("o"), None,
        Nil, None, None, distinct = false, includeSubject = false, slice = None,
        values = Some(("tp", Seq("1", "2")))),
      Model(Seq(cStar), None, None, Nil, None, None, distinct = false,
        includeSubject = true, slice = None, union = Some("one")))
    while (checked < 60) {
      val m =
        if (checked < forced.size) forced(checked)
        else {
          val g = genModel.apply(params, seed).getOrElse(sys.error("gen failed"))
          seed = seed.next
          g
        }
      val text = render(m)
      val q = try SparqlParser.parse(text)
      catch { case e: Exception => fail(s"parse failed:\n$text", e) }
      Try(SqlGenExecutor.lower(q, mappings, config)) match {
        case Failure(_: IllegalArgumentException) | Failure(_: RuntimeException) =>
          refused += 1 // explicit refusal is a valid outcome
        case Failure(e) => fail(s"unexpected lowering error for:\n$text", e)
        case Success(_) =>
          lowered += 1
          if (m.distinct && m.slice.nonEmpty) nDistinctSliced += 1
          if (m.negSet) nNegSet += 1
          if (m.subquery) nSubquery += 1
          if (m.union.nonEmpty) nUnion += 1
          for ((v, _) <- m.values)
            nValues += (if (m.bind.exists(_.outVar == v)) "bind"
              else if (m.stars.exists(s => m.optStar.contains(s.subj) && s.preds.exists(_.objVar == v))) "optional"
              else "star")
          val a = GraftEngine.executeParsed(spark, q, mappings, config)
          val b = SqlGenExecutor.execute(spark, q, mappings, config)
          assert(a.columns.toSeq == b.columns.toSeq, s"columns differ for:\n$text")
          val ra = a.collect().map(_.toSeq.map(cell).mkString("|")).sorted.toSeq
          val rb = b.collect().map(_.toSeq.map(cell).mkString("|")).sorted.toSeq
          assert(ra == rb,
            s"rows differ for:\n$text\nengine=${ra.take(5)}\nsqlgen=${rb.take(5)}")
      }
      checked += 1
    }
    // the generator lives mostly inside the lowered subset: if refusals
    // dominate, the fuzz lost its teeth
    assert(lowered >= 30, s"only $lowered/60 models lowered ($refused refused)")
    assert(nDistinctSliced >= 1,
      "no lowered model combined DISTINCT with ORDER BY+LIMIT/OFFSET")
    assert(nNegSet >= 1, "no lowered model carried a negated property set")
    assert(nSubquery >= 1, "no lowered model carried a subquery")
    assert(nUnion >= 1, "no lowered model carried a UNION beside the outer pattern")
    assert(nValues == Set("star", "bind", "optional"),
      s"lowered VALUES targets: ${nValues.mkString(", ")}")
  }

  test("fuzzed closure models: recursive-CTE lowering agrees with the Column engine (20 seeded cases)") {
    // p+/p*/p? over the derived org hierarchy, composed with subject seeds
    // (FILTER ?e =), deferred reachable-endpoint filters (FILTER ?m <=),
    // DISTINCT and deterministic slices — the engine side runs the
    // anti-join frontier (seeded BFS when the subject is constrained),
    // the SQL side the recursive CTE; they must agree row-for-row
    val genC = for {
      op <- Gen.oneOf("+", "*", "?")
      // half the draws close over the composite (mgr/mgr) group instead
      // of the single predicate — both engines must agree there too
      grouped <- Gen.oneOf(false, true)
      subjFilter <- Gen.option(Gen.choose(2, 40))
      // object-endpoint forms cover all three engine plans: <= defers
      // over the full closure, = runs the reverse BFS, VALUES the
      // multi-seed reverse BFS; composed with a subject seed the
      // forward BFS takes precedence and the object form defers
      objForm <- Gen.oneOf("none", "le", "eq", "values")
      objK <- Gen.choose(1, 20)
      distinct <- Gen.oneOf(false, true)
      slice <- Gen.option(Gen.choose(1, 30))
    } yield {
      val sb = new StringBuilder(P)
      sb ++= s"SELECT ${if (distinct) "DISTINCT " else ""}?e ?en ?m WHERE {\n"
      val path = if (grouped) s"(g:mgr/g:mgr)$op" else s"g:mgr$op"
      sb ++= s"  ?e $path ?m . ?e g:empName ?en .\n"
      for (k <- subjFilter) sb ++= s"  FILTER(?e = $k)\n"
      objForm match {
        case "le" => sb ++= s"  FILTER(?m <= $objK)\n"
        case "eq" => sb ++= s"  FILTER(?m = $objK)\n"
        case "values" => sb ++= s"  VALUES ?m { $objK ${objK + 1} }\n"
        case _ => ()
      }
      sb ++= "}\n"
      for (l <- slice) sb ++= s"ORDER BY ?e ?en ?m\nLIMIT $l\n"
      sb.toString
    }
    val params = Gen.Parameters.default
    var seed = Seed(20260813L)
    val (mappings, config) = TpchLake.lake(sf)
    for (_ <- 1 to 20) {
      val text = genC.apply(params, seed).getOrElse(sys.error("gen failed"))
      seed = seed.next
      val q = SparqlParser.parse(text)
      val a = GraftEngine.executeParsed(spark, q, mappings, config)
      val b = SqlGenExecutor.execute(spark, q, mappings, config)
      assert(a.columns.toSeq == b.columns.toSeq, s"columns differ for:\n$text")
      val ra = a.collect().map(_.toSeq.map(cell).mkString("|")).sorted.toSeq
      val rb = b.collect().map(_.toSeq.map(cell).mkString("|")).sorted.toSeq
      assert(ra == rb,
        s"rows differ for:\n$text\nengine=${ra.take(5)}\nsqlgen=${rb.take(5)}")
    }
  }
}
