package graft.engine

import graft.mappings.{ConfigParser, RmlParser}
import graft.model._
import graft.sparql.SparqlParser
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine: SPARQL fragment + RML mappings + lake config → DataFrame.
  *
  * Pipeline (reference Run.scala:17-318, re-expressed declaratively):
  * parse → WHERE tree → per leaf: star decomposition, join planning,
  * per-star compile (scan, semantic column pruning, filters below joins),
  * inner equi-join chain → one fold over the tree (joins on the shared
  * variables, left outer / anti / semi joins for OPTIONAL / MINUS /
  * EXISTS, union, BIND, VALUES, subqueries, residual filters) →
  * GROUP BY/aggregates → ORDER BY → projection (+DISTINCT) → LIMIT.
  *
  * Every plan fact (where each FILTER and VALUES applies, sources per
  * star, expansions, join edges and the join chain over them, variable
  * resolution, the variables each join matches on) comes from
  * [[StarSpec]], shared with [[SqlGenExecutor]]; this object renders it
  * as Columns.
  *
  * Everything stays a lazy logical plan; Catalyst applies predicate
  * pushdown / column pruning / join selection, and AQE (Spark's default)
  * re-plans broadcast and skew at runtime. No temp views, no SQL strings,
  * no driver-side data movement.
  */
object GraftEngine {
  import StarSpec.Scan

  def execute(spark: SparkSession, queryText: String, mappingsText: String,
      configText: String): DataFrame =
    executeParsed(spark, SparqlParser.parse(queryText),
      RmlParser.parse(mappingsText), ConfigParser.parse(configText))

  def executeParsed(spark: SparkSession, q: ParsedQuery,
      mappings: MappingsDoc, config: LakeConfig): DataFrame = {

    val describeScans = q.describe.map(StarSpec.describeScans(q, _, mappings))
    val plan = StarSpec.plan(q)
    // the WHERE tree's solutions, folded once, each node rendered once
    def fold(p: Pattern): DataFrame = p match {
      case b: Bgp => compileBody(spark, plan.body(b), q.transforms, mappings, config)
      case u: Union => StarSpec.branches(u).map(fold)
        .reduce(_.unionByName(_, allowMissingColumns = true))
      case Join(l, r) => join(fold(l), fold(r), StarSpec.shared(l, r), "inner")
      case LeftJoin(l, r) => join(fold(l), fold(r), StarSpec.shared(l, r), "left_outer")
      case Minus(l, r) => join(fold(l), fold(r), StarSpec.shared(l, r), "left_anti")
      case Filter(es, i) => es.foldLeft(fold(i)) {
        case (df, Exists(g, negated)) =>
          join(df, fold(g), StarSpec.shared(i, g), if (negated) "left_anti" else "left_semi")
        // an unknown var fails analysis instead of silently dropping the
        // condition
        case (df, f: FilterCond) => df.filter(StarCompiler.predicate(col(f.varName), f))
      }
      // later BINDs may reference earlier outputs
      case Extend(i, b) => fold(i).withColumn(b.outVar, bindColumn(b.expr))
      // VALUES as an inline relation, each literal typed by its own form
      // (the SQL engine's rule)
      case Table(v, vals) =>
        spark.range(1).select(explode(array(vals.map(x => lit(StarCompiler.typed(x))): _*)).as(v))
      // SPARQL 1.1 §12: evaluated on its own, its modifiers included
      case SubSelect(sub) => executeParsed(spark, sub.copy(transforms = Nil), mappings, config)
    }
    var df = fold(plan.where)

    // --- modifiers (reference Run.scala:266-306 order:
    // groupBy → orderBy → project(+distinct) → limit)
    if (q.aggregates.nonEmpty || q.groupBy.nonEmpty) {
      val aggCols = q.aggregates.map(aggColumn)
      require(aggCols.nonEmpty, "GROUP BY without aggregates is not supported")
      df =
        if (q.groupBy.nonEmpty)
          df.groupBy(q.groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        else df.agg(aggCols.head, aggCols.tail: _*)
      // HAVING: post-aggregation filter on a SELECTed aggregate (net-new)
      for ((agg, op, value) <- q.having) {
        val alias = q.aggregates.find(a => a.fn == agg.fn && a.varName == agg.varName)
          .map(_.alias).getOrElse(sys.error(
            s"HAVING ${agg.fn}(?${agg.varName}) must also appear in SELECT"))
        df = df.filter(StarCompiler.predicate(col(alias), FilterCond(alias, op, value)))
      }
    }

    if (q.orderBy.nonEmpty) {
      // single multi-key sort — deliberate fix of the reference's
      // last-key-wins loop (Run.scala:294-299; SURVEY §7.4.2)
      df = df.orderBy(q.orderBy.map(k =>
        if (k.ascending) col(k.varName).asc else col(k.varName).desc): _*)
    }

    val projected =
      if (q.selectAll) df.select(plan.columns(plan.where).map(col): _*)
      else df.select(q.selectItems.map {
        case SelectVar(v) => col(v)
        case SelectAgg(a) => col(a.alias)
      }: _*)

    val distincted = if (!q.distinct) projected else {
      val d = projected.distinct()
      // Spark's distinct is an aggregate and does not preserve the
      // preceding sort — re-sort after dedup so OFFSET/LIMIT slice
      // deterministically (SPARQL algebra: Slice ∘ Distinct ∘ Project ∘
      // OrderBy). Requires the keys to survive projection.
      if (q.orderBy.nonEmpty && (q.limit.isDefined || q.offset.isDefined)) {
        val projCols = projected.columns.toSet
        require(q.orderBy.forall(k => projCols(k.varName)),
          "ORDER BY keys must be selected when combined with DISTINCT and LIMIT/OFFSET")
        d.orderBy(q.orderBy.map(k =>
          if (k.ascending) col(k.varName).asc else col(k.varName).desc): _*)
      } else d
    }
    // OFFSET before LIMIT (SPARQL slice semantics; net-new vs reference)
    val skipped = q.offset.fold(distincted)(distincted.offset)
    val sliced = q.limit.fold(skipped)(skipped.limit)
    if (q.ask) {
      // ASK: one boolean row — isEmpty is a limit-1 job, not a full scan
      import spark.implicits._
      Seq(!sliced.isEmpty).toDF("ask")
    } else if (q.construct.nonEmpty) {
      // CONSTRUCT: instantiate each template triple per solution and
      // union (a graph is a triple SET → distinct). Everything stays one
      // declarative plan — Catalyst shares the solution subplan across
      // the template branches.
      q.construct.map { t =>
        val oCol = t.obj match {
          case ObjVar(v) => col(v).cast("string")
          case ObjIri(iri) => lit(iri)
          case ObjLit(l) => lit(l)
        }
        sliced.select(col(t.subject).cast("string").as("s"),
          lit(t.predicate).as("p"), oCol.as("o"))
      }.reduce(_.union(_)).distinct()
    } else if (describeScans.isDefined) {
      // DESCRIBE ?v: expand every mapped predicate (plus rdf:type) of the
      // star's relevant sources for the resources the body binds to ?v.
      // One scan branch per predicate, all semi-joined with the (usually
      // small, AQE-broadcastable) described-id set; a triple set →
      // distinct. Net-new vs the reference (its eval drops DESCRIBE).
      val ids = sliced.select(col(q.describe.get).as("sid")).distinct()
      scanDFs(spark, describeScans.get, config) { sc =>
        Seq(StarCompiler.render(sc.id).as(sc.id.outCol), lit(sc.predicate).as("p"),
          sc.value.fold(lit(sc.mapping.classIri.get))(
            StarCompiler.render(_).cast("string")).as("o"))
      }.reduce(_.unionByName(_))
        .filter(col("o").isNotNull)
        .join(ids, Seq("sid"), "left_semi")
        .select(col("sid").cast("string").as("s"), col("p"), col("o"))
        .distinct()
    } else sliced
  }

  /** One join of two nodes' solutions on the variables they share
    * ([[StarSpec.Shared]]): USING them when both sides certainly bind
    * each, a cross join when there is none, else the compatibility
    * condition with the shared vars coalesced (an inner or left outer
    * join: [[StarSpec.plan]] refuses it for MINUS and EXISTS). */
  private def join(l: DataFrame, r: DataFrame, on: Seq[StarSpec.Shared],
      how: String): DataFrame =
    if (on.isEmpty) l.crossJoin(r)
    else if (on.forall(_.certain)) l.join(r, on.map(_.v), how)
    else {
      val (a, b) = (l.as("l"), r.as("r"))
      val joined = a.join(b, on.map { s =>
        val (x, y) = (col(s"l.${s.v}"), col(s"r.${s.v}"))
        if (s.certain) x === y else x === y || x.isNull || y.isNull
      }.reduce(_ && _), how)
      val shared = on.map(_.v).toSet
      joined.select(l.columns.toSeq.map(c =>
        if (shared(c)) coalesce(col(s"l.$c"), col(s"r.$c")).as(c) else col(s"l.$c")) ++
        r.columns.filterNot(shared).map(c => col(s"r.$c")): _*)
    }

  /** Compile a planned leaf (stars → join chain → bare-variable columns):
    * the Column rendering of a [[StarSpec.Body]]. */
  private def compileBody(spark: SparkSession, plan: StarSpec.Body,
      transforms: Seq[JoinTransform], mappings: MappingsDoc, config: LakeConfig): DataFrame = {

    val q = plan.bgp
    val starNames = q.stars.keys.toSeq.sorted

    // --- per-star ParSets (reference SparkExecutor.query, stage 6 of §3.1)
    val baseDFs: Map[String, DataFrame] = starNames.map { s =>
      val df = StarCompiler.compile(spark, q, s, mappings, config, plan.needed)
      s -> StarCompiler.applyInlineTransforms(df, s, transforms)
    }.toMap

    // --- negated property sets: ?s !(p…) ?v fans each subject out over
    // the values of every mapped predicate of its relevant sources except
    // the excluded ones (string-cast — the expansion mixes column types)
    val withNegations: Map[String, DataFrame] = q.negations.foldLeft(baseDFs) { (m, ng) =>
      val expansion = scanDFs(spark, StarSpec.negationScans(q, ng, mappings), config) { sc =>
        Seq(StarCompiler.render(sc.id).as(sc.id.outCol),
          StarCompiler.render(sc.value.get).cast("string").as(sc.value.get.outCol))
      }.reduce(_.unionByName(_))
        .filter(col(StarCompiler.varCol(ng.subjVar, ng.objVar)).isNotNull)
      m.updated(ng.subjVar,
        m(ng.subjVar).join(expansion, Seq(StarCompiler.idCol(ng.subjVar))))
    }

    // --- close each p+/p* star: replace the one-hop (subject, object)
    // pairs with their transitive closure, reflexive for `*`. The edge
    // relation comes from an UNCONSTRAINED scan of the path predicate —
    // SPARQL 1.1 §9.1 constrains a path's ENDPOINTS, never its
    // intermediate hops, so the star's own FILTER/VALUES (subject or
    // sibling vars, already applied inside `base`) must not thin the
    // edge set the closure walks. When those constraints make the start
    // set selective, a frontier BFS from it (O(reachable)) replaces the
    // full O(n·depth) closure — at 100× data that is the difference
    // between touching the whole graph and touching one subtree.
    val starDFs: Map[String, DataFrame] = q.closures.foldLeft(withNegations) { (m, cl) =>
      val sCol = StarCompiler.idCol(cl.subjVar)
      val oCol = StarCompiler.varCol(cl.subjVar, cl.objVar)
      // the one-hop binding column is replaced by the closed pairs; dedup
      // the remaining columns so a multi-valued path predicate cannot
      // multiply solutions (SPARQL path solutions are duplicate-free)
      val base0 = m(cl.subjVar)
      val base = (if (base0.columns.contains(oCol)) base0.drop(oCol) else base0).distinct()
      val edges = closureEdges(spark, q, cl, mappings, config)
      val closed =
        if (!cl.transitive) // `p?`: zero-or-one hop — the one-hop edge
          // set exactly (zero-hop pairs join below via `reflexive`); no
          // closure walk, and the rejoin on sCol restricts to the star's
          // subjects. Null endpoints (subjects with no edge) are dropped
          // here the same way Closure.transitive drops them — a null dst
          // is "no hop", not a pair.
          edges.filter(col("src").isNotNull && col("dst").isNotNull)
        else if (closureSeeded(plan, cl))
          graft.ops.Closure.fromSeeds(edges, base.select(col(sCol).as("src")))
        else objectSeedLits(plan, cl) match {
          // the REACHABLE endpoint is pinned to literals (= / VALUES):
          // reverse BFS from those seeds over the flipped edge relation
          // is O(reverse-reachable), vs materializing the full closure
          // to keep the pairs ending in a handful of nodes — the mirror
          // image of the subject-seeded case. Seeds come from the query
          // literals (cast to the edge type); ALL deferred endpoint
          // constraints still apply below, so seeding from one
          // constraint's set stays correct when several are ANDed.
          case Some(lits) =>
            import spark.implicits._
            // cast to the ORIGINAL dst type: after flipping, the seeds
            // join against the old dst column — casting to src's type
            // would rely on implicit join coercion when the two differ
            val seeds = lits.toDF("src")
              .select(col("src").cast(edges.schema("dst").dataType).as("src"))
            graft.ops.Closure
              .fromSeeds(edges.select(col("dst").as("src"), col("src").as("dst")), seeds)
              .select(col("dst").as("src"), col("src").as("dst"))
          case None => graft.ops.Closure.transitive(edges)
        }
      val pairs =
        if (!cl.reflexive) closed
        // `*`: zero hops — (x, x) for every subject of the star
        else closed.union(base.select(col(sCol).as("src"), col(sCol).as("dst"))).distinct()
      val rejoined = base.join(
        pairs.select(col("src").as(sCol), col("dst").as(oCol)), Seq(sCol))
      // deferred endpoint constraints on the REACHABLE var
      m.updated(cl.subjVar, plan.deferredFilters.filter(_.varName == cl.objVar)
        .foldLeft(rejoined)((d, f) => d.filter(StarCompiler.condition(d, oCol, f))))
    }

    // --- the join chain, then bare variable names; star prefixes
    // disappear here
    val (StarSpec.Seed(seed) +: rest) = plan.steps: @unchecked
    rest.foldLeft(starDFs(seed)) {
      case (df, StarSpec.Attach(s, e)) => df.join(starDFs(s), col(e.leftCol) === col(e.rightCol))
      case (df, StarSpec.Cycle(e)) => df.filter(col(e.leftCol) === col(e.rightCol))
      case (df, StarSpec.Cross(s)) => df.crossJoin(starDFs(s))
      case (df, StarSpec.Seed(s)) => sys.error(s"a second seed ?$s")
    }.select(plan.resolution.map { case (v, c) => col(c).as(v) }: _*)
  }

  /** Scan DataFrames of a source expansion, one source load per mapping. */
  private def scanDFs(spark: SparkSession, scans: Seq[Scan], config: LakeConfig)(
      cols: Scan => Seq[Column]): Seq[DataFrame] = {
    val raw = scans.map(_.mapping).distinct
      .map(m => m -> StarCompiler.loadSource(spark, m, config)).toMap
    scans.map(sc => raw(sc.mapping).select(cols(sc): _*))
  }

  /** Unconstrained one-hop edge relation of a closure ([[StarSpec.pathHops]]):
    * per hop, the union of its (src, dst) scans with dst cast to src's
    * type; a composite group (p1/p2/…) joins the hops into one chain. */
  private def closureEdges(spark: SparkSession, q: Bgp, cl: PathClosure,
      mappings: MappingsDoc, config: LakeConfig): DataFrame = {
    val hops = StarSpec.pathHops(q, cl, mappings).map { scans =>
      scanDFs(spark, scans, config) { sc =>
        Seq(StarCompiler.render(sc.id).as(sc.id.outCol),
          StarCompiler.render(sc.value.get).as(sc.value.get.outCol))
      }.map(sel => sel.select(col("src"),
        col("dst").cast(sel.schema("src").dataType).as("dst")))
        .reduce(_.unionByName(_))
    }
    hops.tail.foldLeft(hops.head) { (acc, hop) =>
      // rename the probe side before joining: the hops usually scan the
      // SAME source, and fresh projection attrs sidestep self-join
      // column ambiguity
      val nxt = hop.select(col("src").as("__hs"), col("dst").as("__hd"))
      acc.join(nxt, col("dst") === col("__hs"))
        .select(col("src"), col("__hd").as("dst"))
    }
  }

  /** Finite literal seed set for a closure's OBJECT endpoint: an `=`
    * or `in` condition (a VALUES list is one) on the reachable var. One
    * constraint's set suffices as the seed (constraints are ANDed and all
    * re-apply after the closure); inequality/regex forms are not
    * enumerable and fall back to the full closure. */
  private def objectSeedLits(plan: StarSpec.Body, cl: PathClosure): Option[Seq[String]] =
    plan.deferredFilters.collectFirst {
      case f if f.varName == cl.objVar && f.op == "=" => Seq(f.value)
      case f if f.varName == cl.objVar && f.op == "in" => f.values
    }

  /** A closure star carrying any FILTER/VALUES on its subject or sibling
    * vars has a restricted start set — frontier BFS from it beats the
    * full closure. Constraints on the closure's own object var don't
    * count: they are deferred past the closure (they bound the REACHABLE
    * end, not the start). */
  private def closureSeeded(plan: StarSpec.Body, cl: PathClosure): Boolean = {
    val q = plan.bgp
    val deferred = q.closures.filter(_.subjVar == cl.subjVar).map(_.objVar).toSet
    val starVars = q.stars(cl.subjVar).collect {
      case TriplePattern(_, p, ObjVar(v)) if p != TriplePattern.RdfType => v
    }.toSet
    val vars = (starVars -- deferred) + cl.subjVar
    (q.filters ++ plan.deferredFilters).exists(f => vars(f.varName))
  }

  /** BIND expression → Column: arithmetic stays numeric (integer literals
    * as longs, decimals as doubles — the same typing DuckDB gives the
    * twin expression); CONCAT casts every operand to string (SPARQL
    * string-function semantics). Everything is a plain Catalyst
    * expression — codegen'd, pushdown-transparent, no UDFs. */
  private def bindColumn(e: BindExpr): Column = e match {
    case BVar(v) => col(v)
    case BNum(n) => n.toLongOption.map(lit(_)).getOrElse(lit(n.toDouble))
    case BStr(s) => lit(s)
    case BOp("+", l, r) => bindColumn(l) + bindColumn(r)
    case BOp("-", l, r) => bindColumn(l) - bindColumn(r)
    case BOp("*", l, r) => bindColumn(l) * bindColumn(r)
    case BOp("/", l, r) => bindColumn(l) / bindColumn(r)
    case BOp(op, _, _) => sys.error(s"unsupported BIND operator $op")
    case BFun("concat", args) if args.nonEmpty =>
      concat(args.map(a => bindColumn(a).cast("string")): _*)
    case BFun("str", Seq(a)) => bindColumn(a).cast("string")
    case BFun("abs", Seq(a)) => abs(bindColumn(a))
    // SPARQL 1.1 builtins (17.4.2/17.4.3), each a codegen'd Spark builtin.
    // SUBSTR/STRLEN count characters 1-based like SPARQL; CONTAINS/
    // STRSTARTS/STRENDS yield booleans usable directly in IF.
    case BFun("strlen", Seq(a)) => length(bindColumn(a))
    case BFun("ucase", Seq(a)) => upper(bindColumn(a))
    case BFun("lcase", Seq(a)) => lower(bindColumn(a))
    case BFun("contains", Seq(a, b)) => bindColumn(a).contains(bindColumn(b))
    case BFun("strstarts", Seq(a, b)) => bindColumn(a).startsWith(bindColumn(b))
    case BFun("strends", Seq(a, b)) => bindColumn(a).endsWith(bindColumn(b))
    case BFun("substr", Seq(a, p)) =>
      bindColumn(a).substr(bindColumn(p), lit(Int.MaxValue))
    case BFun("substr", Seq(a, p, l)) =>
      bindColumn(a).substr(bindColumn(p), bindColumn(l))
    case BFun("replace", Seq(a, f0, t)) =>
      replace(bindColumn(a), bindColumn(f0), bindColumn(t))
    case BFun("ceil", Seq(a)) => ceil(bindColumn(a))
    case BFun("floor", Seq(a)) => floor(bindColumn(a))
    case BFun("round", Seq(a)) => round(bindColumn(a))
    case BFun("coalesce", args) if args.nonEmpty =>
      coalesce(args.map(bindColumn): _*)
    case BFun("if", Seq(c0, t, f0)) =>
      when(bindColumn(c0), bindColumn(t)).otherwise(bindColumn(f0))
    case BFun(f, args) => sys.error(s"unsupported BIND function $f/${args.size}")
  }

  private def aggColumn(a: AggSpec): Column = {
    val in = if (a.varName == "*") lit(1) else col(a.varName)
    val c = (a.fn, a.distinct) match {
      case ("sum", false) => sum(in)
      case ("sum", true) => sum_distinct(in)
      case ("min", _) => min(in)
      case ("max", _) => max(in)
      case ("avg", false) => avg(in)
      case ("count", false) => count(in)
      case ("count", true) => countDistinct(in)
      // SPARQL 1.1 §18.5.1: GROUP_CONCAT leaves element order undefined —
      // we sort elements so the result is deterministic (and therefore
      // oracle-checkable); SAMPLE may return any group member — we pick
      // the minimum, same rationale
      case ("group_concat", false) =>
        array_join(array_sort(collect_list(in.cast("string"))), a.separator)
      case ("group_concat", true) =>
        array_join(array_sort(collect_set(in.cast("string"))), a.separator)
      case ("sample", _) => min(in)
      case (other, d) => sys.error(s"unsupported aggregate '$other'${if (d) " DISTINCT" else ""}")
    }
    c.as(a.alias)
  }
}
