package graft.engine

import graft.model._

/** Engine-neutral query plan: every fact both engines need about a WHERE
  * body — which sources feed each star, which (source attribute → output
  * column) projections each source contributes (with FnO transform
  * chains), which skp(v) row filters and FILTER/VALUES constraints land
  * on which columns, the source expansions of DESCRIBE, negated property
  * sets and path edges, the join edges and the variable resolution.
  *
  * Both engines render THIS single plan — [[GraftEngine]] and
  * [[StarCompiler]] as DataFrame Columns, [[SqlGenExecutor]] as SQL text
  * (the reference's one planner with a Spark and a Presto executor) — so
  * every rule is defined once and cannot drift between the engines.
  */
object StarSpec {

  /** A star, DESCRIBE subject or path predicate that no mapped source can
    * answer: the query is well formed, the lake cannot serve it. */
  final class NoRelevantSource(message: String) extends IllegalArgumentException(message)

  /** One projected column: resolved source attribute, FnO transform
    * chain (may be empty), output column name in the star's
    * `{star}__{var}` contract. */
  final case class ColSpec(attr: String, fns: Seq[TransformFn], outCol: String)

  /** One source feeding the star. `skips` are skp(v) row filters:
    * (target column spec, skipped value) — the target is resolved with
    * the same rule in both engines (the transformed attribute's column;
    * the ID column when the transform is on the subject attribute). */
  final case class SourceSpec(mapping: EntityMapping, cols: Seq[ColSpec],
      skips: Seq[(ColSpec, String)])

  final case class Spec(star: String, sources: Seq[SourceSpec],
      /** (output column, condition) from the query's FILTERs that target
        * this star's bound vars or its subject. */
      filters: Seq[(String, FilterCond)],
      /** (output column, literal list) from VALUES clauses on this star. */
      values: Seq[(String, Seq[String])])

  /** One per-source scan of a source expansion: the mapping's subject
    * column and one mapped predicate's value column. `value` is None only
    * on DESCRIBE's rdf:type row, whose object is the mapping's class IRI. */
  final case class Scan(mapping: EntityMapping, id: ColSpec, predicate: String,
      value: Option[ColSpec])

  /** Star A joins star B iff A has an object var that is B's subject var
    * (reference Planner.scala:62-88). */
  final case class JoinEdge(fromStar: String, toStar: String) {
    def leftCol: String = StarCompiler.varCol(fromStar, toStar)
    def rightCol: String = StarCompiler.idCol(toStar)
  }

  /** One WHERE body, planned. */
  final case class Body(
      /** the query with FILTER/VALUES on path-closure object vars removed:
        * they constrain the REACHABLE endpoint, not the one-hop edge, so
        * they stay out of the per-star scans (which would apply them to
        * every intermediate hop) and are re-applied after the closure.
        * Subject-side constraints stay: they restrict the start set. */
      query: ParsedQuery,
      deferredFilters: Seq[FilterCond],
      deferredValues: Seq[(String, Seq[String])],
      /** [[neededVars]] of `query` */
      needed: Set[String],
      /** distinct, in sorted-star order; every MINUS/EXISTS star touches
        * exactly one */
      edges: Seq[JoinEdge],
      /** bare var → post-join column: [[resolveKept]], then the
        * negated-set vars, first binding wins */
      resolution: Seq[(String, String)])

  /** A star's non-type predicates, its rdf:type class, and the sources
    * that map all of them (reference Mapper.scala:102-129). */
  def relevant(q: ParsedQuery, star: String,
      mappings: MappingsDoc): (Seq[String], Seq[EntityMapping]) = {
    val patterns = q.stars(star)
    val preds = patterns.collect {
      case TriplePattern(_, p, ObjVar(_)) if p != TriplePattern.RdfType => p
    }.distinct
    val classIri = patterns.collectFirst {
      case TriplePattern(_, TriplePattern.RdfType, ObjIri(c)) => c
    }
    (preds, mappings.relevantFor(preds, classIri))
  }

  /** Resolve the star's description against the mappings. `needed` prunes
    * object columns to the semantically required set ([[neededVars]]). */
  def build(q: ParsedQuery, star: String, mappings: MappingsDoc,
      needed: Set[String]): Spec = {
    val predToVar: Map[String, String] = q.stars(star).collect {
      case TriplePattern(_, p, ObjVar(v)) if p != TriplePattern.RdfType => p -> v
    }.toMap

    val (preds, relevantSources) = relevant(q, star, mappings)
    if (relevantSources.isEmpty) throw new NoRelevantSource(
      s"no relevant source for star ?$star (predicates: ${preds.mkString(", ")})")

    val sources = relevantSources.map { m =>
      val idSpec = idOf(m, StarCompiler.idCol(star))
      val objSpecs = predToVar.toSeq
        .filter { case (_, v) => needed.contains(v) }
        .sortBy(_._2) // deterministic column order for unionByName
        .map { case (p, v) => attrOf(m, m.predicateToAttr(p), StarCompiler.varCol(star, v)) }
      // skp(v) row filter target: the transformed attribute's own column;
      // subject-attribute transforms (attr "") target the ID column, as
      // does a transform on an attribute no pattern binds
      val skips = m.attrTransforms.toSeq.flatMap { case (attr, fns) =>
        Transforms.skipValues(fns).map { v =>
          val target =
            if (attr.isEmpty) idSpec
            else predToVar.collectFirst {
              case (p, ov) if m.predicateToAttr(p) == attr =>
                ColSpec(attr, fns, StarCompiler.varCol(star, ov))
            }.getOrElse(idSpec)
          (target, v)
        }
      }
      SourceSpec(m, idSpec +: objSpecs, skips)
    }

    // FILTER/VALUES targeting: an object var of this star → its var
    // column; the star's own subject var → the ID column
    val objVars = predToVar.values.toSet
    def target(v: String): Option[String] =
      if (objVars.contains(v)) Some(StarCompiler.varCol(star, v))
      else if (v == star) Some(StarCompiler.idCol(star))
      else None
    val filters = q.filters.flatMap(f => target(f.varName).map(_ -> f))
    val values = q.values.flatMap { case (v, vals) => target(v).map(_ -> vals) }
    Spec(star, sources, filters, values)
  }

  private def idOf(m: EntityMapping, outCol: String): ColSpec =
    ColSpec(m.idAttr, m.attrTransforms.getOrElse("", Nil), outCol)

  private def attrOf(m: EntityMapping, attr: String, outCol: String): ColSpec =
    ColSpec(attr, m.attrTransforms.getOrElse(attr, Nil), outCol)

  /** Per-source scans of every mapped predicate passing `keep`: sources
    * in the given order, predicates sorted by IRI. */
  private def expansion(sources: Seq[EntityMapping], keep: String => Boolean,
      idOut: String, valueOut: String): Seq[Scan] =
    sources.flatMap { m =>
      m.predicateToAttr.toSeq.sortBy(_._1).collect {
        case (p, attr) if keep(p) =>
          Scan(m, idOf(m, idOut), p, Some(attrOf(m, attr, valueOut)))
      }
    }

  /** DESCRIBE ?v: per relevant source of the star, its rdf:type row (when
    * the mapping declares a class), then one (sid, o) scan per mapped
    * predicate. */
  def describeScans(q: ParsedQuery, v: String, mappings: MappingsDoc): Seq[Scan] = {
    require(q.stars.contains(v),
      s"DESCRIBE ?$v requires ?$v to be a star subject in the WHERE body")
    val (_, sources) = relevant(q, v, mappings)
    if (sources.isEmpty) throw new NoRelevantSource(s"no relevant source for DESCRIBE ?$v")
    sources.flatMap { m =>
      m.classIri.map(_ => Scan(m, idOf(m, "sid"), TriplePattern.RdfType, None)).toSeq ++
        expansion(Seq(m), _ => true, "sid", "o")
    }
  }

  /** Negated property set `?s !(p…) ?v`: one scan per non-excluded mapped
    * predicate of the subject star's relevant sources, into the star's
    * ID column and the var's column. */
  def negationScans(q: ParsedQuery, ng: NegatedPath, mappings: MappingsDoc): Seq[Scan] = {
    require(q.stars.contains(ng.subjVar),
      s"negated path subject ?${ng.subjVar} needs at least one other pattern " +
        "(typically `a <Class>`) to select its sources")
    val scans = expansion(relevant(q, ng.subjVar, mappings)._2,
      p => !ng.excluded.contains(p),
      StarCompiler.idCol(ng.subjVar), StarCompiler.varCol(ng.subjVar, ng.objVar))
    require(scans.nonEmpty,
      s"negated property set on ?${ng.subjVar} excludes every mapped predicate")
    scans
  }

  /** A closure's UNCONSTRAINED one-hop (src, dst) edge scans, one list
    * per hop predicate of the path: the first drawn from the subject
    * star's relevant sources, each later hop of a composite group
    * (p1/p2/…) from EVERY source mapping it (intermediate hops may live in
    * entities the star's own sources don't cover). Deliberately not
    * derived from the star's scan: that one carries the star's
    * FILTER/VALUES, which would remove intermediate hops. */
  def pathHops(q: ParsedQuery, cl: PathClosure, mappings: MappingsDoc): Seq[Seq[Scan]] = {
    val starSources = relevant(q, cl.subjVar, mappings)._2
    cl.predicates.zipWithIndex.map { case (p, i) =>
      val sources = if (i == 0) starSources else mappings.relevantFor(Seq(p), None)
      val scans = expansion(sources, _ == p, "src", "dst")
      if (scans.isEmpty) throw new NoRelevantSource(s"no relevant source maps the path predicate <$p>")
      scans
    }
  }

  /** Plan one WHERE body: closure-endpoint deferral, needed vars, join
    * edges (with the MINUS/EXISTS leaf check) and the var resolution. */
  def body(q: ParsedQuery): Body = {
    val closureVars = q.closures.map(_.objVar).toSet
    val (deferredFilters, filters) = q.filters.partition(f => closureVars(f.varName))
    val (deferredValues, values) = q.values.partition(v => closureVars(v._1))
    val qb = if (closureVars.isEmpty) q else q.copy(filters = filters, values = values)
    val needed = neededVars(qb)

    val edges = (for {
      s <- qb.stars.keys.toSeq.sorted
      TriplePattern(_, p, ObjVar(o)) <- qb.stars(s)
      if p != TriplePattern.RdfType && qb.stars.contains(o) && o != s
    } yield JoinEdge(s, o)).distinct
    // a MINUS/EXISTS star leaves no columns behind (anti/semi join) — it
    // must be a leaf of the join graph
    for (m <- qb.minusStars ++ qb.existsStars) {
      val touching = edges.count(e => e.fromStar == m || e.toStar == m)
      require(touching == 1,
        s"MINUS/EXISTS star ?$m must connect to the rest of the query by exactly one join")
    }

    // negated-path vars (bound by the expansion, not by a pattern) resolve
    // to their star's expansion column
    val negRes = qb.negations.filter(n => needed(n.objVar))
      .map(n => n.objVar -> StarCompiler.varCol(n.subjVar, n.objVar))
    val resolution = (resolveKept(qb, needed) ++ negRes)
      .foldLeft(Vector.empty[(String, String)]) { (acc, vc) =>
        if (acc.exists(_._1 == vc._1)) acc else acc :+ vc
      }
    Body(qb, deferredFilters, deferredValues, needed, edges, resolution)
  }

  /** FILTERs on vars no star binds (BIND outputs, subquery outputs): the
    * per-star compile never sees them, so they apply after the body,
    * binds and subqueries, where those columns exist. */
  def residualFilters(q: ParsedQuery): Seq[FilterCond] = {
    val pats = if (q.unionBranches.nonEmpty) q.unionBranches.flatMap(_._1) else q.patterns
    val starTargeted =
      pats.collect { case TriplePattern(_, _, ObjVar(v)) => v }.toSet ++ pats.map(_.subject)
    q.filters.filterNot(f => starTargeted(f.varName))
  }

  /** Semantic column pruning (reference Planner.getNeededPredicates,
    * Planner.scala:24-60): a var's column is materialized iff it is
    * SELECTed, filtered, grouped, ordered, aggregated, a join key, a
    * transform operand, or a repeated object var. */
  private[engine] def neededVars(q: ParsedQuery): Set[String] = {
    if (q.selectAll)
      return q.patterns.collect { case TriplePattern(_, _, ObjVar(v)) => v }.toSet ++
        q.stars.keySet
    val objVars = q.patterns.collect { case TriplePattern(_, _, ObjVar(v)) => v }
    val repeated = objVars.groupBy(identity).collect { case (v, occ) if occ.size > 1 => v }
    val joinVars = objVars.filter(q.stars.contains)
    val bindOperands = q.binds.flatMap(_.expr.vars)
    val bindOutputs = q.binds.map(_.outVar).toSet
    // a var shared with a subquery is a join key — materialize it even
    // when the outer query neither selects nor filters it
    val subVars = q.subqueries.flatMap(s =>
      s.selectVarNames ++ s.aggregates.map(_.alias)) ++
      q.negations.map(_.objVar)
    (q.selectVarNames ++ q.aggregates.map(_.varName).filter(_ != "*") ++
      q.filters.map(_.varName) ++ q.values.map(_._1) ++ q.groupBy ++
      q.orderBy.map(_.varName) ++ q.transforms.map(_.rightVar) ++
      joinVars ++ repeated ++ bindOperands ++ subVars).toSet -- bindOutputs
  }

  /** var -> concrete post-join column, restricted to columns a KEPT
    * (non-MINUS/EXISTS) star contributes — anti/semi joins keep only the
    * preserved side's columns.
    *
    * A var survives iff a kept star binds it:
    *  - subject of a kept star → that star's ID column;
    *  - otherwise, the FIRST kept star binding it as an object var → that
    *    star's var column (one-binding invariant, reference Run.scala:73).
    * Note the order: a var that names a DROPPED star's subject but is
    * also the object of a kept star (SELECT ?v WHERE { ?x :p ?v .
    * FILTER EXISTS { ?v :q ?w } }) resolves to the kept star's column —
    * it is part of the solution, not anti/semi-joined away. */
  private[engine] def resolveKept(q: ParsedQuery, needed: Set[String]): Seq[(String, String)] = {
    val dropStars = q.minusStars ++ q.existsStars
    val keptSubjects = q.stars.keySet -- dropStars
    val keptBinding: Map[String, String] =
      q.patterns.collect {
        case TriplePattern(s, p, ObjVar(o))
            if p != TriplePattern.RdfType && keptSubjects.contains(s) => o -> s
      }.reverse.toMap // reverse + toMap = first binding wins
    needed.toSeq.sorted.flatMap { v =>
      if (keptSubjects.contains(v)) Some(v -> StarCompiler.idCol(v))
      else keptBinding.get(v).map(s => v -> StarCompiler.varCol(s, v))
    }
  }
}
