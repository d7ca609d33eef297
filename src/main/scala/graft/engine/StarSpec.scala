package graft.engine

import graft.model._

/** Engine-neutral query plan: every fact both engines need about a WHERE
  * body — which sources feed each star, which (source attribute → output
  * column) projections each source contributes (with FnO transform
  * chains), which skp(v) row filters and FILTER/VALUES constraints land
  * on which columns, the source expansions of DESCRIBE, negated property
  * sets and path edges, the join edges, the join chain over them
  * ([[joinPlan]]), the variable resolution and how each nested group
  * attaches ([[attachments]]).
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

  /** One step of a body's left-deep inner star join chain ([[joinPlan]]). */
  sealed trait JoinStep
  /** The chain starts from this star. */
  final case class Seed(star: String) extends JoinStep
  /** Join `star` to the chain on `edge`, whose other endpoint is joined. */
  final case class Attach(star: String, edge: JoinEdge) extends JoinStep
  /** Both endpoints are joined: the edge is one more condition. */
  final case class Cycle(edge: JoinEdge) extends JoinStep
  /** Cross join `star`: the seed of a component no joined star reaches,
    * or a star with no join edge at all. */
  final case class Cross(star: String) extends JoinStep

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
      /** [[neededVars]] of `query`, plus every var the enclosing body
        * needs when this is a group's body */
      needed: Set[String],
      /** distinct, in sorted-star order */
      edges: Seq[JoinEdge],
      /** the join chain over `edges` ([[joinPlan]]) */
      steps: Seq[JoinStep],
      /** bare var → post-join column: [[resolve]], then the negated-set
        * vars, first binding wins */
      resolution: Seq[(String, String)],
      /** the query's nested groups in query order, each planned as a body
        * of its own and joined to the chain's solutions once */
      groups: Seq[Attachment],
      /** the body's variables once its groups are attached, in output
        * order: the star-bound ones and an OPTIONAL group's own ones,
        * sorted, then the negated-set ones */
      vars: Seq[String])

  /** A nested group planned as a body of its own, joined to the
    * enclosing body on `shared` — the group's variables the body binds —
    * by one join of its kind ([[GroupKind]]). */
  final case class Attachment(group: Group, body: Body, shared: Seq[String])

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
    * edges and their chain, the var resolution, then each nested group
    * as a body of its own ([[groupQuery]]) with its join variables. */
  def body(q: ParsedQuery): Body = body(q, Set.empty)

  private def body(q: ParsedQuery, outerNeeded: Set[String]): Body = {
    val closureVars = q.closures.map(_.objVar).toSet
    val (deferredFilters, filters) = q.filters.partition(f => closureVars(f.varName))
    val (deferredValues, values) = q.values.partition(v => closureVars(v._1))
    val qb = if (closureVars.isEmpty) q else q.copy(filters = filters, values = values)
    val needed = neededVars(qb) ++ outerNeeded

    val edges = (for {
      s <- qb.stars.keys.toSeq.sorted
      TriplePattern(_, p, ObjVar(o)) <- qb.stars(s)
      if p != TriplePattern.RdfType && qb.stars.contains(o) && o != s
    } yield JoinEdge(s, o)).distinct
    val steps = joinPlan(qb, edges)
    for (n <- qb.negations) require(qb.stars.contains(n.subjVar),
      s"negated path subject ?${n.subjVar} needs at least one other pattern " +
        "outside any group (typically `a <Class>`) to select its sources")

    // negated-path vars (bound by the expansion, not by a pattern) resolve
    // to their star's expansion column
    val negRes = qb.negations.filter(n => needed(n.objVar))
      .map(n => n.objVar -> StarCompiler.varCol(n.subjVar, n.objVar))
    val starRes = resolve(qb, needed)
    val resolution = (starRes ++ negRes)
      .foldLeft(Vector.empty[(String, String)]) { (acc, vc) =>
        if (acc.exists(_._1 == vc._1)) acc else acc :+ vc
      }
    val groups = q.groups.zip(attachments(qb, edges, resolution.map(_._1), q.groups))
      .map { case (g, shared) => Attachment(g, body(groupQuery(q, g), needed), shared) }
    val optionalVars = groups.filter(_.group.kind == GroupKind.Optional)
      .flatMap(_.body.vars)
    val vars = ((starRes.map(_._1) ++ optionalVars).distinct.sorted ++
      negRes.map(_._1)).distinct
    Body(qb, deferredFilters, deferredValues, needed, edges, steps, resolution, groups, vars)
  }

  /** A nested group as a query of its own, the way [[unionBranches]]
    * builds a branch: the group's patterns and filters under the
    * enclosing query's VALUES and inline transforms. */
  private def groupQuery(q: ParsedQuery, g: Group): ParsedQuery =
    q.copy(patterns = g.patterns, filters = g.filters, groups = Nil,
      closures = Nil, negations = Nil, subqueries = Nil)

  /** The join variables of each nested group, in query order: the
    * group's variables the body binds (`bound`, in resolution order).
    * Refused, in both engines alike: a FILTER inside the group on a
    * variable the group does not bind; a group variable that only an
    * earlier OPTIONAL group binds (not a well-designed pattern: its join
    * would depend on whether that group matched); a group that shares no
    * variable with the body; and shared variables in two components of
    * the body's join graph (the group would join parts the chain only
    * cross joins). */
  def attachments(q: ParsedQuery, edges: Seq[JoinEdge], bound: Seq[String],
      groups: Seq[Group]): Seq[Seq[String]] = {
    val components = edges.foldLeft(q.stars.keys.toSeq.map(Set(_))) { (cs, e) =>
      val (touched, rest) = cs.partition(c => c(e.fromStar) || c(e.toStar))
      rest :+ touched.flatten.toSet
    }
    // the stars binding each var: its own star, the stars naming it as an
    // object, the star of a negated set it is the value of
    val binders: Map[String, Seq[String]] = (q.patterns.flatMap {
      case TriplePattern(s, _, ObjVar(o)) => Seq(s -> s, o -> s)
      case t => Seq(t.subject -> t.subject)
    } ++ q.negations.map(n => n.objVar -> n.subjVar)).groupMap(_._1)(_._2)
    groups.zipWithIndex.map { case (g, i) =>
      val kw = g.kind.keyword
      for (f <- g.filters) require(g.vars(f.varName),
        s"FILTER(?${f.varName} ...) inside $kw must reference a variable bound by the group")
      val earlierOptional = groups.take(i).filter(_.kind == GroupKind.Optional).flatMap(_.vars)
      for (v <- g.vars.toSeq.sorted) require(bound.contains(v) || !earlierOptional.contains(v),
        s"?$v in a $kw group is bound only by an earlier OPTIONAL group — " +
          "bind it in the enclosing pattern")
      val shared = bound.filter(g.vars)
      require(shared.nonEmpty,
        s"$kw group shares no variable with the enclosing pattern")
      val parts = shared.flatMap(binders).map(s => components.indexWhere(_(s))).distinct
      require(parts.size == 1,
        s"$kw group joins ${shared.map("?" + _).mkString(", ")}, which lie in " +
          "disconnected parts of the enclosing pattern — rewrite the query so the " +
          "group joins one connected part")
      shared
    }
  }

  /** The inner join chain over a body's `edges`, with the reference's
    * pending-queue semantics (SparkExecutor.scala:247-359): each
    * component seeded on its first pending edge's star; an edge between
    * two joined stars is a cycle condition; a component no joined star
    * reaches, and a star with no edge, is cross joined (the reference
    * would never drain it). Both engines render these steps, so neither
    * decides an order or a refusal of its own. Refused: more than one
    * star and no edge (a cartesian query). */
  def joinPlan(q: ParsedQuery, edges: Seq[JoinEdge]): Seq[JoinStep] = {
    val stars = q.stars.keys.toSeq.sorted
    if (edges.isEmpty) {
      require(stars.size == 1, s"${stars.size} stars but no join conditions (cartesian query)")
      return Seq(Seed(stars.head))
    }
    val steps = Vector.newBuilder[JoinStep]
    var joined = Set.empty[String]
    var pending = edges.toList
    while (pending.nonEmpty) {
      pending.indexWhere(e => joined(e.fromStar) || joined(e.toStar)) match {
        case -1 =>
          val seed = pending.head.fromStar
          steps += (if (joined.isEmpty) Seed(seed) else Cross(seed))
          joined += seed
        case i =>
          val e = pending(i)
          pending = pending.patch(i, Nil, 1)
          if (joined(e.fromStar) && joined(e.toStar)) steps += Cycle(e)
          else {
            val star = if (joined(e.fromStar)) e.toStar else e.fromStar
            steps += Attach(star, e)
            joined += star
          }
      }
    }
    steps ++= stars.filterNot(joined).map(Cross)
    steps.result()
  }

  /** `{ A } UNION { B }`: each branch as a query of its own, with the
    * branch's patterns and filters. */
  def unionBranches(q: ParsedQuery): Seq[ParsedQuery] =
    q.unionBranches.map { case (ps, fs) =>
      q.copy(patterns = ps, filters = fs, unionBranches = Nil)
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
    val groupVars = q.groups.flatMap(_.vars)
    if (q.selectAll)
      return q.patterns.collect { case TriplePattern(_, _, ObjVar(v)) => v }.toSet ++
        q.stars.keySet ++ groupVars
    val objVars = q.patterns.collect { case TriplePattern(_, _, ObjVar(v)) => v }
    val groupKeys = groupVars.filter(v => q.stars.contains(v) || objVars.contains(v))
    val repeated = objVars.groupBy(identity).collect { case (v, occ) if occ.size > 1 => v }
    val joinVars = objVars.filter(q.stars.contains)
    val bindOperands = q.binds.flatMap(_.expr.vars)
    val bindOutputs = q.binds.map(_.outVar).toSet
    // a var shared with a subquery or a nested group is a join key —
    // materialize it even when the outer query neither selects nor
    // filters it
    val subVars = q.subqueries.flatMap(s =>
      s.selectVarNames ++ s.aggregates.map(_.alias)) ++
      q.negations.map(_.objVar) ++ groupKeys
    (q.selectVarNames ++ q.aggregates.map(_.varName).filter(_ != "*") ++
      q.filters.map(_.varName) ++ q.values.map(_._1) ++ q.groupBy ++
      q.orderBy.map(_.varName) ++ q.transforms.map(_.rightVar) ++
      joinVars ++ repeated ++ bindOperands ++ subVars).toSet -- bindOutputs
  }

  /** var -> concrete post-join column, for each needed var a star binds:
    *  - subject of a star → that star's ID column;
    *  - otherwise, the FIRST star binding it as an object var → that
    *    star's var column (one-binding invariant, reference Run.scala:73). */
  private[engine] def resolve(q: ParsedQuery, needed: Set[String]): Seq[(String, String)] = {
    val binding: Map[String, String] =
      q.patterns.collect {
        case TriplePattern(s, p, ObjVar(o)) if p != TriplePattern.RdfType => o -> s
      }.reverse.toMap // reverse + toMap = first binding wins
    needed.toSeq.sorted.flatMap { v =>
      if (q.stars.contains(v)) Some(v -> StarCompiler.idCol(v))
      else binding.get(v).map(s => v -> StarCompiler.varCol(s, v))
    }
  }
}
