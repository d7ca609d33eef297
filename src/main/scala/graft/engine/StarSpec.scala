package graft.engine

import graft.model._

/** Engine-neutral query plan: every fact both engines need about a WHERE
  * tree — where each FILTER and VALUES applies ([[plan]]), which sources
  * feed each star of a [[Bgp]] leaf, which (source attribute → output
  * column) projections each source contributes (with FnO transform
  * chains), which skp(v) row filters and FILTER/VALUES constraints land
  * on which columns, the source expansions of DESCRIBE, negated property
  * sets and path edges, the join edges, the join chain over them
  * ([[joinPlan]]), the variable resolution, the variables each node
  * certainly or maybe binds ([[bound]]) and those each join matches on
  * ([[shared]]).
  *
  * Both engines fold the tree once and render THIS single plan —
  * [[GraftEngine]] and [[StarCompiler]] as DataFrame Columns,
  * [[SqlGenExecutor]] as SQL text (the reference's one planner with a
  * Spark and a Presto executor) — so every rule is defined once and
  * cannot drift between the engines.
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
    * the ID column when the transform is on the subject attribute).
    * `required` are the star's pattern attributes the scan does not
    * project, through their FnO chains: non-null, as [[Spec]]`.notNull`. */
  final case class SourceSpec(mapping: EntityMapping, cols: Seq[ColSpec],
      skips: Seq[(ColSpec, String)], required: Seq[ColSpec])

  final case class Spec(star: String, sources: Seq[SourceSpec],
      /** (output column, condition) from the query's FILTERs that target
        * this star's bound vars or its subject. */
      filters: Seq[(String, FilterCond)],
      /** the subject column and every projected pattern column, non-null
        * after the star's filters: a NULL generates no term, so no triple
        * (R2RML), and a row with one — here or in a source's `required`
        * attribute — answers no solution. A path closure's one-hop pattern
        * is in neither: the closure replaces it, and a subject with no hop
        * still has its zero-hop pair. */
      notNull: Seq[String])

  /** One per-source scan of a source expansion: the mapping's subject
    * column and one mapped predicate's value column. `value` is None only
    * on DESCRIBE's rdf:type row, whose object is the mapping's class IRI.
    * A row whose value is NULL is no triple, as in a star scan
    * ([[Spec]]`.notNull`): both engines keep a DESCRIBE or negated-set
    * scan's non-null values only, and a closure's edge relation drops null
    * endpoints itself. */
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

  /** One [[Bgp]] leaf, planned. */
  final case class Body(
      /** the leaf with filters on path-closure object vars removed:
        * they constrain the REACHABLE endpoint, not the one-hop edge, so
        * they stay out of the per-star scans (which would apply them to
        * every intermediate hop) and are re-applied after the closure.
        * Subject-side constraints stay: they restrict the start set. */
      bgp: Bgp,
      deferredFilters: Seq[FilterCond],
      /** the query's needed vars ([[Plan]]) */
      needed: Set[String],
      /** the join chain over the leaf's join edges ([[joinPlan]]) */
      steps: Seq[JoinStep],
      /** bare var → post-join column: [[resolve]], then the negated-set
        * vars, first binding wins */
      resolution: Seq[(String, String)])

  /** A variable two joined nodes may both bind. `certain` when both bind
    * it in every solution: a plain equi-join. Otherwise the SPARQL 1.1
    * §18.3 compatibility condition, `l.v = r.v OR l.v IS NULL OR r.v IS
    * NULL`, with `coalesce(l.v, r.v)` out (a null is an unbound
    * variable: [[Spec]]`.notNull`). */
  final case class Shared(v: String, certain: Boolean)

  /** The variables a node binds in every solution (`certain`) and in
    * some (`maybe`, a superset). */
  final case class Bound(certain: Set[String], maybe: Set[String])

  /** A query's WHERE tree planned for both engines: each FILTER condition
    * and VALUES table that a star certainly binds moved into that star's
    * leaf ([[plan]]), the variables worth projecting, and each leaf's
    * [[Body]]. */
  final class Plan private[StarSpec] (val where: Pattern, val needed: Set[String]) {
    private val bodies = scala.collection.mutable.HashMap.empty[Bgp, Body]

    def body(b: Bgp): Body = bodies.getOrElseUpdate(b, StarSpec.body(b, needed))

    /** The output variables of `p`, the ones SELECT * lists for the root:
      * a leaf's in resolution order, a BIND output last, any other
      * node's needed ones sorted. */
    def columns(p: Pattern): Seq[String] = p match {
      case b: Bgp => body(b).resolution.map(_._1)
      case Extend(i, b) => columns(i) :+ b.outVar
      case _ => bound(p).maybe.intersect(needed).toSeq.sorted
    }
  }

  /** A star's non-type predicates, its rdf:type class, and the sources
    * that map all of them (reference Mapper.scala:102-129). */
  def relevant(bgp: Bgp, star: String,
      mappings: MappingsDoc): (Seq[String], Seq[EntityMapping]) = {
    val patterns = bgp.stars(star)
    val preds = patterns.collect {
      case TriplePattern(_, p, ObjVar(_)) if p != TriplePattern.RdfType => p
    }.distinct
    val classIri = patterns.collectFirst {
      case TriplePattern(_, TriplePattern.RdfType, ObjIri(c)) => c
    }
    (preds, mappings.relevantFor(preds, classIri))
  }

  /** [[build]] for a star of the query's outer BGP, with none of its
    * FILTER or VALUES constraints. */
  def build(q: ParsedQuery, star: String, mappings: MappingsDoc, needed: Set[String]): Spec =
    build(q.bgp, star, mappings, needed)

  /** Resolve the star's description against the mappings. `needed` prunes
    * object columns to the semantically required set ([[Plan]]). */
  def build(bgp: Bgp, star: String, mappings: MappingsDoc,
      needed: Set[String]): Spec = {
    val predToVar: Map[String, String] = bgp.stars(star).collect {
      case TriplePattern(_, p, ObjVar(v)) if p != TriplePattern.RdfType => p -> v
    }.toMap

    val closureHops = bgp.closures.filter(_.subjVar == star).map(c => (c.predicate, c.objVar)).toSet
    val (preds, relevantSources) = relevant(bgp, star, mappings)
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
      val unprojected = predToVar.toSeq.sortBy(_._2).collect {
        case (p, v) if !closureHops((p, v)) && !needed(v) =>
          attrOf(m, m.predicateToAttr(p), StarCompiler.varCol(star, v))
      }
      SourceSpec(m, idSpec +: objSpecs, skips, unprojected)
    }
    val notNull = StarCompiler.idCol(star) +: predToVar.toSeq.sortBy(_._2).collect {
      case (p, v) if !closureHops((p, v)) && needed(v) => StarCompiler.varCol(star, v)
    }.distinct

    // FILTER/VALUES targeting: an object var of this star → its var
    // column; the star's own subject var → the ID column
    val objVars = predToVar.values.toSet
    def target(v: String): Option[String] =
      if (objVars.contains(v)) Some(StarCompiler.varCol(star, v))
      else if (v == star) Some(StarCompiler.idCol(star))
      else None
    Spec(star, sources, bgp.filters.flatMap(f => target(f.varName).map(_ -> f)), notNull)
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
    val (_, sources) = relevant(q.bgp, v, mappings)
    if (sources.isEmpty) throw new NoRelevantSource(s"no relevant source for DESCRIBE ?$v")
    sources.flatMap { m =>
      m.classIri.map(_ => Scan(m, idOf(m, "sid"), TriplePattern.RdfType, None)).toSeq ++
        expansion(Seq(m), _ => true, "sid", "o")
    }
  }

  /** Negated property set `?s !(p…) ?v`: one scan per non-excluded mapped
    * predicate of the subject star's relevant sources, into the star's
    * ID column and the var's column. */
  def negationScans(bgp: Bgp, ng: NegatedPath, mappings: MappingsDoc): Seq[Scan] = {
    val scans = expansion(relevant(bgp, ng.subjVar, mappings)._2,
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
  def pathHops(bgp: Bgp, cl: PathClosure, mappings: MappingsDoc): Seq[Seq[Scan]] = {
    val starSources = relevant(bgp, cl.subjVar, mappings)._2
    cl.predicates.zipWithIndex.map { case (p, i) =>
      val sources = if (i == 0) starSources else mappings.relevantFor(Seq(p), None)
      val scans = expansion(sources, _ == p, "src", "dst")
      if (scans.isEmpty) throw new NoRelevantSource(s"no relevant source maps the path predicate <$p>")
      scans
    }
  }

  /** Plan a query's WHERE tree once for both engines. Each FILTER
    * condition and each VALUES table moves into its group's own leaf
    * (every UNION branch's) when the leaf's stars certainly bind its
    * variable, and the scan applies it ([[pushed]]); the rest stay on
    * their node. The needed vars are the query's projected, aggregated,
    * grouped, ordered and transform ones (every variable the tree may
    * bind, for SELECT *, ASK and CONSTRUCT), plus every FILTER, VALUES
    * and BIND operand, every variable a join matches on, every repeated
    * object var and every negated-set var, in a MINUS or EXISTS group too
    * (reference Planner.getNeededPredicates, Planner.scala:24-60).
    * Planning each leaf and each nested group's refusals ([[checkGroup]])
    * happens here, in tree order, so both engines refuse a query alike
    * before reading a source. */
  def plan(q: ParsedQuery): Plan = {
    val where = pushDown(q.where)
    val needed = referenced(where) ++
      (if (q.selectAll) bound(where).maybe
      else q.selectVarNames ++ q.aggregates.map(_.varName).filter(_ != "*") ++ q.groupBy ++
        q.orderBy.map(_.varName) ++ q.transforms.map(_.rightVar))
    val plan = new Plan(where, needed)
    def check(p: Pattern): Unit = p match {
      case b: Bgp => plan.body(b)
      case Join(l, r) => check(l); check(r)
      case Union(l, r) => check(l); check(r)
      case LeftJoin(l, r) => check(l); checkGroup("OPTIONAL", l, r); check(r)
      case Minus(l, r) => check(l); checkGroup("MINUS", l, r); check(r)
      case Filter(es, i) =>
        check(i)
        for (Exists(g, negated) <- es) {
          checkGroup(if (negated) "FILTER NOT EXISTS" else "FILTER EXISTS", i, g)
          check(g)
        }
      case Extend(i, _) => check(i)
      case _: Table | _: SubSelect => ()
    }
    check(where)
    plan
  }

  /** The vars a leaf's stars bind: subjects and non-type object vars. */
  private def starVars(b: Bgp): Set[String] =
    b.patterns.flatMap {
      case TriplePattern(s, p, ObjVar(o)) if p != TriplePattern.RdfType => Seq(s, o)
      case t => Seq(t.subject)
    }.toSet

  /** The static pass: a leaf binds its star and negated-set vars in every
    * solution; OPTIONAL's right side, a var of one UNION branch only and
    * a BIND output (an expression error leaves it unbound) only maybe; a
    * subquery the projected vars its own WHERE certainly binds. */
  def bound(p: Pattern): Bound = p match {
    case b: Bgp =>
      val vs = starVars(b) ++ b.negations.map(_.objVar)
      Bound(vs, vs)
    case Join(l, r) =>
      val (a, c) = (bound(l), bound(r))
      Bound(a.certain ++ c.certain, a.maybe ++ c.maybe)
    case LeftJoin(l, r) =>
      val a = bound(l)
      Bound(a.certain, a.maybe ++ bound(r).maybe)
    case Union(l, r) =>
      val (a, c) = (bound(l), bound(r))
      Bound(a.certain.intersect(c.certain), a.maybe ++ c.maybe)
    case Minus(l, _) => bound(l)
    case Filter(_, i) => bound(i)
    case Extend(i, b) =>
      val a = bound(i)
      Bound(a.certain, a.maybe + b.outVar)
    case Table(v, _) => Bound(Set(v), Set(v))
    case SubSelect(q) =>
      val in = bound(q.where)
      val out = if (q.selectAll) in.maybe else q.selectVarNames.toSet ++ q.aggregates.map(_.alias)
      Bound(out.intersect(in.certain), out)
  }

  /** The variables a join of `l` and `r` matches on: both may bind them. */
  def shared(l: Pattern, r: Pattern): Seq[Shared] = {
    val (a, b) = (bound(l), bound(r))
    a.maybe.intersect(b.maybe).toSeq.sorted.map(v => Shared(v, a.certain(v) && b.certain(v)))
  }

  /** `{ A } UNION { B } UNION …` as its branches, in query order. */
  def branches(p: Pattern): Seq[Pattern] = p match {
    case Union(l, r) => branches(l) ++ branches(r)
    case other => Seq(other)
  }

  /** FILTER conditions stay on their [[Filter]] node, and VALUES tables
    * on their [[Join]], except where [[pushed]] can move them. */
  private def pushDown(p: Pattern): Pattern = p match {
    case Filter(es, i) =>
      val inner = pushDown(i)
      val (moved, kept) = es.foldLeft((inner, Seq.empty[FilterExpr])) {
        case ((n, ks), f: FilterCond) => pushed(n, f).fold((n, ks :+ f))((_, ks))
        case ((n, ks), Exists(g, negated)) => (n, ks :+ Exists(pushDown(g), negated))
      }
      if (kept.isEmpty) moved else Filter(kept, moved)
    case Join(l, t @ Table(v, vals)) =>
      val left = pushDown(l)
      pushed(left, FilterCond(v, "in", "", vals)).getOrElse(Join(left, t))
    case Join(l, r) => Join(pushDown(l), pushDown(r))
    case LeftJoin(l, r) => LeftJoin(pushDown(l), pushDown(r))
    case Minus(l, r) => Minus(pushDown(l), pushDown(r))
    case Union(l, r) => Union(pushDown(l), pushDown(r))
    case Extend(i, b) => Extend(pushDown(i), b)
    case leaf => leaf
  }

  /** `p` with the condition `f` added to the group's own leaf (every
    * UNION branch's, for a UNION) when its stars bind `f`'s variable,
    * through the positions whose every solution carries that binding: the
    * left of a join, OPTIONAL and MINUS, a BIND or FILTER's input. None
    * otherwise: a constraint on a variable `p` may leave unbound stays
    * above it (SPARQL's FILTER sees the unbound variable; VALUES joins it
    * by compatibility). */
  private def pushed(p: Pattern, f: FilterCond): Option[Pattern] = p match {
    case b: Bgp => Option.when(starVars(b)(f.varName))(b.copy(filters = b.filters :+ f))
    case Join(l, r) => pushed(l, f).map(Join(_, r))
    case LeftJoin(l, r) => pushed(l, f).map(LeftJoin(_, r))
    case Minus(l, r) => pushed(l, f).map(Minus(_, r))
    case Union(l, r) => for (a <- pushed(l, f); c <- pushed(r, f)) yield Union(a, c)
    case Filter(es, i) => pushed(i, f).map(Filter(es, _))
    case Extend(i, b) if b.outVar != f.varName => pushed(i, f).map(Extend(_, b))
    case _ => None
  }

  /** The variables a node reads: FILTER, VALUES and BIND operands and
    * every variable a join matches on, in a leaf's star chain or above. */
  private def referenced(p: Pattern): Set[String] = p match {
    case b: Bgp =>
      // a leaf's own join vars, repeated object vars and negated-set vars
      val objVars = b.patterns.collect { case TriplePattern(_, _, ObjVar(v)) => v }
      (b.filters.map(_.varName) ++ objVars.filter(b.stars.contains) ++
        objVars.diff(objVars.distinct) ++ b.negations.map(_.objVar)).toSet
    case Join(l, r) => referenced(l) ++ referenced(r) ++ shared(l, r).map(_.v)
    case LeftJoin(l, r) => referenced(l) ++ referenced(r) ++ shared(l, r).map(_.v)
    case Minus(l, r) => referenced(l) ++ referenced(r) ++ shared(l, r).map(_.v)
    case Union(l, r) => referenced(l) ++ referenced(r)
    case Filter(es, i) => referenced(i) ++ es.flatMap {
      case f: FilterCond => Set(f.varName)
      case Exists(g, _) => referenced(g) ++ shared(i, g).map(_.v)
    }
    case Extend(i, b) => referenced(i) ++ b.expr.vars
    case Table(v, _) => Set(v)
    case _: SubSelect => Set.empty
  }

  /** The refusals of a nested group — OPTIONAL, MINUS, FILTER [NOT]
    * EXISTS — joined to `left`, in both engines alike: a FILTER inside the
    * group on a variable the group does not bind; a MINUS or EXISTS group
    * on a variable `left` may leave unbound (its match would depend on
    * whether an OPTIONAL group or a UNION branch bound it); a group that
    * shares no variable with `left`; and shared variables in two
    * components of the join graph of `left`'s own leaf (the group would
    * join parts the chain only cross joins). */
  private def checkGroup(kw: String, left: Pattern, group: Pattern): Unit = {
    for (Filter(es, i) <- Seq(group); f <- es.collect { case f: FilterCond => f })
      require(bound(i).maybe(f.varName),
        s"FILTER(?${f.varName} ...) inside $kw must reference a variable bound by the group")
    val on = shared(left, group)
    if (kw != "OPTIONAL") for (s <- on) require(s.certain,
      s"?${s.v} in a $kw group is bound only by an earlier OPTIONAL group or one " +
        "UNION branch — bind it in the enclosing pattern")
    require(on.nonEmpty, s"$kw group shares no variable with the enclosing pattern")
    val leaf = left.bgp
    val components = edgesOf(leaf).foldLeft(leaf.stars.keys.toSeq.map(Set(_))) { (cs, e) =>
      val (touched, rest) = cs.partition(c => c(e.fromStar) || c(e.toStar))
      rest :+ touched.flatten.toSet
    }
    // the stars binding each shared var: its own star, the stars naming it
    // as an object, the star of a negated set it is the value of
    val vs = on.map(_.v)
    val parts = vs.flatMap(v => leaf.stars.collect {
      case (s, ps) if s == v || ps.exists(_.obj == ObjVar(v)) => s
    } ++ leaf.negations.collect { case n if n.objVar == v => n.subjVar })
      .map(s => components.indexWhere(_(s))).distinct
    require(parts.size <= 1,
      s"$kw group joins ${vs.map("?" + _).mkString(", ")}, which lie in " +
        "disconnected parts of the enclosing pattern — rewrite the query so the " +
        "group joins one connected part")
  }

  /** A leaf's join edges: star A joins star B iff A has an object var that
    * is B's subject var. Distinct, in sorted-star order. */
  private def edgesOf(b: Bgp): Seq[JoinEdge] =
    (for {
      s <- b.stars.keys.toSeq.sorted
      TriplePattern(_, p, ObjVar(o)) <- b.stars(s)
      if p != TriplePattern.RdfType && b.stars.contains(o) && o != s
    } yield JoinEdge(s, o)).distinct

  /** Plan one leaf: closure-endpoint deferral, join edges and their
    * chain, and the var resolution. */
  private def body(b: Bgp, needed: Set[String]): Body = {
    val closureVars = b.closures.map(_.objVar).toSet
    val (deferredFilters, filters) = b.filters.partition(f => closureVars(f.varName))
    val bb = b.copy(filters = filters)

    val steps = joinPlan(b, edgesOf(b))
    for (n <- b.negations) require(b.stars.contains(n.subjVar),
      s"negated path subject ?${n.subjVar} needs at least one other pattern " +
        "outside any group (typically `a <Class>`) to select its sources")

    // negated-path vars (bound by the expansion, not by a pattern) resolve
    // to their star's expansion column
    val negRes = b.negations.filter(n => needed(n.objVar))
      .map(n => n.objVar -> StarCompiler.varCol(n.subjVar, n.objVar))
    val resolution = (resolve(b, needed) ++ negRes)
      .foldLeft(Vector.empty[(String, String)]) { (acc, vc) =>
        if (acc.exists(_._1 == vc._1)) acc else acc :+ vc
      }
    Body(bb, deferredFilters, needed, steps, resolution)
  }

  /** The inner join chain over a leaf's `edges`, with the reference's
    * pending-queue semantics (SparkExecutor.scala:247-359): each
    * component seeded on its first pending edge's star; an edge between
    * two joined stars is a cycle condition; a component no joined star
    * reaches, and a star with no edge, is cross joined (the reference
    * would never drain it). Both engines render these steps, so neither
    * decides an order or a refusal of its own. Refused: more than one
    * star and no edge (a cartesian query). */
  def joinPlan(b: Bgp, edges: Seq[JoinEdge]): Seq[JoinStep] = {
    val stars = b.stars.keys.toSeq.sorted
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

  /** var -> concrete post-join column, for each needed var a star binds:
    *  - subject of a star → that star's ID column;
    *  - otherwise, the FIRST star binding it as an object var → that
    *    star's var column (one-binding invariant, reference Run.scala:73). */
  private def resolve(b: Bgp, needed: Set[String]): Seq[(String, String)] = {
    val binding: Map[String, String] =
      b.patterns.collect {
        case TriplePattern(s, p, ObjVar(o)) if p != TriplePattern.RdfType => o -> s
      }.reverse.toMap // reverse + toMap = first binding wins
    needed.toSeq.sorted.flatMap { v =>
      if (b.stars.contains(v)) Some(v -> StarCompiler.idCol(v))
      else binding.get(v).map(s => v -> StarCompiler.varCol(s, v))
    }
  }
}
