package graft.model

/** Core model for the graft engine.
  *
  * The query model mirrors the SPARQL fragment supported by the reference
  * (see /root/reference/evaluation/input_files/README.md:15-29): star-shaped
  * BGPs, comparison/regex FILTERs, GROUP BY + {sum,min,max,avg,count},
  * ORDER BY, DISTINCT, LIMIT, plus the TRANSFORM pseudo-clause
  * (reference Run.scala:33-37). Beyond the reference, a WHERE clause is
  * a SPARQL 1.1 §18 algebra tree ([[Pattern]]) whose leaves are those
  * BGPs.
  */

/** One triple pattern `?s <pred> obj`. Predicate is the fully-expanded IRI,
  * or the sentinel [[TriplePattern.RdfType]] for `rdf:type` / `a`. */
final case class TriplePattern(subject: String, predicate: String, obj: ObjectTerm)

object TriplePattern {
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
}

sealed trait ObjectTerm
final case class ObjVar(name: String) extends ObjectTerm
final case class ObjIri(iri: String) extends ObjectTerm
final case class ObjLit(lexical: String) extends ObjectTerm

/** FILTER condition. `op` is one of = != < <= > >= regex, or `in` /
  * `not in` with the member literals in `values`. Value keeps its
  * lexical form; typing is decided at compile time against the column. */
final case class FilterCond(varName: String, op: String, value: String,
    values: Seq[String] = Nil) extends FilterExpr

/** One expression of a [[Filter]]: a condition on one variable, or
  * [[Exists]]. */
sealed trait FilterExpr

/** `FILTER [NOT] EXISTS { group }`: keeps the solutions the group does
  * (not) match on the variables they share. */
final case class Exists(group: Pattern, negated: Boolean) extends FilterExpr

final case class OrderKey(varName: String, ascending: Boolean)

/** Aggregate in the SELECT list: fn in {sum, min, max, avg, count,
  * group_concat, sample} (GROUP_CONCAT sorts its elements and SAMPLE
  * picks the minimum, so both are deterministic); alias is the output column name (user-supplied via AS, or `fn(var)`
  * to match the reference's default naming, Run.scala:273).
  * `distinct` supports COUNT(DISTINCT ?v) / SUM(DISTINCT ?v) — absent
  * from the reference (SURVEY §2.4). */
final case class AggSpec(fn: String, varName: String, alias: String,
    distinct: Boolean = false,
    /** GROUP_CONCAT separator (`; SEPARATOR="..."`), default single
      * space per SPARQL 1.1. */
    separator: String = " ")

sealed trait SelectItem
final case class SelectVar(name: String) extends SelectItem
final case class SelectAgg(agg: AggSpec) extends SelectItem

/** BIND(expr AS ?out) expression AST (net-new vs the reference):
  * variables, numeric/string literals, binary arithmetic with standard
  * precedence and parentheses, and function calls: CONCAT, STR, ABS and
  * the SPARQL 1.1 builtins STRLEN, UCASE, LCASE, CONTAINS, STRSTARTS,
  * STRENDS, SUBSTR, REPLACE, CEIL, FLOOR, ROUND, COALESCE and IF. */
sealed trait BindExpr {
  /** Variables referenced anywhere in the expression (for pruning). */
  def vars: Set[String] = this match {
    case BVar(v) => Set(v)
    case BOp(_, l, r) => l.vars ++ r.vars
    case BFun(_, args) => args.flatMap(_.vars).toSet
    case _ => Set.empty
  }
}
final case class BVar(name: String) extends BindExpr
final case class BNum(value: String) extends BindExpr
final case class BStr(value: String) extends BindExpr
final case class BOp(op: String, left: BindExpr, right: BindExpr) extends BindExpr
final case class BFun(name: String, args: Seq[BindExpr]) extends BindExpr

/** One BIND(expr AS ?outVar): `expr` is any [[BindExpr]] — arithmetic
  * (+ - * /), a rename BIND(?x AS ?y), or a builtin call; a later BIND
  * may use an earlier one's output. */
final case class BindSpec(outVar: String, expr: BindExpr)

/** Length modifier of a property path (SPARQL 1.1 §9.1): `+` one or
  * more, `*` zero or more, `?` zero or one. */
sealed trait PathMod
object PathMod {
  case object OneOrMore extends PathMod
  case object ZeroOrMore extends PathMod
  case object ZeroOrOne extends PathMod
}

/** One `?s p+ ?o` / `?s p* ?o` / `?s p? ?o` variable-length path. The
  * engine replaces the star's one-hop (subject, object) binding with the
  * pairs the modifier denotes: `transitive` closes the relation
  * (`+`/`*`) vs keeps the single hop (`?`); `reflexive` adds the
  * zero-hop (x, x) pair for every subject of the star (`*`/`?`).
  *
  * `morePredicates` non-empty means a parenthesized SEQUENCE group
  * `?s (p1/p2/…)+ ?o`: the closed relation's single "edge" is the
  * composite hop p1∘p2∘… (one join chain), and the modifier applies to
  * that composite — `(mgr/mgr)+` walks even-length management chains. */
final case class PathClosure(subjVar: String, predicate: String,
    objVar: String, mod: PathMod, morePredicates: Seq[String] = Nil) {
  def reflexive: Boolean = mod != PathMod.OneOrMore
  def transitive: Boolean = mod != PathMod.ZeroOrOne
  /** All hop predicates of the (possibly composite) edge, in order. */
  def predicates: Seq[String] = predicate +: morePredicates
}

/** One `?s !p ?o` / `?s !(p1|p2) ?o` negated property set (SPARQL 1.1
  * §9.1): ?o ranges over the values of every MAPPED predicate of the
  * star's sources except the excluded ones (rdf:type is carried by the
  * mapping's class, not expanded). Values are string-cast — the
  * expansion mixes columns of different source types. */
final case class NegatedPath(subjVar: String, excluded: Seq[String],
    objVar: String)

/** One step of a join-side transformation (reference §2.8):
  * toInt | scl(_+n|_-n|_*n) | skp(v) | substit(a,b) | replc(a,b)
  * | prefix(s) | postfix(s). Args are kept raw. */
final case class TransformFn(name: String, args: Seq[String])

/** Transformation attached to one side of a join pair
  * (`TRANSFORM(?l?r.side.fn1.fn2)`): side 'l' transforms the joining
  * (FK) column of star `leftVar`; side 'r' transforms the ID column of
  * star `rightVar`. Reference QueryAnalyser.scala:166-185. */
final case class JoinTransform(leftVar: String, rightVar: String, side: Char, fns: Seq[TransformFn])

/** A WHERE clause as a SPARQL 1.1 §18 algebra tree. The parser emits one
  * tree per group `{ … }`: the group's triple patterns form one [[Bgp]]
  * leaf, which its other elements (OPTIONAL, MINUS, UNION, a nested group
  * or subquery, VALUES, BIND) then combine with in query order; its
  * FILTERs, [[Exists]] included, wrap the whole group. Every binary node
  * joins on the variables both sides may bind
  * ([[graft.engine.StarSpec.shared]]).
  *
  * One exception to §18: a triple pattern AFTER an OPTIONAL, MINUS or
  * BIND joins the leaf before that element, not the element's result.
  * `{ A OPTIONAL { B } C }` is `LeftJoin(A ∪ C, B)`, not §18's
  * `Join(LeftJoin(A, B), C)`. The two agree when every variable B and C
  * share is bound in A; when one is not, the answers can differ. */
sealed trait Pattern {

  /** The group's own leaf: the BGP its other elements combine with;
    * empty when the group has no triple patterns or they expand into
    * UNION branches (path alternatives). */
  def bgp: Bgp = this match {
    case b: Bgp => b
    case Join(l, _) => l.bgp
    case LeftJoin(l, _) => l.bgp
    case Minus(l, _) => l.bgp
    case Filter(_, i) => i.bgp
    case Extend(i, _) => i.bgp
    case _ => Bgp(Nil)
  }
}

/** A basic graph pattern: star-shaped triple patterns, with the path
  * closures and negated property sets on its stars. The parser leaves
  * `filters` empty; [[graft.engine.StarSpec.plan]] moves into it each
  * FILTER condition and each VALUES table (as an `in` condition) that a
  * star of the leaf certainly binds, and the star scans apply them. */
final case class Bgp(patterns: Seq[TriplePattern],
    /** `?s p+ ?o` / `p*` / `p?` (SPARQL 1.1 §9.1): the one-hop triple
      * stays in `patterns` (so star detection and join planning see it),
      * and the engine replaces the star's (subject, object) pairs with
      * the pairs the modifier denotes */
    closures: Seq[PathClosure] = Nil,
    /** `!p` / `!(p1|p2)`: not part of `patterns` — the subject star
      * needs at least one other pattern (typically `a g:Class`) so source
      * selection has something to work with */
    negations: Seq[NegatedPath] = Nil,
    filters: Seq[FilterCond] = Nil) extends Pattern {

  /** Star-shaped decomposition: subject var -> its triple patterns,
    * in query order (reference QueryAnalyser.getStars, but structural). */
  lazy val stars: Map[String, Seq[TriplePattern]] = patterns.groupBy(_.subject)
}

/** A group's elements joined: the solutions of both, compatible on the
  * variables they share. */
final case class Join(left: Pattern, right: Pattern) extends Pattern

/** OPTIONAL: every solution of `left`, extended by the compatible ones of
  * `right` where there are any (net-new vs the reference, which has no
  * OPTIONAL: QueryAnalyser.scala:163 TODO). */
final case class LeftJoin(left: Pattern, right: Pattern) extends Pattern

/** MINUS: the solutions of `left` that no solution of `right` matches. */
final case class Minus(left: Pattern, right: Pattern) extends Pattern

/** The solutions of `inner` that pass every expression. */
final case class Filter(exprs: Seq[FilterExpr], inner: Pattern) extends Pattern

/** `{ A } UNION { B }`: the bag union, a variable one branch leaves
  * unbound null there (net-new vs the reference: BSBM Q11 dropped). */
final case class Union(left: Pattern, right: Pattern) extends Pattern

/** BIND(expr AS ?v) over `inner`'s solutions (net-new vs the reference). */
final case class Extend(inner: Pattern, bind: BindSpec) extends Pattern

/** VALUES ?v { lit... }: an inline relation of one variable (net-new vs
  * the reference). */
final case class Table(v: String, values: Seq[String]) extends Pattern

/** SPARQL 1.1 §12 subquery `{ SELECT ... }`: evaluated on its own, its
  * modifiers included, then joined like any other node. */
final case class SubSelect(query: ParsedQuery) extends Pattern

/** A parsed query: the solution modifiers and the query form around one
  * WHERE tree. */
final case class ParsedQuery(
    prefixes: Map[String, String],
    distinct: Boolean,
    selectItems: Seq[SelectItem],
    selectAll: Boolean,
    where: Pattern,
    groupBy: Seq[String],
    orderBy: Seq[OrderKey],
    limit: Option[Int],
    offset: Option[Int] = None,
    transforms: Seq[JoinTransform] = Nil,
    /** HAVING conditions: (aggregate, op, literal) applied after GROUP BY
      * (net-new vs the reference). The aggregate must also appear in the
      * SELECT list (matched by fn+var). */
    having: Seq[(AggSpec, String, String)] = Nil,
    /** ASK query form: the result is one boolean row (`ask`) — true iff
      * the WHERE body has at least one solution. Net-new vs reference. */
    ask: Boolean = false,
    /** CONSTRUCT template triples: the result is the deduplicated triple
      * set (s, p, o — all strings) produced by instantiating the
      * template per solution. Net-new vs the reference. */
    construct: Seq[TriplePattern] = Nil,
    /** DESCRIBE ?v query form: the result is the deduplicated (s, p, o)
      * triple set describing every resource the WHERE body binds to ?v —
      * all mapped predicates (plus rdf:type) of the star's relevant
      * sources. ?v must be a star subject of [[bgp]]. Net-new vs the
      * reference. */
    describe: Option[String] = None) {

  /** The outer BGP: the WHERE group's own triple patterns, outside any
    * nested group. */
  lazy val bgp: Bgp = where.bgp

  def patterns: Seq[TriplePattern] = bgp.patterns

  def stars: Map[String, Seq[TriplePattern]] = bgp.stars

  /** The WHERE group's own FILTER conditions. */
  def filters: Seq[FilterCond] = where match {
    case Filter(es, _) => es.collect { case f: FilterCond => f }
    case _ => Nil
  }

  def selectVarNames: Seq[String] =
    selectItems.collect { case SelectVar(v) => v }

  def aggregates: Seq[AggSpec] =
    selectItems.collect { case SelectAgg(a) => a }
}

/** One RML triples-map: which source holds an entity and how each
  * predicate maps to a source attribute (reference mappings.ttl:16-54). */
final case class EntityMapping(
    name: String,
    source: String,
    storeType: String,
    subjectTemplate: String,
    classIri: Option[String],
    predicateToAttr: Map[String, String],
    /** attribute -> FnO transform chain (reference Mapper.scala:183-301);
      * key "" means the subject/ID attribute. */
    attrTransforms: Map[String, Seq[TransformFn]]) {

  /** ID attribute = the name inside the rr:template braces
    * (reference Helpers.scala:146-149). */
  val idAttr: String = {
    val i = subjectTemplate.indexOf('{')
    val j = subjectTemplate.indexOf('}')
    if (i >= 0 && j > i) subjectTemplate.substring(i + 1, j)
    else sys.error(s"subject template without {id}: $subjectTemplate")
  }
}

final case class SourceConfig(
    entity: String,
    storeType: String,
    source: String,
    options: Map[String, String])

final case class LakeConfig(sources: Seq[SourceConfig]) {
  def optionsFor(source: String): Map[String, String] =
    sources.find(_.source == source).map(_.options).getOrElse(Map.empty)
}

/** A mappings document: prefix table + entity mappings. */
final case class MappingsDoc(prefixes: Map[String, String], entities: Seq[EntityMapping]) {

  /** Relevant sources for a star: every non-type predicate of the star must
    * be mapped, and an rdf:type constraint must match rr:class
    * (reference Mapper.scala:102-129 — all-predicates-must-match). */
  def relevantFor(preds: Seq[String], classIri: Option[String]): Seq[EntityMapping] =
    entities.filter { m =>
      preds.forall(m.predicateToAttr.contains) &&
        classIri.forall(c => m.classIri.contains(c))
    }
}
