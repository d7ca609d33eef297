package graft.sparql

import graft.model._

/** Recursive-descent parser for the SPARQL fragment the reference supports
  * (grammar: /root/reference/evaluation/input_files/README.md:15-29), parsed
  * structurally instead of the reference's regex-over-pretty-printed-BGP
  * (QueryAnalyser.scala:122-123). Extensions beyond the reference:
  *   - `(AGG(?v) AS ?alias)` select expressions (SPARQL 1.1 style) in
  *     addition to the reference's bare `AGG(?v)`;
  *   - `;` predicate-object lists with subject elision;
  *   - modifiers accepted in any order;
  *   - TRANSFORM(...) extracted with balanced-paren scanning anywhere in the
  *     text (the reference requires it to be the final clause, Run.scala:33).
  */
object SparqlParser {

  private val AggFns = Set("sum", "min", "max", "avg", "count",
    "group_concat", "sample")
  private val CmpOps = Seq("<=", ">=", "!=", "=", "<", ">")

  def parse(queryText: String): ParsedQuery = {
    val (text, transforms) = extractTransform(queryText)
    new Parser(stripComments(text)).parseQuery(transforms, nested = false, Map.empty)
  }

  /** Remove `#`-to-EOL comments, but not inside IRIs or strings. */
  private def stripComments(s: String): String = {
    val sb = new StringBuilder
    var inIri = false; var inStr = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '<' if !inStr => inIri = true; sb += c
        case '>' if !inStr => inIri = false; sb += c
        case '"' if !inIri => inStr = !inStr; sb += c
        case '#' if !inIri && !inStr =>
          while (i < s.length && s.charAt(i) != '\n') i += 1
          sb += '\n'
        case _ => sb += c
      }
      i += 1
    }
    sb.toString
  }

  /** Pull out `TRANSFORM( ... )` (balanced parens) and parse its content:
    * `?l?r.side.fn1.fn2(...) && ...` (reference QueryAnalyser.scala:166-185). */
  private def extractTransform(q: String): (String, Seq[JoinTransform]) = {
    val idx = q.indexOf("TRANSFORM")
    if (idx < 0) return (q, Nil)
    var i = q.indexOf('(', idx)
    require(i >= 0, "TRANSFORM without '('")
    var depth = 0; var end = -1; var j = i
    while (j < q.length && end < 0) {
      q.charAt(j) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) end = j
        case _ =>
      }
      j += 1
    }
    require(end > 0, "unbalanced TRANSFORM parens")
    val body = q.substring(i + 1, end)
    val rest = q.substring(0, idx) + q.substring(end + 1)
    (rest, parseTransforms(body))
  }

  private[sparql] def parseTransforms(body: String): Seq[JoinTransform] =
    body.split("&&").toSeq.map(_.trim).filter(_.nonEmpty).map { t =>
      // ?l?r.side.fn1.fn2(args)...  — dots inside (...) are not separators
      require(t.startsWith("?"), s"transform must start with ?var?var: $t")
      val dot0 = t.indexOf('.')
      val vars = t.substring(1, dot0).split("\\?")
      require(vars.length == 2, s"transform needs two vars: $t")
      val restStr = t.substring(dot0 + 1)
      val parts = splitTopLevelDots(restStr)
      val side = parts.head.trim
      require(side == "l" || side == "r", s"transform side must be l|r: $t")
      val fns = parts.tail.map(parseFn)
      JoinTransform(vars(0), vars(1), side.charAt(0), fns)
    }

  private def splitTopLevelDots(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0
    for (i <- 0 until s.length) s.charAt(i) match {
      case '(' => depth += 1
      case ')' => depth -= 1
      case '.' if depth == 0 => out += s.substring(start, i); start = i + 1
      case _ =>
    }
    out += s.substring(start)
    out.result()
  }

  private def parseFn(s0: String): TransformFn = {
    val s = s0.trim
    val p = s.indexOf('(')
    if (p < 0) TransformFn(s, Nil)
    else {
      val name = s.substring(0, p)
      val inner = s.substring(p + 1, s.lastIndexOf(')'))
      val args = name match {
        case "scl" => Seq(inner.trim) // keep `_+61` whole
        case _ => inner.split(",").toSeq.map(_.trim)
      }
      TransformFn(name, args)
    }
  }

  // ---------------------------------------------------------------- tokens

  private sealed trait Tok
  private case class Word(s: String) extends Tok // keyword / qname / number / 'a'
  private case class Var(name: String) extends Tok
  private case class Iri(iri: String) extends Tok
  private case class Str(s: String) extends Tok
  private case class Sym(s: String) extends Tok

  private def tokenize(s: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i = 0
    def isWordChar(c: Char) =
      c.isLetterOrDigit || c == '_' || c == ':' || c == '-' || c == '+' ||
        (c == '.' && false)
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '?') {
        var j = i + 1
        while (j < s.length && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
        // a bare '?' (no name chars after it) is the zero-or-one path
        // modifier, not a variable
        if (j == i + 1) { toks += Sym("?"); i = j }
        else { toks += Var(s.substring(i + 1, j)); i = j }
      } else if (c == '<' && {
        // '<' opens an IRI only if a '>' follows with no whitespace between;
        // otherwise it is the comparison operator (FILTER(?x < 5))
        val j = s.indexOf('>', i)
        j > 0 && !s.substring(i + 1, j).exists(_.isWhitespace)
      }) {
        val j = s.indexOf('>', i)
        toks += Iri(s.substring(i + 1, j)); i = j + 1
      } else if (c == '"') {
        val sb = new StringBuilder; var j = i + 1
        while (j < s.length && s.charAt(j) != '"') {
          if (s.charAt(j) == '\\' && j + 1 < s.length) { sb += s.charAt(j + 1); j += 2 }
          else { sb += s.charAt(j); j += 1 }
        }
        toks += Str(sb.toString); i = j + 1
      } else if ("{}();,*/^|".indexOf(c) >= 0) {
        toks += Sym(c.toString); i += 1
      } else if (c == '!' || c == '=' || c == '<' || c == '>') {
        val two = s.substring(i, math.min(i + 2, s.length))
        if (CmpOps.contains(two)) { toks += Sym(two); i += 2 }
        else { toks += Sym(c.toString); i += 1 }
      } else if (c == '.') {
        // distinguish triple terminator from decimal point: digit.digit
        val prevDigit = toks.result().lastOption.exists {
          case Word(w) => w.nonEmpty && w.last.isDigit; case _ => false
        }
        val nextDigit = i + 1 < s.length && s.charAt(i + 1).isDigit
        if (prevDigit && nextDigit) {
          // merge into previous number word
          var j = i + 1
          while (j < s.length && s.charAt(j).isDigit) j += 1
          val all = toks.result()
          val Word(prev) = all.last: @unchecked
          toks.clear(); toks ++= all.init
          toks += Word(prev + s.substring(i, j)); i = j
        } else { toks += Sym("."); i += 1 }
      } else if (isWordChar(c)) {
        var j = i
        while (j < s.length && isWordChar(s.charAt(j))) j += 1
        toks += Word(s.substring(i, j)); i = j
      } else sys.error(s"unexpected char '$c' at offset $i")
    }
    toks.result()
  }

  // ---------------------------------------------------------------- parser

  private final class Parser(text: String) {
    private val toks = tokenize(text)
    private var pos = 0

    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def expectSym(s: String): Unit = next() match {
      case Sym(`s`) => ()
      case t => sys.error(s"expected '$s', got $t (at token $pos)")
    }
    private def isKw(t: Tok, kw: String): Boolean = t match {
      case Word(w) => w.equalsIgnoreCase(kw); case _ => false
    }
    private def takeKw(kw: String): Boolean =
      peek.exists(isKw(_, kw)) && { pos += 1; true }

    /** `nested = true` parses a SPARQL 1.1 subquery: the SELECT query
      * inside an already-consumed `{`, terminating at (and consuming) the
      * matching `}` after the solution modifiers; `outerPrefixes` are in
      * scope (a subquery declares no PREFIX of its own). */
    def parseQuery(transforms: Seq[JoinTransform], nested: Boolean,
        outerPrefixes: Map[String, String]): ParsedQuery = {
      var prefixes = outerPrefixes
      while (takeKw("PREFIX")) {
        val Word(pfx) = next(): @unchecked
        val Iri(iri) = next(): @unchecked
        prefixes += pfx.stripSuffix(":") -> iri
      }
      val ask = takeKw("ASK")
      val construct =
        if (!ask && takeKw("CONSTRUCT")) group(prefixes, top = false) match {
          case b: Bgp => b.patterns
          case _ => throw new IllegalArgumentException("a CONSTRUCT template takes triple patterns only")
        } else Nil
      val describe =
        if (!ask && construct.isEmpty && takeKw("DESCRIBE")) {
          val Var(v) = next(): @unchecked
          Some(v)
        } else None
      val plainSelect = !ask && construct.isEmpty && describe.isEmpty
      if (plainSelect)
        require(takeKw("SELECT"), "expected SELECT, ASK, CONSTRUCT or DESCRIBE")
      val distinct = plainSelect && takeKw("DISTINCT")
      var selectAll = !plainSelect && describe.isEmpty
      val items = Seq.newBuilder[SelectItem]
      // DESCRIBE compiles its body like SELECT ?v (resources to describe)
      for (v <- describe) items += SelectVar(v)
      var reading = plainSelect
      while (reading) peek match {
        case Some(Sym("*")) => next(); selectAll = true
        case Some(Var(v)) => next(); items += SelectVar(v)
        case Some(Sym("(")) => next(); items += parseAggExpr(closeParen = true)
        case Some(Word(w)) if AggFns.contains(w.toLowerCase) && !w.equalsIgnoreCase("where") =>
          items += parseAggExpr(closeParen = false)
        case _ => reading = false
      }
      require(takeKw("WHERE"), "expected WHERE")
      val where = group(prefixes, top = true)
      // modifiers, any order
      var groupBy = Seq.empty[String]
      var orderBy = Seq.empty[OrderKey]
      var limit = Option.empty[Int]
      var offset = Option.empty[Int]
      var having = Seq.empty[(AggSpec, String, String)]
      var inMods = true
      while (inMods) peek match {
        case Some(w) if isKw(w, "HAVING") =>
          next(); expectSym("(")
          val agg = parseAggExpr(closeParen = false).agg
          val Sym(op) = next(): @unchecked
          require(CmpOps.contains(op), s"unsupported HAVING op $op")
          val value = next() match {
            case Word(v) => v
            case Str(s) => s
            case t => sys.error(s"unsupported HAVING literal: $t")
          }
          expectSym(")")
          having :+= ((agg, op, value))
        case Some(w) if isKw(w, "GROUP") =>
          next(); require(takeKw("BY"), "GROUP must be followed by BY")
          val vs = Seq.newBuilder[String]
          while (peek.exists(_.isInstanceOf[Var])) { val Var(v) = next(): @unchecked; vs += v }
          groupBy = vs.result()
        case Some(w) if isKw(w, "ORDER") =>
          next(); require(takeKw("BY"), "ORDER must be followed by BY")
          val ks = Seq.newBuilder[OrderKey]
          var more = true
          while (more) peek match {
            case Some(Var(v)) => next(); ks += OrderKey(v, ascending = true)
            case Some(w2) if isKw(w2, "ASC") || isKw(w2, "DESC") =>
              val asc = isKw(w2, "ASC"); next(); expectSym("(")
              val Var(v) = next(): @unchecked
              expectSym(")"); ks += OrderKey(v, asc)
            case _ => more = false
          }
          orderBy = ks.result()
        case Some(w) if isKw(w, "LIMIT") =>
          next(); val Word(n) = next(): @unchecked; limit = Some(n.toInt)
        case Some(w) if isKw(w, "OFFSET") =>
          next(); val Word(n) = next(): @unchecked; offset = Some(n.toInt)
        case Some(Sym("}")) if nested => next(); inMods = false
        case None if !nested => inMods = false
        case t => sys.error(s"unexpected trailing token: $t")
      }
      ParsedQuery(prefixes, distinct, items.result(), selectAll, where, groupBy, orderBy,
        limit, offset, transforms, having = having, ask = ask, construct = construct,
        describe = describe)
    }

    /** One group `{ … }` as an algebra tree (SPARQL 1.1 §18.2.2). Its
      * triple patterns form one [[Bgp]] leaf, wherever they appear in the
      * group; path alternatives (`p1|p2`, §9.3) expand that leaf into the
      * UNION of one leaf per choice. The group's other elements then
      * combine with the leaf in query order, and its FILTERs, EXISTS ones
      * included, wrap the whole group. A triple pattern after an OPTIONAL,
      * MINUS or BIND so joins the leaf before that element, which departs
      * from §18 when it shares a variable with the element that the
      * patterns before it do not bind ([[Pattern]]). Closures and negated
      * property sets are parsed in a query's own WHERE group only (`top`). */
    private def group(prefixes: Map[String, String], top: Boolean): Pattern = {
      expectSym("{")
      val patterns = Seq.newBuilder[TriplePattern]
      val alts = Seq.newBuilder[Seq[Seq[TriplePattern]]]
      val closures = Seq.newBuilder[PathClosure]
      val negations = Seq.newBuilder[NegatedPath]
      val filters = Seq.newBuilder[FilterExpr]
      // each element applied to the solutions before it (none before the
      // first element of a group without triple patterns)
      val elements = Seq.newBuilder[Option[Pattern] => Pattern]
      def joined(p: Pattern): Unit = elements += (_.fold(p)(Join(_, p)))
      def onLeft(f: Pattern => Pattern): Unit = elements += (acc => f(acc.getOrElse(Bgp(Nil))))
      var in = true
      while (in) peek match {
        case Some(Sym("}")) => next(); in = false
        case Some(w) if isKw(w, "FILTER") =>
          next()
          if (takeKw("EXISTS")) filters += Exists(group(prefixes, top = false), negated = false)
          else if (takeKw("NOT")) {
            require(takeKw("EXISTS"), "expected EXISTS after FILTER NOT")
            filters += Exists(group(prefixes, top = false), negated = true)
          } else filters += parseFilter()
        case Some(w) if isKw(w, "OPTIONAL") =>
          next(); val g = group(prefixes, top = false); onLeft(LeftJoin(_, g))
        case Some(w) if isKw(w, "MINUS") =>
          next(); val g = group(prefixes, top = false); onLeft(Minus(_, g))
        case Some(w) if isKw(w, "BIND") =>
          next(); expectSym("(")
          val expr = parseBindExpr()
          require(takeKw("AS"), "BIND needs AS ?var")
          val Var(out) = next(): @unchecked
          expectSym(")")
          onLeft(Extend(_, BindSpec(out, expr)))
        case Some(w) if isKw(w, "VALUES") =>
          next()
          val Var(v) = next(): @unchecked
          expectSym("{")
          val vs = Seq.newBuilder[String]
          var inVals = true
          while (inVals) peek match {
            case Some(Sym("}")) => next(); inVals = false
            case Some(Word(x)) => next(); vs += x
            case Some(Str(x)) => next(); vs += x
            case t => sys.error(s"unsupported VALUES entry: $t")
          }
          joined(Table(v, vs.result()))
        case Some(Sym("{")) if pos + 1 < toks.length && isKw(toks(pos + 1), "SELECT") =>
          // { SELECT ... } — SPARQL 1.1 §12 subquery
          next()
          joined(SubSelect(parseQuery(Nil, nested = true, prefixes)))
        case Some(Sym("{")) =>
          // a nested group, or { A } UNION { B } [UNION { C }]*
          var g = group(prefixes, top = false)
          while (takeKw("UNION")) g = Union(g, group(prefixes, top = false))
          joined(g)
        case Some(Var(_)) =>
          parseTriplesSameSubject(patterns, prefixes, alts,
            Option.when(top)(closures), Option.when(top)(negations))
        case Some(Sym(".")) => next() // stray terminator
        case t => sys.error(s"unexpected token in WHERE: $t")
      }
      val (ps, cl, ng, choices) = (patterns.result(), closures.result(), negations.result(), alts.result())
      val leaf =
        if (ps.isEmpty && ng.isEmpty && choices.isEmpty) None
        else Some(choices.foldLeft(Seq(ps)) { (acc, opts) => for (a <- acc; o <- opts) yield a ++ o }
          .map(b => Bgp(b, cl, ng): Pattern).reduceLeft(Union))
      val body = elements.result().foldLeft(leaf)((acc, e) => Some(e(acc))).getOrElse(Bgp(Nil))
      val fs = filters.result()
      if (fs.isEmpty) body else Filter(fs, body)
    }

    /** BIND expression: precedence-climbing over the token stream
      * (factor := var | literal | '(' expr ')' | fn '(' args ')';
      * term := factor (('*'|'/') factor)*; expr := term (('+'|'-') term)*).
      * The tokenizer folds '+'/'-' into words (standalone `Word("-")`, or
      * fused with a following literal as `Word("-3")`), so the
      * operator-vs-signed-literal split is contextual: a signed numeric
      * word in operand position is a literal; in operator position it is
      * an operator fused with its right literal. Parsing stops at `AS`. */
    private def parseBindExpr(): BindExpr = {
      def factor(): BindExpr = next() match {
        case Sym("(") => val e = expr(); expectSym(")"); e
        case Var(v) => BVar(v)
        case Str(s) => BStr(s)
        case Word(n) if n.toDoubleOption.isDefined => BNum(n)
        case Word(f) if peek.contains(Sym("(")) =>
          next()
          val args = Seq.newBuilder[BindExpr]
          if (!peek.contains(Sym(")"))) {
            args += expr()
            while (peek.contains(Sym(","))) { next(); args += expr() }
          }
          expectSym(")")
          BFun(f.toLowerCase, args.result())
        case t => sys.error(s"unsupported BIND factor: $t")
      }
      def term(): BindExpr = {
        var e = factor(); var go = true
        while (go) peek match {
          case Some(Sym("*")) => next(); e = BOp("*", e, factor())
          case Some(Sym("/")) => next(); e = BOp("/", e, factor())
          case _ => go = false
        }
        e
      }
      def expr(): BindExpr = {
        var e = term(); var go = true
        while (go) peek match {
          case Some(Word(o)) if o == "+" || o == "-" =>
            next(); e = BOp(o, e, term())
          case Some(Word(w)) if (w.startsWith("+") || w.startsWith("-")) &&
              w.length > 1 && w.tail.toDoubleOption.isDefined =>
            next(); e = BOp(w.head.toString, e, BNum(w.tail))
          case _ => go = false
        }
        e
      }
      expr()
    }

    /** AGG '(' ?v ')' [AS ?alias] [')'] — the surrounding '(' was already
      * consumed when closeParen is true. */
    private def parseAggExpr(closeParen: Boolean): SelectAgg = {
      val Word(fnRaw) = next(): @unchecked
      val fn = fnRaw.toLowerCase
      require(AggFns.contains(fn), s"unknown aggregate: $fnRaw")
      expectSym("(")
      val distinctAgg = takeKw("DISTINCT")
      val v = next() match {
        case Var(v0) => v0
        case Sym("*") if fn == "count" => "*"
        case t => sys.error(s"expected var in $fn(...), got $t")
      }
      // GROUP_CONCAT(?v; SEPARATOR="...") — SPARQL 1.1 §18.5.1.7
      var separator = " "
      if (peek.contains(Sym(";"))) {
        next()
        val t = next()
        require(isKw(t, "SEPARATOR"), s"expected SEPARATOR, got $t")
        expectSym("=")
        val Str(sep) = next(): @unchecked
        separator = sep
      }
      expectSym(")")
      var alias = s"$fn($v)" // reference default naming, Run.scala:273
      if (takeKw("AS")) { val Var(a) = next(): @unchecked; alias = a }
      if (closeParen) expectSym(")")
      SelectAgg(AggSpec(fn, v, alias, distinctAgg, separator))
    }

    private def parseFilter(): FilterCond = {
      peek match {
        case Some(w) if isKw(w, "regex") =>
          next(); expectSym("(")
          val Var(v) = next(): @unchecked
          expectSym(",")
          val Str(pat) = next(): @unchecked
          expectSym(")")
          FilterCond(v, "regex", pat)
        case _ =>
          expectSym("(")
          peek match {
            case Some(w) if isKw(w, "regex") =>
              next(); expectSym("(")
              val Var(v) = next(): @unchecked
              expectSym(",")
              val Str(pat) = next(): @unchecked
              expectSym(")"); expectSym(")")
              FilterCond(v, "regex", pat)
            case _ =>
              val Var(v) = next(): @unchecked
              peek match {
                case Some(w) if isKw(w, "IN") || isKw(w, "NOT") =>
                  val negated = isKw(w, "NOT")
                  next()
                  if (negated) {
                    val t = next()
                    require(isKw(t, "IN"), s"expected IN after NOT, got $t")
                  }
                  expectSym("(")
                  val vals = Seq.newBuilder[String]
                  var more = !peek.contains(Sym(")"))
                  while (more) {
                    vals += (next() match {
                      case Word(w0) => w0
                      case Str(s) => s
                      case t => sys.error(s"unsupported IN-list literal: $t")
                    })
                    if (peek.contains(Sym(","))) next() else more = false
                  }
                  expectSym(")"); expectSym(")")
                  FilterCond(v, if (negated) "not in" else "in", "", vals.result())
                case _ =>
                  val Sym(op) = next(): @unchecked
                  require(CmpOps.contains(op), s"unsupported filter op $op")
                  val value = next() match {
                    case Word(w) => w
                    case Str(s) => s
                    case t => sys.error(s"unsupported filter literal: $t")
                  }
                  expectSym(")")
                  FilterCond(v, op, value)
              }
          }
      }
    }

    /** Fresh intermediate variable for sequence-path desugaring. */
    private var pathCounter = 0
    private def freshPathVar(): String = {
      val v = s"__path$pathCounter"; pathCounter += 1; v
    }

    /** One path element: ([^]pred[+|*|?]) → (iri, inverse, modifier). The
      * tokenizer folds a trailing `+` into a qname word; after an `<iri>`
      * form it surfaces as a standalone `Word("+")`; `*` and `?` are
      * always standalone `Sym`s. */
    private type PathElem = (String, Boolean, Option[PathMod])

    /** Triples-block parser. Path alternatives (`p1|p2`) collect the
      * per-alternative desugared triples into `altsInto` (expanded to
      * UNION branches by the caller). `closuresInto`/`negationsInto` are
      * present in a query's own WHERE group only: `p+`/`p*`/`p?` collect
      * [[PathClosure]] specs and `!p` [[NegatedPath]]s; inside a nested
      * group both are rejected. */
    private def parseTriplesSameSubject(
        out: scala.collection.mutable.Builder[TriplePattern, Seq[TriplePattern]],
        prefixes: Map[String, String],
        altsInto: scala.collection.mutable.Builder[Seq[Seq[TriplePattern]], Seq[Seq[Seq[TriplePattern]]]],
        closuresInto: Option[scala.collection.mutable.Builder[PathClosure, Seq[PathClosure]]],
        negationsInto: Option[scala.collection.mutable.Builder[NegatedPath, Seq[NegatedPath]]]): Unit = {
      val Var(subj) = next(): @unchecked
      var more = true
      while (more) {
        def predToken(): (String, Option[PathMod]) = next() match {
          case Word("a") => (TriplePattern.RdfType, None)
          case Word(q) if q.length > 1 && q.endsWith("+") =>
            (expandQName(q.dropRight(1), prefixes), Some(PathMod.OneOrMore))
          case Word(q) => (expandQName(q, prefixes), None)
          case Iri(iri) if iri == TriplePattern.RdfType => (TriplePattern.RdfType, None)
          case Iri(iri) => (iri, None)
          case t => sys.error(s"expected predicate, got $t")
        }
        // property paths (SPARQL 1.1 §9.1): sequences p1/p2/..., inverse
        // elements ^p, alternatives p1|p2, arbitrary length p+/p*, zero-or-one p?, and
        // negated sets !p / !(p1|p2). Sequences/inverses desugar to
        // chained triples over fresh intermediate variables; alternatives
        // desugar to UNION branches; +/* become PathClosure specs the
        // engine closes transitively; ! becomes a NegatedPath the engine
        // expands over the star's mapped predicates.
        if (peek.contains(Sym("!"))) {
          require(negationsInto.isDefined,
            "negated property sets are supported in the top-level WHERE body only")
          next()
          val excluded = Seq.newBuilder[String]
          def one(): Unit = {
            val (p, mod) = predToken()
            require(mod.isEmpty, "+/*/? modifiers inside a negated set are not supported")
            excluded += p
          }
          if (peek.contains(Sym("("))) {
            next(); one()
            while (peek.contains(Sym("|"))) { next(); one() }
            expectSym(")")
          } else one()
          next() match {
            case Var(v) => negationsInto.get += NegatedPath(subj, excluded.result(), v)
            case t => sys.error(s"negated property set needs a variable object, got $t")
          }
        } else if (peek.contains(Sym("("))) {
          // parenthesized SEQUENCE group with a length modifier:
          // `?s (p1/p2/…)+ ?o` (also `*` / `?`) — the closure's single
          // "edge" is the composite hop p1∘p2∘…; forward predicates only
          next()
          val groupPreds = Seq.newBuilder[String]
          def onePred(): Unit = {
            val (p, m) = predToken()
            require(m.isEmpty && p != TriplePattern.RdfType,
              "a modified path group takes plain forward predicates only")
            groupPreds += p
          }
          onePred()
          while (peek.contains(Sym("/"))) { next(); onePred() }
          expectSym(")")
          val mod = next() match {
            case Word("+") => PathMod.OneOrMore
            case Sym("*") => PathMod.ZeroOrMore
            case Sym("?") => PathMod.ZeroOrOne
            case t => sys.error(s"a parenthesized path group needs a +/*/? modifier, got $t")
          }
          require(closuresInto.isDefined,
            "(p1/p2)+ paths are supported in the top-level WHERE body only")
          val preds = groupPreds.result()
          next() match {
            case Var(o) =>
              // the head predicate carries the star membership; the
              // engine replaces the binding with the closed pairs
              out += TriplePattern(subj, preds.head, ObjVar(o))
              closuresInto.get += PathClosure(subj, preds.head, o, mod,
                morePredicates = preds.tail)
            case t => sys.error(s"(p1/p2)+ path needs a variable object, got $t")
          }
        } else {
        def pathElem(): PathElem = {
          val inv = peek.contains(Sym("^"))
          if (inv) next()
          var (pred, mod) = predToken()
          if (mod.isEmpty) peek match {
            case Some(Sym("*")) => next(); mod = Some(PathMod.ZeroOrMore)
            case Some(Sym("?")) => next(); mod = Some(PathMod.ZeroOrOne)
            case Some(Word("+")) => next(); mod = Some(PathMod.OneOrMore)
            case _ => ()
          }
          (pred, inv, mod)
        }
        def chain(): Seq[PathElem] = {
          val b = Seq.newBuilder[PathElem]
          b += pathElem()
          while (peek.contains(Sym("/"))) { next(); b += pathElem() }
          b.result()
        }
        val alternatives = Seq.newBuilder[Seq[PathElem]]
        alternatives += chain()
        while (peek.contains(Sym("|"))) { next(); alternatives += chain() }
        val altChains = alternatives.result()
        val (headPred, _, _) = altChains.head.last
        val obj: ObjectTerm = next() match {
          case Var(v) => ObjVar(v)
          case Iri(iri) => ObjIri(iri)
          case Str(s) => ObjLit(s)
          case Word(w) if headPred == TriplePattern.RdfType => ObjIri(expandQName(w, prefixes))
          case Word(w) => ObjLit(w)
          case t => sys.error(s"expected object, got $t")
        }
        def desugarChain(preds: Seq[PathElem],
            into: scala.collection.mutable.Builder[TriplePattern, Seq[TriplePattern]]): Unit = {
          def emit(from: String, p: String, inv: Boolean, to: ObjectTerm): Unit =
            if (!inv) into += TriplePattern(from, p, to)
            else to match {
              case ObjVar(tv) => into += TriplePattern(tv, p, ObjVar(from))
              case t => sys.error(s"inverse path ^<$p> needs a variable object, got $t")
            }
          var cur = subj
          for ((p, inv, _) <- preds.init) {
            val v = freshPathVar()
            emit(cur, p, inv, ObjVar(v))
            cur = v
          }
          val (pred, lastInv, _) = preds.last
          emit(cur, pred, lastInv, obj)
        }
        if (altChains.size > 1) {
          require(altChains.forall(_.forall(_._3.isEmpty)),
            "+/*/? modifiers inside path alternatives are not supported")
          altsInto += altChains.map { ch =>
            val b = Seq.newBuilder[TriplePattern]
            desugarChain(ch, b)
            b.result()
          }
        } else {
          val ch = altChains.head
          if (ch.exists(_._3.isDefined)) {
            require(ch.size == 1 && !ch.head._2,
              "+/*/? path modifiers are supported on a single forward predicate only")
            require(closuresInto.isDefined,
              "p+/p*/p? paths are supported in the top-level WHERE body only")
            val (p, _, Some(mod)) = ch.head: @unchecked
            obj match {
              case ObjVar(o) =>
                out += TriplePattern(subj, p, ObjVar(o))
                closuresInto.get += PathClosure(subj, p, o, mod)
              case t => sys.error(s"p+/p*/p? path needs a variable object, got $t")
            }
          } else desugarChain(ch, out)
        }
        }
        peek match {
          case Some(Sym(";")) => next()
          case Some(Sym(".")) => next(); more = false
          case _ => more = false // allow missing final '.'
        }
      }
    }

    private def expandQName(q: String, prefixes: Map[String, String]): String = {
      val i = q.indexOf(':')
      require(i >= 0, s"expected qname or IRI, got: $q")
      val (pfx, local) = (q.substring(0, i), q.substring(i + 1))
      prefixes.get(pfx) match {
        case Some(ns) => ns + local
        case None => sys.error(s"undeclared prefix '$pfx:' in $q")
      }
    }
  }
}
