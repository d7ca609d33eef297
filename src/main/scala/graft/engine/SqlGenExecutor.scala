package graft.engine

import graft.model._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Second execution engine: renders the same [[StarSpec]] plan the
  * DataFrame engine renders as Columns into ONE nested ANSI SQL string —
  * the counterpart of the reference's Presto executor
  * (PrestoExecutor.scala:404-518, which string-builds a nested per-star
  * SQL query via model/DataQueryFrame.scala:5-86 and ships it to
  * Presto). The reference
  * offers its users a SQL-engine path beside the Spark path; this is that
  * capability re-expressed for the offline lake: the generated string is
  * plain ANSI (no dialect functions), so any SQL engine with the tables
  * registered can run it.
  *
  * The sg* gates exploit that portability: they execute the string via
  * `spark.sql` over temp views AND hand the IDENTICAL string to the
  * driver's DuckDB oracle — the lowering is validated by two independent
  * SQL engines agreeing on it.
  *
  * Query shape (mirrors DataQueryFrame's nesting): one level per node of
  * the WHERE tree, the modifiers around the root.
  * {{{
  *   SELECT [DISTINCT] vars/aggs FROM (<root>) g_q [GROUP BY][HAVING][ORDER BY][LIMIT]
  *   leaf:      SELECT star cols AS bare vars FROM
  *                (per-star SELECT+rename+filter [UNION ALL ...]) g_star
  *                JOIN (...) g_other ON fk = id ... [WHERE cycle-edge conds]
  *   join:      SELECT * FROM (<l>) g_sqN JOIN (<r>) g_subN USING (shared)
  *              (ON the compatibility condition, COALESCE in the select
  *              list, when a shared var is maybe-bound; CROSS JOIN when none)
  *   OPTIONAL:  SELECT vars FROM (<l>) g_gb LEFT JOIN (<r>) g_g0 ON g_g0.v = g_gb.v ...
  *   MINUS / [NOT] EXISTS:
  *              SELECT vars FROM (<l>) g_gb
  *              WHERE [NOT] EXISTS (SELECT 1 FROM (<r>) g_g0 WHERE g_g0.v = g_gb.v ...)
  *   UNION:     SELECT all vars, NULL AS v for a missing one, FROM (<branch>) g_ub UNION ALL ...
  *   BIND:      SELECT g_bN.*, expr AS v FROM (<inner>) g_bN
  *   VALUES:    SELECT * FROM (VALUES (lit), ...) AS g_tN(v)
  *   FILTER:    SELECT * FROM (<inner>) g_rf WHERE conds
  * }}}
  *
  * SQL-expressible subset: parquet and csv sources (single or unioned
  * per star, reader options from the lake config),
  * comparison/LIKE/IN filters, VALUES, the inner join chain
  * [[StarSpec.joinPlan]] plans for both engines (cycle edges as WHERE
  * conditions), every node of the WHERE tree joined on the variables
  * [[StarSpec.shared]] picks (OPTIONAL, MINUS and FILTER [NOT] EXISTS
  * groups, UNION branches, nested groups, VALUES tables, SPARQL 1.1 §12
  * subqueries as recursively lowered derived tables), negated property sets (UNION ALL
  * over the non-excluded mapped predicates), BIND arithmetic and the
  * SPARQL 1.1 builtin family (CONCAT/STR/ABS/STRLEN/UCASE/LCASE/
  * CONTAINS/STRSTARTS/STRENDS/SUBSTR/REPLACE/CEIL/FLOOR/ROUND/COALESCE/
  * IF), GROUP BY/aggregates/HAVING, ORDER BY, DISTINCT, LIMIT/OFFSET,
  * ASK (non-correlated EXISTS probe), CONSTRUCT (CTE-shared body, UNION
  * of template instantiations), DESCRIBE (predicate expansion semi-
  * joined with the bound-id set), SELECT * (the root node's variables,
  * the order both engines emit), `p+`/`p*` closures (SQL:2016 recursive CTEs — Spark 4's
  * WITH RECURSIVE and DuckDB evaluate the identical string; DAG inputs,
  * see [[closureWrap]]), the FnO attribute transforms, and inline join
  * TRANSFORMs (FK/ID column rewrites with skp filters on the
  * transformed value). Not lowered (the Column engine remains the
  * full-coverage path, exactly as the reference keeps Spark beside
  * Presto): jdbc/rdf/connector stores, streaming, a plan with a Cross
  * step (a disconnected join graph or a star with no join edge beside
  * others: the Column engine cross-joins them), an empty VALUES, and
  * the GROUP_CONCAT/SAMPLE aggregates.
  */
object SqlGenExecutor {
  import StarSpec.{Attach, Cross, Cycle, Seed}

  /** A base table the generated SQL reads: view name, source path, store
    * type (parquet or csv) and the lake config's reader options. */
  final case class TableRef(name: String, path: String, storeType: String,
      options: Map[String, String])

  /** Generated SQL + the tables it reads. */
  final case class Lowered(sql: String, tables: Seq[TableRef])

  /** Words that cannot appear as a bare table identifier in the lowered
    * SQL's two target engines (Spark SQL ANSI mode + DuckDB). The ANSI
    * SQL:2016 reserved list intersected pragmatically — anything here
    * gets the t_ prefix. A miss is not silent: the generated statement
    * fails to parse at execute/oracle time, it never reads wrong data. */
  private[graft] val SqlReservedWords: Set[String] = Set(
    "all", "and", "any", "as", "asc", "between", "by", "case", "cast",
    "check", "collate", "column", "constraint", "create", "cross",
    "current", "default", "delete", "desc", "describe", "distinct",
    "drop", "else", "end", "except", "exists", "false", "fetch", "filter",
    "for", "foreign", "from", "full", "group", "grouping", "having", "in",
    "inner", "insert", "intersect", "interval", "into", "is", "join",
    "lateral", "left", "like", "limit", "natural", "not", "null", "offset",
    "on", "or", "order", "outer", "over", "partition", "primary",
    "qualify", "references", "right", "rows", "select", "semi", "set",
    "some", "table", "then", "to", "true", "union", "unique", "update",
    "user", "using", "values", "when", "where", "window", "with")

  /** Run the lowered SQL on Spark's own SQL engine over temp views
    * (loaded through the same [[SourceRegistry]] the Column engine
    * uses, so reader options cannot drift between engines, and a file
    * source is resolved once per session while its listing is unchanged
    * — the memo rule in [[SourceRegistry]]'s header). */
  def execute(spark: SparkSession, q: ParsedQuery,
      mappings: MappingsDoc, config: LakeConfig): DataFrame = {
    val l = lower(q, mappings, config)
    for (t <- l.tables)
      SourceRegistry.load(spark,
        SourceConfig(t.name, t.storeType, t.path, t.options))
        .createOrReplaceTempView(t.name)
    spark.sql(l.sql)
  }

  /** Finite plain numeric literals only: "Infinity"/"NaN"/"+5"/"1e3" all
    * parse via toDoubleOption but are not portable unquoted SQL tokens —
    * anything outside this pattern is emitted as a quoted string. */
  private val NumericLit = "^-?\\d+(\\.\\d+)?$".r

  def lower(q: ParsedQuery, mappings: MappingsDoc, config: LakeConfig): Lowered = {
    // ASK → a non-correlated EXISTS probe over the body (both target
    // engines short-circuit it): rewrite as SELECT of the first pattern's
    // subject var, LIMIT 1, and wrap — one boolean column `ask`, the
    // same shape the Column engine's ASK branch returns
    if (q.ask) {
      val probeVar = q.patterns.headOption.map(_.subject).getOrElse(
        sys.error("ASK without patterns is not SQL-lowered"))
      val inner = lower(q.copy(ask = false, selectAll = false,
        selectItems = Seq(SelectVar(probeVar)), limit = Some(1)),
        mappings, config)
      return Lowered(
        s"SELECT EXISTS (SELECT 1 FROM (${inner.sql}) g_ask) AS ask",
        inner.tables)
    }
    val tables = scala.collection.mutable.LinkedHashMap.empty[String, TableRef]

    /** Register a mapping's source as a named base view. parquet, csv
      * and json lower (DuckDB reads all three; reader options ride along
      * so Spark's view matches the Column engine's scan); other stores
      * refuse. */
    def registerTable(mp: EntityMapping, ctx: String): String = {
      require(Set("parquet", "csv", "json").contains(mp.storeType),
        s"store type '${mp.storeType}' is not SQL-lowered ($ctx)")
      // strip any known extension and sanitize to a valid SQL identifier
      // (a csv/json basename would otherwise emit `FROM nation.csv`);
      // reserved words get the same t_ prefix as leading digits — a
      // source named order.parquet must not emit `FROM order`, which
      // both DuckDB and ANSI-mode Spark SQL reject unquoted (quoting
      // styles differ across the two target engines, so prefixing is
      // the portable spelling)
      val base = Seq(".parquet", ".csv", ".json")
        .foldLeft(mp.source.split('/').last)(_.stripSuffix(_))
      val cleaned = base.replaceAll("[^A-Za-z0-9_]", "_")
      val tbl =
        if (cleaned.headOption.exists(_.isDigit) ||
          SqlReservedWords(cleaned.toLowerCase)) s"t_$cleaned"
        else cleaned
      // two sources sharing a basename would silently collide in the view
      // map (last path wins → SQL reads the wrong data) — fail loud
      require(!tables.contains(tbl) || tables(tbl).path == mp.source,
        s"view name '$tbl' collides: ${tables(tbl).path} vs ${mp.source} ($ctx)")
      tables(tbl) = TableRef(tbl, mp.source, mp.storeType,
        config.optionsFor(mp.source))
      tbl
    }

    def idc(s: String) = StarCompiler.idCol(s)
    def vc(s: String, v: String) = StarCompiler.varCol(s, v)

    def litSql(v: String): String =
      if (NumericLit.matches(v)) v
      else "'" + v.replace("'", "''") + "'"

    /** FnO transform chain → ANSI expression (same semantics as
      * [[Transforms]], including the reference-bug fixes). */
    def fnSql(expr: String, fns: Seq[TransformFn]): String =
      fns.filterNot(_.name == "skp").foldLeft(expr) { (e, fn) =>
        fn.name match {
          case "toInt" => s"TRY_CAST($e AS INTEGER)"
          case "scl" =>
            val a = fn.args.head.stripPrefix("_").trim
            a.head match {
              case '+' => s"($e + ${a.tail.trim})"
              case '-' => s"($e - ${a.tail.trim})"
              case '*' => s"($e * ${a.tail.trim})"
              case d if d.isDigit => s"($e + $a)"
              case other => sys.error(s"scl: unsupported operator '$other'")
            }
          case "substit" =>
            val Seq(from, to) = fn.args.take(2)
            s"CASE WHEN $e = ${litSql(from)} THEN ${litSql(to)} ELSE $e END"
          case "replc" =>
            val Seq(from, to) = fn.args.take(2)
            s"REPLACE($e, ${litSql(from)}, ${litSql(to)})"
          case "prefix" => s"(${litSql(fn.args.head)} || $e)"
          case "postfix" => s"($e || ${litSql(fn.args.head)})"
          case other => sys.error(s"transform '$other' is not SQL-lowered")
        }
      }
    def tx(cs: StarSpec.ColSpec): String = fnSql(cs.attr, cs.fns)

    // ---- CONSTRUCT: instantiate each template triple over the solution
    // body (recursively lowered with its modifiers intact, shared via a
    // CTE so neither engine rescans per branch); UNION deduplicates —
    // a graph is a triple SET. Mirrors GraftEngine's construct branch.
    if (q.construct.nonEmpty) {
      val vars = (q.construct.map(_.subject) ++
        q.construct.collect { case TriplePattern(_, _, ObjVar(v)) => v }).distinct
      val inner = lower(q.copy(construct = Nil, selectAll = false,
        selectItems = vars.map(SelectVar(_))), mappings, config)
      inner.tables.foreach(t => tables(t.name) = t)
      val branches = q.construct.map { t =>
        val o = t.obj match {
          case ObjVar(v) => s"CAST($v AS STRING)"
          case ObjIri(iri) => litSql(iri)
          case ObjLit(l) => litSql(l)
        }
        s"SELECT CAST(${t.subject} AS STRING) AS s, " +
          s"${litSql(t.predicate)} AS p, $o AS o FROM g_cons"
      }
      // dedup must be UNCONDITIONAL: with a single template there is no
      // UNION to dedup through, yet a graph is a triple SET and the
      // Column engine always applies .distinct() — wrap the branches in
      // an explicit SELECT DISTINCT so one- and n-template CONSTRUCTs
      // agree across engines
      return Lowered(
        s"WITH g_cons AS (${inner.sql}) SELECT DISTINCT * FROM " +
          s"(${branches.mkString(" UNION ALL ")}) g_consu",
        tables.values.toSeq)
    }

    // ---- DESCRIBE ?v: every mapped predicate (plus rdf:type) of the
    // star's relevant sources, semi-joined (IN subquery) with the
    // described-id set the body binds — the SQL image of GraftEngine's
    // describe branch.
    for (v <- q.describe) {
      val scans = StarSpec.describeScans(q, v, mappings)
      val inner = lower(q.copy(describe = None, selectAll = false,
        selectItems = Seq(SelectVar(v))), mappings, config)
      inner.tables.foreach(t => tables(t.name) = t)
      val branches = scans.map { sc =>
        val tbl = registerTable(sc.mapping, s"DESCRIBE ?$v")
        val o = sc.value.fold(litSql(sc.mapping.classIri.get))(c =>
          s"CAST(${tx(c)} AS STRING)")
        val where = sc.value.fold("")(c => s" WHERE ${tx(c)} IS NOT NULL")
        s"SELECT ${tx(sc.id)} AS ${sc.id.outCol}, ${litSql(sc.predicate)} AS p, " +
          s"$o AS o FROM $tbl$where"
      }
      return Lowered(
        s"WITH g_ids AS (SELECT DISTINCT $v AS sid FROM (${inner.sql}) g_d) " +
          s"SELECT DISTINCT CAST(sid AS STRING) AS s, p, o FROM " +
          s"(${branches.mkString(" UNION ALL ")}) g_db " +
          s"WHERE sid IN (SELECT sid FROM g_ids)",
        tables.values.toSeq)
    }

    def condSql(col: String, f: FilterCond): String = f.op match {
      case "=" => s"$col = ${litSql(f.value)}"
      case "!=" => s"$col <> ${litSql(f.value)}"
      case "<" | "<=" | ">" | ">=" => s"$col ${f.op} ${litSql(f.value)}"
      case "regex" => s"$col LIKE ${litSql(f.value)}"
      case "in" => s"$col IN (${f.values.map(litSql).mkString(", ")})"
      case "not in" => s"$col NOT IN (${f.values.map(litSql).mkString(", ")})"
      case other => sys.error(s"unsupported filter operator '$other'")
    }

    val plan = StarSpec.plan(q)

    /** One planned leaf (stars → join chain → bare-var resolution) → its
      * SELECT: the SQL rendering of a [[StarSpec.Body]]. */
    def resolvedSql(body: StarSpec.Body): String = {
    val qb = body.bgp

    /** One star → aliased subquery: per-source SELECT+rename (+UNION ALL),
      * wrapped with this star's filters/VALUES on the renamed columns —
      * the SQL rendering of the SAME [[StarSpec]] description
      * StarCompiler renders as Columns. */
    def starSubquery(spec: StarSpec.Spec): String = {
      val s = spec.star
      val selects = spec.sources.map { src =>
        val m = src.mapping
        val tbl = registerTable(m, s"star ?$s")
        val cols = src.cols.map(cs => s"${tx(cs)} AS ${cs.outCol}")
        // skp(v) row filters on the transformed expression (the engine
        // filters the selected column — same value)
        val skps = src.skips.map { case (t, v) => s"${tx(t)} <> ${litSql(v)}" }
        val conds = src.required.map(c => s"${tx(c)} IS NOT NULL") ++ skps
        val where = if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
        s"SELECT ${cols.mkString(", ")} FROM $tbl$where"
      }
      val unioned = selects.mkString(" UNION ALL ")
      // this star's filters (VALUES among them), then its non-null
      // projected columns, on the renamed columns (both engines push
      // these through the wrapper into the scan)
      val conds = spec.filters.map { case (c, f) => condSql(c, f) } ++
        spec.notNull.map(c => s"$c IS NOT NULL")
      s"(SELECT * FROM ($unioned) g_${s}_src WHERE ${conds.mkString(" AND ")})"
    }

    /** Negated property set `?s !(p…) ?v` → UNION ALL over the values of
      * every non-excluded mapped predicate of the star's relevant
      * sources, string-cast (the SQL image of the Column engine's
      * expansion, GraftEngine.compileBody withNegations). */
    def negationSubquery(ng: NegatedPath): String =
      StarSpec.negationScans(qb, ng, mappings).map { sc =>
        val tbl = registerTable(sc.mapping, s"negated set on ?${ng.subjVar}")
        val v = sc.value.get
        s"SELECT ${tx(sc.id)} AS ${sc.id.outCol}, " +
          s"CAST(${tx(v)} AS STRING) AS ${v.outCol} FROM $tbl WHERE ${tx(v)} IS NOT NULL"
      }.mkString(" UNION ALL ")

    /** `p+`/`p*` star: replace the one-hop binding column with the
      * transitive closure, computed as a SQL:2016 recursive CTE over the
      * UNCONSTRAINED edge scan of the path predicate (SPARQL 1.1 §9.1
      * constrains a path's endpoints, never its hops — the star's own
      * filters stay inside `base` and restrict only the start set).
      * Spark 4 and DuckDB both evaluate the identical string. Spark
      * allows only UNION ALL in the recursive step, so cycle termination
      * relies on the graph being a DAG (duplicate PAIRS from diamonds
      * are removed by the DISTINCT over the CTE before the join); on a
      * cyclic graph Spark fail-louds at its recursion level limit. The
      * Column engine ([[graft.ops.Closure]]: anti-join frontier, cycle-
      * safe, seeded-BFS optimized) remains the robust path — this is the
      * portable SQL rendering of the same semantics. */
    def closureWrap(base: String, s: String, cl: PathClosure, i: Int,
        priorCols: Seq[String]): String = {
      val sCol = idc(s)
      val oCol = vc(s, cl.objVar)
      val baseCols = priorCols.filterNot(_ == oCol)
      val hops = StarSpec.pathHops(qb, cl, mappings).map(_.map { sc =>
        val tbl = registerTable(sc.mapping, s"path closure on ?$s")
        s"SELECT ${tx(sc.id)} AS src, ${tx(sc.value.get)} AS dst FROM $tbl"
      })
      val tag = s"${s}_$i"
      // composite group (p1/p2/…): the edge CTE is the hop join chain —
      // h0 ⋈ h1 ⋈ … on dst = src
      val edgeSelect =
        if (hops.size == 1)
          s"SELECT src, dst FROM (${hops.head.mkString(" UNION ALL ")}) g_eb_$tag"
        else {
          val froms = hops.zipWithIndex.map { case (bs, j) =>
            s"(${bs.mkString(" UNION ALL ")}) h${j}_$tag"
          }
          val joins = (1 until hops.size).map(j =>
            s" JOIN ${froms(j)} ON h${j - 1}_$tag.dst = h${j}_$tag.src").mkString
          s"SELECT h0_$tag.src AS src, h${hops.size - 1}_$tag.dst AS dst " +
            s"FROM ${froms.head}$joins"
        }
      val qualBase = baseCols.map(c => s"g_cb_$tag.$c").mkString(", ")
      // `*`: zero hops — (x, x) for every subject of the star
      val zeroHop =
        if (cl.reflexive) s" UNION SELECT $sCol AS src, $sCol AS dst FROM g_cb_$tag"
        else ""
      val conds = body.deferredFilters.filter(_.varName == cl.objVar)
        .map(f => condSql("p.dst", f))
      val where = if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
      // `p?` (ZeroOrOne) needs no recursion: pairs = one-hop edges (+ the
      // zero-hop branch). `p+`/`p*` walk the recursive CTE.
      val clCte =
        if (!cl.transitive) ""
        else s", g_cl_$tag AS (SELECT src, dst FROM g_ed_$tag UNION ALL " +
          s"SELECT c.src, e.dst FROM g_cl_$tag c JOIN g_ed_$tag e ON c.dst = e.src)"
      val pairSrc = if (cl.transitive) s"g_cl_$tag" else s"g_ed_$tag"
      s"(WITH RECURSIVE g_cb_$tag AS " +
        s"(SELECT DISTINCT ${baseCols.mkString(", ")} FROM $base g_cbs_$tag), " +
        s"g_ed_$tag AS (SELECT src, dst FROM ($edgeSelect) g_ee_$tag " +
        "WHERE src IS NOT NULL AND dst IS NOT NULL)" +
        clCte +
        s" SELECT $qualBase, p.dst AS $oCol FROM g_cb_$tag " +
        s"JOIN (SELECT DISTINCT src, dst FROM $pairSrc$zeroHop) p " +
        s"ON g_cb_$tag.$sCol = p.src$where)"
    }

    /** Star subquery with any negated-set expansions joined on the star's
      * id column (USING coalesces the key — same inner equi-join as the
      * engine's `.join(expansion, Seq(sCol))`) and any `p+`/`p*` closures
      * wrapped as recursive CTEs. */
    def starSql(s: String): String = {
      val spec = StarSpec.build(qb, s, mappings, body.needed)
      var cols = spec.sources.head.cols.map(_.outCol)
      var sql = starSubquery(spec)
      // inline TRANSFORM(?l?r.side.fns): rewrite this star's FK column
      // (side 'l') or ID column (side 'r') through the FnO chain, skp
      // values filtered on the TRANSFORMED value in an outer wrapper
      // (SQL cannot reference a select alias in its own WHERE) — the
      // image of StarCompiler.applyInlineTransforms
      for ((t, i) <- q.transforms.zipWithIndex
          if (t.side == 'l' && t.leftVar == s) || (t.side == 'r' && t.rightVar == s)) {
        val target = if (t.side == 'l') vc(s, t.rightVar) else idc(s)
        require(cols.contains(target),
          s"inline TRANSFORM target $target is not projected by star ?$s")
        val sel = cols.map(c =>
          if (c == target) s"${fnSql(c, t.fns)} AS $c" else c).mkString(", ")
        sql = s"(SELECT $sel FROM $sql g_tx_$s$i)"
        val skips = Transforms.skipValues(t.fns)
        if (skips.nonEmpty)
          sql = s"(SELECT * FROM $sql g_txs_$s$i WHERE " +
            skips.map(v => s"$target <> ${litSql(v)}").mkString(" AND ") + ")"
      }
      for ((ng, i) <- qb.negations.filter(_.subjVar == s).zipWithIndex) {
        sql = s"(SELECT * FROM $sql g_nb_$s$i JOIN (${negationSubquery(ng)}) " +
          s"g_nx_$s$i USING (${idc(s)}))"
        cols = cols :+ vc(s, ng.objVar)
      }
      for ((cl, i) <- qb.closures.filter(_.subjVar == s).zipWithIndex) {
        sql = closureWrap(sql, s, cl, i, cols)
        cols = cols.filterNot(_ == vc(s, cl.objVar)) :+ vc(s, cl.objVar)
      }
      sql
    }

    // ---- join chain: StarSpec.joinPlan's steps
    require(!body.steps.exists(_.isInstanceOf[Cross]),
      "disconnected join graph is not SQL-lowered")
    val fromSql = body.steps.collect {
      case Seed(s) => s"${starSql(s)} g_$s"
      case Attach(s, e) => s" JOIN ${starSql(s)} g_$s ON ${e.leftCol} = ${e.rightCol}"
    }.mkString
    val cycleConds = body.steps.collect { case Cycle(e) => s"${e.leftCol} = ${e.rightCol}" }

    // ---- bare-variable resolution (the shared rule)
    val resolution = body.resolution
    require(resolution.nonEmpty, "query resolves no variables")
    val innerWhere =
      if (cycleConds.isEmpty) "" else cycleConds.mkString(" WHERE ", " AND ", "")
    s"SELECT ${resolution.map { case (v, c) => s"$c AS $v" }.mkString(", ")}" +
      s" FROM $fromSql$innerWhere"
    }

    // ---- the WHERE tree, folded once (the image of GraftEngine's fold).
    // A join USING the shared vars when both sides certainly bind each
    // (both target engines coalesce USING keys), else ON the
    // compatibility condition with the shared vars coalesced; OPTIONAL a
    // LEFT JOIN, MINUS / EXISTS correlated [NOT] EXISTS conditions;
    // UNION the positional NULL-padded UNION ALL of the branches (SQL
    // UNION is positional, so every branch projects the union of all
    // branches' variables in one sorted order, NULL where a branch
    // leaves a var unbound); BIND one wrapper per output; residual
    // FILTERs a WHERE over the node.
    var aliases = 0
    def fresh(): Int = { aliases += 1; aliases - 1 }
    def patternSql(p: Pattern): String = p match {
      case b: Bgp => resolvedSql(plan.body(b))
      case u: Union =>
        val parts = StarSpec.branches(u).map(b => (patternSql(b), plan.columns(b)))
        val allVars = plan.columns(u)
        parts.map { case (sql, vars) =>
          val have = vars.toSet
          val sel = allVars.map(v => if (have(v)) v else s"NULL AS $v")
          s"SELECT ${sel.mkString(", ")} FROM ($sql) g_ub"
        }.mkString(" UNION ALL ")
      case Join(l, r) =>
        val (i, on) = (fresh(), StarSpec.shared(l, r))
        if (on.exists(!_.certain)) joinSql(p, l, r, "JOIN", s"g_sq$i", s"g_sub$i")
        else s"SELECT * FROM (${patternSql(l)}) g_sq$i " +
          (if (on.isEmpty) s"CROSS JOIN (${patternSql(r)}) g_sub$i"
           else s"JOIN (${patternSql(r)}) g_sub$i USING (${on.map(_.v).mkString(", ")})")
      case LeftJoin(l, r) => joinSql(p, l, r, "LEFT JOIN", "g_gb", "g_g0")
      case Minus(l, r) => existsSql(l, Seq(Exists(r, negated = true)))
      case Filter(es, i) =>
        val exists = es.collect { case e: Exists => e }
        val conds = es.collect { case f: FilterCond => condSql(f.varName, f) }
        val base = if (exists.isEmpty) patternSql(i) else existsSql(i, exists)
        if (conds.isEmpty) base
        else s"SELECT * FROM ($base) g_rf WHERE ${conds.mkString(" AND ")}"
      case Extend(i, b) =>
        val inner = patternSql(i)
        val n = fresh()
        s"SELECT g_b$n.*, ${bindSql(b.expr)} AS ${b.outVar} FROM ($inner) g_b$n"
      case Table(v, vals) =>
        require(vals.nonEmpty, "an empty VALUES is not SQL-lowered")
        s"SELECT * FROM (VALUES ${vals.map(x => s"(${litSql(x)})").mkString(", ")}) AS g_t${fresh()}($v)"
      case SubSelect(sub) =>
        val subL = lower(sub.copy(transforms = Nil), mappings, config)
        subL.tables.foreach(t => tables(t.name) = t)
        subL.sql
    }

    /** `p`, a join of `l` (alias `a`) and `r` (alias `b`) ON their shared
      * vars: each output var from the side binding it, a maybe-bound shared
      * one coalesced under the compatibility condition ([[StarSpec.Shared]]). */
    def joinSql(p: Pattern, l: Pattern, r: Pattern, kind: String, a: String, b: String): String = {
      val (on, left) = (StarSpec.shared(l, r), plan.columns(l).toSet)
      val sel = plan.columns(p).map(v => on.find(_.v == v) match {
        case Some(s) if !s.certain => s"COALESCE($a.$v, $b.$v) AS $v"
        case _ => s"${if (left(v)) a else b}.$v"
      })
      val conds = on.map(s => if (s.certain) s"$b.${s.v} = $a.${s.v}"
        else s"($a.${s.v} = $b.${s.v} OR $a.${s.v} IS NULL OR $b.${s.v} IS NULL)")
      s"SELECT ${sel.mkString(", ")} FROM (${patternSql(l)}) $a $kind (${patternSql(r)}) $b " +
        s"ON ${conds.mkString(" AND ")}"
    }

    /** MINUS and FILTER [NOT] EXISTS: correlated [NOT] EXISTS conditions
      * on the shared vars, which `l` certainly binds ([[StarSpec.plan]]). */
    def existsSql(l: Pattern, groups: Seq[Exists]): String = {
      val left = patternSql(l)
      val conds = groups.zipWithIndex.map { case (Exists(g, negated), i) =>
        val on = StarSpec.shared(l, g).map(s => s"g_g$i.${s.v} = g_gb.${s.v}").mkString(" AND ")
        s"${if (negated) "NOT " else ""}EXISTS (SELECT 1 FROM (${patternSql(g)}) g_g$i WHERE $on)"
      }
      s"SELECT ${plan.columns(l).map("g_gb." + _).mkString(", ")} FROM ($left) g_gb " +
        s"WHERE ${conds.mkString(" AND ")}"
    }

    // ---- BIND computed variables (image of GraftEngine.bindColumn,
    // arithmetic and the SPARQL 1.1 builtins). One wrapper per BIND so
    // later binds can reference earlier outputs; `/` is double division
    // and CONCAT casts every operand to string in BOTH target engines,
    // matching the Column semantics. ----
    def bindSql(e: BindExpr): String = e match {
      case BVar(v) => v
      case BNum(n) => n
      case BStr(s) => "'" + s.replace("'", "''") + "'"
      case BOp(op @ ("+" | "-" | "*" | "/"), l, r) =>
        s"(${bindSql(l)} $op ${bindSql(r)})"
      case BOp(op, _, _) => sys.error(s"BIND operator '$op' is not SQL-lowered")
      case BFun("concat", args) if args.nonEmpty =>
        args.map(a => s"CAST(${bindSql(a)} AS STRING)").mkString("(", " || ", ")")
      case BFun("str", Seq(a)) => s"CAST(${bindSql(a)} AS STRING)"
      case BFun("abs", Seq(a)) => s"ABS(${bindSql(a)})"
      // SPARQL 1.1 builtins (17.4.2/17.4.3), each in a form BOTH target
      // engines give identical semantics: INSTR>0 for CONTAINS,
      // LEFT/RIGHT prefix/suffix equality for STRSTARTS/STRENDS (LIKE
      // would need pattern escaping), CASE for IF. SUBSTR/STRLEN are
      // 1-based character ops in SPARQL and in both SQL dialects.
      case BFun("strlen", Seq(a)) => s"LENGTH(${bindSql(a)})"
      case BFun("ucase", Seq(a)) => s"UPPER(${bindSql(a)})"
      case BFun("lcase", Seq(a)) => s"LOWER(${bindSql(a)})"
      case BFun("contains", Seq(a, b)) =>
        s"(INSTR(${bindSql(a)}, ${bindSql(b)}) > 0)"
      case BFun("strstarts", Seq(a, b)) =>
        s"(LEFT(${bindSql(a)}, LENGTH(${bindSql(b)})) = ${bindSql(b)})"
      case BFun("strends", Seq(a, b)) =>
        s"(RIGHT(${bindSql(a)}, LENGTH(${bindSql(b)})) = ${bindSql(b)})"
      case BFun("substr", Seq(a, p)) =>
        s"SUBSTRING(${bindSql(a)}, ${bindSql(p)})"
      case BFun("substr", Seq(a, p, l)) =>
        s"SUBSTRING(${bindSql(a)}, ${bindSql(p)}, ${bindSql(l)})"
      case BFun("replace", Seq(a, f0, t)) =>
        s"REPLACE(${bindSql(a)}, ${bindSql(f0)}, ${bindSql(t)})"
      case BFun("ceil", Seq(a)) => s"CEIL(${bindSql(a)})"
      case BFun("floor", Seq(a)) => s"FLOOR(${bindSql(a)})"
      case BFun("round", Seq(a)) => s"ROUND(${bindSql(a)})"
      case BFun("coalesce", args) if args.nonEmpty =>
        args.map(bindSql).mkString("COALESCE(", ", ", ")")
      case BFun("if", Seq(c0, t, f0)) =>
        s"CASE WHEN ${bindSql(c0)} THEN ${bindSql(t)} ELSE ${bindSql(f0)} END"
      case BFun(f, _) => sys.error(s"BIND function '$f' is not SQL-lowered")
    }
    val bodySql = patternSql(plan.where)

    // ---- modifiers ----------------------------------------------------
    def aggExpr(a: AggSpec): String = {
      val in = if (a.varName == "*") "*" else a.varName
      val d = if (a.distinct) "DISTINCT " else ""
      a.fn.toUpperCase match {
        case f @ ("SUM" | "MIN" | "MAX" | "AVG" | "COUNT") => s"$f($d$in)"
        case other => sys.error(s"unsupported aggregate '$other'")
      }
    }
    // SELECT *: the root node's variables, the order both engines emit
    val items =
      if (q.selectAll) {
        require(q.aggregates.isEmpty, "SELECT * with aggregates is not SQL-lowered — name the variables")
        plan.columns(plan.where)
      } else q.selectItems.map {
        case SelectVar(v) => v
        case SelectAgg(a) => s"${aggExpr(a)} AS ${a.alias}"
      }
    val distinct = if (q.distinct) "DISTINCT " else ""
    val groupBy =
      if (q.groupBy.nonEmpty) s" GROUP BY ${q.groupBy.mkString(", ")}"
      else if (q.aggregates.nonEmpty && q.selectItems.exists(_.isInstanceOf[SelectVar]))
        sys.error("aggregates beside bare vars require GROUP BY")
      else ""
    val having =
      if (q.having.isEmpty) ""
      else q.having.map { case (agg, op, value) =>
        condSql(aggExpr(agg), FilterCond("", op, value))
      }.mkString(" HAVING ", " AND ", "")
    val orderBy =
      if (q.orderBy.isEmpty) ""
      else s" ORDER BY ${q.orderBy.map(k =>
        s"${k.varName}${if (k.ascending) "" else " DESC"}").mkString(", ")}"
    val limit = q.limit.fold("")(n => s" LIMIT $n")
    // LIMIT before OFFSET is the order both Spark SQL and DuckDB accept;
    // semantically OFFSET skips first, LIMIT then caps — identical to the
    // engine's df.offset(n).limit(k)
    val offset = q.offset.fold("")(n => s" OFFSET $n")

    val sql = s"SELECT $distinct${items.mkString(", ")} FROM ($bodySql) g_q" +
      groupBy + having + orderBy + limit + offset
    Lowered(sql, tables.values.toSeq)
  }
}
