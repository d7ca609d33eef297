package graft.engine

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles one star-shaped BGP into a DataFrame.
  *
  * Column contract (internal): subject/ID column `{star}__id`, one column
  * `{star}__{objVar}` per needed predicate. This replaces the reference's
  * `{star}_{predicate}_{prefix}` string-built SQL projection
  * (Helpers.scala:97-112 + SparkExecutor.scala:108-111) with direct
  * `df.select(col as alias)` — no temp views, no SQL strings, and Catalyst
  * sees a fully declarative plan (scan → project → filter) so column
  * pruning and predicate pushdown reach the parquet reader.
  */
object StarCompiler {

  def idCol(star: String): String = s"${star}__id"
  def varCol(star: String, v: String): String = s"${star}__$v"

  /** Build the DataFrame for `star` from its engine-neutral description
    * ([[StarSpec.build]] — shared with [[SqlGenExecutor]]).
    *
    * @param needed object vars worth materializing (semantic column
    *               pruning, reference Planner.scala:24-60); the query's
    *               filters on this star's vars are applied here, before
    *               any join (reference SparkExecutor.scala:146-185)
    */
  def compile(
      spark: SparkSession,
      bgp: Bgp,
      star: String,
      mappings: MappingsDoc,
      config: LakeConfig,
      needed: Set[String]): DataFrame = {

    val spec = StarSpec.build(bgp, star, mappings, needed)
    // one DF per relevant source, then union (reference
    // SparkExecutor.scala:113-117 — but by name, not position; SURVEY §7.4.4)
    val perSource = spec.sources.map(src => compileOne(spark, src, config))
    val unioned = perSource.reduce(_.unionByName(_))
    applyStarFilters(unioned, spec).filter(spec.notNull.map(col(_).isNotNull).reduce(_ && _))
  }

  /** A column spec's source attribute through its FnO transform chain. */
  private[engine] def render(cs: StarSpec.ColSpec): Column =
    if (cs.fns.isEmpty) col(cs.attr) else Transforms(col(cs.attr), cs.fns)

  /** Load a mapping's raw source (config options merged in) — shared by
    * the star compiler and the source expansions ([[StarSpec.Scan]]).
    * A file source is resolved once per session while its listing is
    * unchanged (the memo rule in [[SourceRegistry]]'s header). */
  def loadSource(spark: SparkSession, m: EntityMapping, config: LakeConfig): DataFrame = {
    val sourceCfg = config.sources.find(_.source == m.source)
      .getOrElse(SourceConfig(m.name, m.storeType, m.source, Map.empty))
    SourceRegistry.load(spark, sourceCfg.copy(storeType = m.storeType))
  }

  private def compileOne(
      spark: SparkSession,
      src: StarSpec.SourceSpec,
      config: LakeConfig): DataFrame = {
    val raw = loadSource(spark, src.mapping, config)
    var df = src.required.map(render(_).isNotNull).reduceOption(_ && _).fold(raw)(c => raw.filter(c))
      .select(src.cols.map(cs => render(cs).as(cs.outCol)): _*)
    // FnO skp(v) = row filter on the transformed target column
    for ((target, v) <- src.skips) df = df.filter(col(target.outCol) =!= lit(v))
    df
  }

  /** Apply inline TRANSFORM(...) join-side rewrites belonging to this star:
    * side 'l' rewrites this star's FK column toward rightVar; side 'r'
    * rewrites this star's ID column (reference Run.scala:159-180 +
    * SparkExecutor.scala:127-141). */
  def applyInlineTransforms(df: DataFrame, star: String,
      transforms: Seq[JoinTransform]): DataFrame =
    transforms.foldLeft(df) { (d, t) =>
      if (t.side == 'l' && t.leftVar == star) {
        val c = varCol(star, t.rightVar)
        val skips = Transforms.skipValues(t.fns)
        val d2 = d.withColumn(c, Transforms(col(c), t.fns))
        skips.foldLeft(d2)((dd, v) => dd.filter(col(c) =!= lit(v)))
      } else if (t.side == 'r' && t.rightVar == star) {
        val c = idCol(star)
        val skips = Transforms.skipValues(t.fns)
        val d2 = d.withColumn(c, Transforms(col(c), t.fns))
        skips.foldLeft(d2)((dd, v) => dd.filter(col(c) =!= lit(v)))
      } else d
    }

  private def applyStarFilters(df: DataFrame, spec: StarSpec.Spec): DataFrame =
    spec.filters.foldLeft(df) { case (d, (c, f)) => d.filter(condition(d, c, f)) }

  /** `f` on column `c` of `df`. An `in` list — a FILTER's, or a VALUES
    * table's moved into the star — types its literals from the bound
    * column's schema, not from the list: a mixed numeric/string list
    * against a long column keeps its numeric members and drops the
    * unparseable ones (which could never match a numeric binding)
    * instead of comparing post-cast strings all-or-nothing. */
  private[engine] def condition(df: DataFrame, c: String, f: FilterCond): Column =
    if (f.op != "in") predicate(col(c), f)
    else {
      val typed = df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => f.values.flatMap(_.toLongOption)
        case FloatType | DoubleType | _: DecimalType => f.values.flatMap(_.toDoubleOption)
        case _ => f.values
      }
      if (typed.isEmpty) lit(false) else col(c).isin(typed: _*)
    }

  /** A literal typed by its own form: numeric if it parses, else string. */
  private[engine] def typed(s: String): Any =
    s.toLongOption.getOrElse(s.toDoubleOption.getOrElse(s))

  /** Literal typing: numeric if it parses, else string. The reference passes
    * raw SQL strings (SparkExecutor.scala:160-175); typed lits let Catalyst
    * push comparisons into the scan. */
  private[engine] def predicate(c: Column, f: FilterCond): Column = {
    val v: Any = typed(f.value)
    f.op match {
      case "=" => c === lit(v)
      case "!=" => c =!= lit(v)
      case "<" => c < lit(v)
      case "<=" => c <= lit(v)
      case ">" => c > lit(v)
      case ">=" => c >= lit(v)
      // SQL LIKE wildcards, matching the reference (SparkExecutor.scala:180-182)
      case "regex" => c.like(f.value)
      // IN-lists type each member like a single literal; Catalyst folds
      // the isin into an In predicate that pushes to the scan
      case "in" => c.isin(f.values.map(typed): _*)
      case "not in" => !c.isin(f.values.map(typed): _*)
      case other => sys.error(s"unsupported filter operator '$other'")
    }
  }
}
