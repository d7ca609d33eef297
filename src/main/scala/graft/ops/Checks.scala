package graft.ops

import graft.engine.SourceRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraints (Deequ-style) for pipeline
  * admission control: before a 100 TB corpus drop is admitted into a
  * training mix, assert schema-level invariants (completeness, key
  * uniqueness, value domains, ranges, volume) and get back ONE report
  * row per constraint.
  *
  * Scale design: every metric that can be computed as a conditional
  * aggregate is folded into a SINGLE global aggregation over ONE scan —
  * a full constraint suite costs exactly one pass over the data plus a
  * 1-row final reduce, regardless of how many constraints are declared.
  * The only exception is `Unique`, which genuinely needs a distinct
  * count; it is computed exactly via `count_distinct` in the same agg
  * (Spark plans the mixed distinct/non-distinct agg with a single
  * expand — still one scan). The report itself is a handful of rows, so
  * the final stage is trivially driver-safe.
  *
  * Net-new vs the reference (no validation surface there; closest is
  * the config sanity-checking in `Main.scala:18-28`).
  */
object Checks {

  /** One declared invariant. `name` keys the report row. */
  sealed trait Constraint
  /** Column must have no NULLs. Metric = completeness fraction. */
  final case class NotNull(colName: String) extends Constraint
  /** Column values must be unique (NULLs ignored, like SQL UNIQUE).
    * Metric = distinct/non-null; violations = surplus copies. */
  final case class Unique(colName: String) extends Constraint
  /** Non-null values must lie in [lo, hi]. */
  final case class InRange(colName: String, lo: Double, hi: Double) extends Constraint
  /** Non-null values must be one of `values`. */
  final case class InSet(colName: String, values: Seq[String]) extends Constraint
  /** Non-null values must match `regex` (Java/RE2-common subset — keep
    * patterns to the portable intersection if an external engine must
    * re-audit the report). */
  final case class MatchesRegex(colName: String, regex: String) extends Constraint
  /** Table must have at least `n` rows. */
  final case class MinRows(n: Long) extends Constraint

  private def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** Evaluate all `constraints` in one pass. Returns one row per
    * constraint: (check, target, metric, violations, passed) where
    * `metric` is the satisfied fraction (or the row count for MinRows),
    * floor-rounded to 4 dp so the report is bit-stable cross-engine. */
  def report(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    require(constraints.nonEmpty, "no constraints declared")
    val n = count(lit(1)).as("__n")
    // one aggregate expression list over a single scan
    val aggs: Seq[Column] = n +: constraints.zipWithIndex.flatMap {
      case (NotNull(c), i) => Seq(count(col(c)).as(s"__m$i"))
      case (Unique(c), i) =>
        Seq(count(col(c)).as(s"__nn$i"), count_distinct(col(c)).as(s"__m$i"))
      case (InRange(c, lo, hi), i) =>
        Seq(sum(when(col(c).isNotNull &&
          (col(c) < lo || col(c) > hi), 1L).otherwise(0L)).as(s"__m$i"))
      case (InSet(c, vs), i) =>
        Seq(sum(when(col(c).isNotNull && !col(c).isin(vs: _*), 1L)
          .otherwise(0L)).as(s"__m$i"))
      case (MatchesRegex(c, re), i) =>
        Seq(sum(when(col(c).isNotNull && !col(c).rlike(re), 1L)
          .otherwise(0L)).as(s"__m$i"))
      case (MinRows(_), _) => Seq.empty
    }
    val m = df.agg(aggs.head, aggs.tail: _*)
    val total = col("__n")
    // reshape the 1-row metric vector into report rows (stack keeps the
    // single subtree — no per-constraint re-scan)
    val rows: Seq[Column] = constraints.zipWithIndex.map {
      case (NotNull(c), i) =>
        struct(lit("not_null").as("check"), lit(c).as("target"),
          r4(col(s"__m$i") / total).as("metric"),
          (total - col(s"__m$i")).as("violations"),
          (col(s"__m$i") === total).as("passed"))
      case (Unique(c), i) =>
        struct(lit("unique").as("check"), lit(c).as("target"),
          r4(col(s"__m$i") / col(s"__nn$i")).as("metric"),
          (col(s"__nn$i") - col(s"__m$i")).as("violations"),
          (col(s"__m$i") === col(s"__nn$i")).as("passed"))
      case (InRange(c, lo, hi), i) =>
        struct(lit("in_range").as("check"),
          lit(s"$c:[$lo,$hi]").as("target"),
          r4((total - col(s"__m$i")) / total).as("metric"),
          col(s"__m$i").as("violations"), (col(s"__m$i") === 0).as("passed"))
      case (InSet(c, vs), i) =>
        struct(lit("in_set").as("check"),
          lit(s"$c:{${vs.mkString(",")}}").as("target"),
          r4((total - col(s"__m$i")) / total).as("metric"),
          col(s"__m$i").as("violations"), (col(s"__m$i") === 0).as("passed"))
      case (MatchesRegex(c, re), i) =>
        struct(lit("matches_regex").as("check"), lit(s"$c:$re").as("target"),
          r4((total - col(s"__m$i")) / total).as("metric"),
          col(s"__m$i").as("violations"), (col(s"__m$i") === 0).as("passed"))
      case (MinRows(k), _) =>
        struct(lit("min_rows").as("check"), lit(s">=$k").as("target"),
          total.cast("double").as("metric"),
          greatest(lit(0L), lit(k) - total).as("violations"),
          (total >= k).as("passed"))
    }
    m.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Row-level violation extraction: for each row failing any row-local
    * constraint (NotNull / InRange / InSet / MatchesRegex — Unique and
    * MinRows are table-level and skipped), emit (id, check, target).
    * ONE scan: a per-row array of failed checks, exploded. Use after
    * [[report]] flags a constraint to pull the offending rows for
    * quarantine — at scale this is a filter that pushes the common
    * all-checks-pass path through codegen without materializing
    * anything per clean row. */
  def violations(df: DataFrame, id: Column, constraints: Seq[Constraint]): DataFrame = {
    val checks: Seq[Column] = constraints.flatMap {
      case NotNull(c) =>
        Some(when(col(c).isNull,
          struct(lit("not_null").as("check"), lit(c).as("target"))))
      case InRange(c, lo, hi) =>
        Some(when(col(c).isNotNull && (col(c) < lo || col(c) > hi),
          struct(lit("in_range").as("check"), lit(s"$c:[$lo,$hi]").as("target"))))
      case InSet(c, vs) =>
        Some(when(col(c).isNotNull && !col(c).isin(vs: _*),
          struct(lit("in_set").as("check"),
            lit(s"$c:{${vs.mkString(",")}}").as("target"))))
      case MatchesRegex(c, re) =>
        Some(when(col(c).isNotNull && !col(c).rlike(re),
          struct(lit("matches_regex").as("check"), lit(s"$c:$re").as("target"))))
      case _ => None
    }
    require(checks.nonEmpty, "no row-level constraints declared")
    df.select(id.as("row_id"),
        array_compact(array(checks: _*)).as("__fails"))
      .filter(size(col("__fails")) > 0)
      .select(col("row_id"), explode(col("__fails")).as("f"))
      .select(col("row_id"), col("f.check").as("check"), col("f.target").as("target"))
  }

  /** Schema drift report between two parquet snapshots: columns added,
    * removed, or type-changed in `dirB` relative to `dirA` — the
    * upstream-broke-the-contract detector every scheduled ingest runs
    * before processing a new drop (a silently retyped column poisons
    * 100 TB of downstream casts; catching it here costs only footer
    * reads).
    *
    * Pure metadata: both sides read parquet FOOTERS only (no data
    * pages), the diff runs driver-side on column-count-sized maps, and
    * the report is a handful of rows. Types compare by Catalyst
    * `simpleString` (nullability is NOT drift — parquet writers flip it
    * freely). Output: (col_name, change ∈ {added, removed,
    * type_changed}, type_from, type_to), unchanged columns omitted. */
  def schemaDrift(spark: org.apache.spark.sql.SparkSession,
      dirA: String, dirB: String): DataFrame = {
    import spark.implicits._
    val a = SourceRegistry.parquet(spark, dirA).schema
      .map(f => f.name -> f.dataType.simpleString).toMap
    val b = SourceRegistry.parquet(spark, dirB).schema
      .map(f => f.name -> f.dataType.simpleString).toMap
    val rows =
      (b.keySet -- a.keySet).toSeq.sorted
        .map(c => (c, "added", null: String, b(c))) ++
      (a.keySet -- b.keySet).toSeq.sorted
        .map(c => (c, "removed", a(c), null: String)) ++
      (a.keySet & b.keySet).toSeq.sorted.filter(c => a(c) != b(c))
        .map(c => (c, "type_changed", a(c), b(c)))
    rows.toDF("col_name", "change", "type_from", "type_to")
  }

  /** Cohen's kappa between two boolean raters — chance-corrected
    * inter-annotator agreement, the acceptance metric for every labeled
    * training set (two labeling runs, a labeler vs a classifier, two
    * heuristic quality filters): κ = (p_o − p_e)/(1 − p_e) with p_o the
    * observed agreement rate and p_e the rate two independent raters
    * with the same marginals would agree by chance. Raw agreement
    * overstates consensus whenever labels are imbalanced (two filters
    * that both pass ~everything "agree" constantly); κ is what data
    * sheets report.
    *
    * One scan + a 1-row reduce: the 2×2 confusion cells are four
    * conditional sums in a single aggregate. Cross-engine exactness:
    * the cells are exact integers; p_o and each marginal ratio is ONE
    * double division of exact integers, p_e the sum of two products of
    * those (never n², so no BIGINT overflow at any corpus size), and
    * both engines evaluate the identical IEEE expression tree before
    * one 6-dp floor. Degenerate marginals (p_e = 1: both raters
    * constant and equal) define κ = 0 — agreement is all chance. */
  def interRaterKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val cells = df.agg(
      count(lit(1)).as("n"),
      sum(when(raterA && raterB, 1L).otherwise(0L)).as("n_pp"),
      sum(when(raterA && !raterB, 1L).otherwise(0L)).as("n_pn"),
      sum(when(!raterA && raterB, 1L).otherwise(0L)).as("n_np"),
      sum(when(!raterA && !raterB, 1L).otherwise(0L)).as("n_nn"))
    val nD = col("n").cast("double")
    val po = (col("n_pp") + col("n_nn")).cast("double") / nD
    val pe = ((col("n_pp") + col("n_pn")).cast("double") / nD) *
      ((col("n_pp") + col("n_np")).cast("double") / nD) +
      ((col("n_np") + col("n_nn")).cast("double") / nD) *
      ((col("n_pn") + col("n_nn")).cast("double") / nD)
    def f6(c: Column) = floor(c * 1000000 + 0.5) / 1000000
    cells.select(col("n"), col("n_pp"), col("n_pn"), col("n_np"), col("n_nn"),
      f6(po).as("po6"), f6(pe).as("pe6"),
      when(pe === 1.0, lit(0.0))
        .otherwise(f6((po - pe) / (lit(1.0) - pe))).as("kappa6"))
  }

  /** Fleiss' kappa — chance-corrected agreement for MANY raters over a
    * categorical label, the multi-annotator complement of
    * [[interRaterKappa]]'s 2-rater form (the QA statistic a
    * preference/labeling pipeline runs before trusting a rater pool).
    * The classic formula needs exactly `n` ratings per item, so each
    * item keeps its first `n` ratings in `order` order (pass a UNIQUE
    * tiebreak — event/row id — or the kept subset is ill-defined) and
    * items with fewer than `n` drop.
    *
    * Exactness: P̄ collapses to the closed form (S − N·n)/(N·n·(n−1))
    * with S = Σ n_ij² an exact DECIMAL(38,0) sum — no per-item float —
    * and P̄e to Σc_j²/(N·n)² with Σc_j² equally an exact integer sum
    * (order-free by construction; categories are a categorical
    * dimension, the a11 cell discipline). κ is one identical IEEE
    * expression over those exact aggregates, 6-dp floored.
    * P̄e = 1 (all kept ratings one category) defines κ = 0.
    * Scale: one windowed rank per item, two map-side-combined aggs;
    * nothing driver-side. Output: (n_items, pbar6, pe6, kappa6). */
  def fleissKappa(df: DataFrame, item: Column, category: Column,
      order: Column, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(n >= 2, "fleissKappa needs n >= 2 ratings per item")
    val ranked = df
      .select(item.as("it"), category.cast("string").as("cat"), order.as("o"))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("it")).orderBy(col("o"))))
      .where(col("__rn") <= n)
    val full = ranked.groupBy(col("it")).agg(count(lit(1)).as("__c"))
      .where(col("__c") === n).select(col("it"))
    val cells = ranked.join(full, "it")
      .groupBy(col("it"), col("cat")).agg(count(lit(1)).as("nij"))
    val stats = cells.agg(
      sum((col("nij") * col("nij")).cast(DecimalType(38, 0))).as("S"),
      count_distinct(col("it")).as("N"))
    val peSum = cells.groupBy(col("cat")).agg(sum(col("nij")).as("cj"))
      .agg(sum((col("cj") * col("cj")).cast(DecimalType(38, 0))).as("sum_cj2"))
    val pbar = (col("S").cast("double") - (col("N") * n).cast("double")) /
      (col("N") * n * (n - 1)).cast("double")
    val pe = col("sum_cj2").cast("double") /
      ((col("N") * n).cast("double") * (col("N") * n).cast("double"))
    def f6(c: Column) = floor(c * 1000000 + 0.5) / 1000000
    stats.crossJoin(peSum)
      .select(col("N").as("n_items"), f6(pbar).as("pbar6"), f6(pe).as("pe6"),
        when(pe === 1.0, lit(0.0))
          .otherwise(f6((pbar - pe) / (lit(1.0) - pe))).as("kappa6"))
  }

  /** Referential-integrity orphans: child rows whose foreign key has no
    * match in the parent's key set — the dq-suite check the per-column
    * constraints can't express (it needs a second table). NULL foreign
    * keys are orphans too (they reference nothing); filter them first
    * if the column is nullable by contract.
    *
    * Scale shape: one LEFT ANTI join against the DISTINCT parent keys —
    * the parent side collapses to its key cardinality before the join,
    * and Spark broadcasts it when small (the typical dimension-table
    * case: zero shuffle on the child). Returns the orphan child rows
    * unchanged. */
  def referentialOrphans(child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column): DataFrame =
    child.join(parent.select(parentKey.as("__pk")).distinct(),
      childKey === col("__pk"), "left_anti")
}
