package graft.bench

import org.apache.spark.sql.SparkSession

/** One filter literal of a SPARQL gate that the benchmark re-draws on
  * every pass from values present in the data, so the query text changes
  * between passes and a cache keyed on it cannot stand in for the engine.
  *
  * `sparqlFrag` and `oracleFrag` are the fragments of the gate's SPARQL
  * and of its DuckDB oracle SQL that hold `literal`; each must occur
  * exactly once. Candidate values are `expr` over `table`, restricted to
  * the `band` of quantiles around the original literal so the result
  * size stays close to the gate's own. */
final case class Param(gate: String, sparqlFrag: String, oracleFrag: String,
    literal: String, table: String, expr: String, band: (Double, Double))

object Params {

  val all: Seq[Param] = Seq(
    Param("q04_join2", "?total > 200000", "o_totalprice > 200000", "200000",
      "orders", "CAST(floor(o_totalprice) AS BIGINT)", (0.45, 0.55)),
    Param("q05_join3", "\"ASIA\"", "'ASIA'", "ASIA",
      "region", "r_name", (0.0, 1.0)),
    Param("q06_join4_mod", "\"NATION_3\"", "'NATION_3'", "NATION_3",
      "nation", "n_name", (0.0, 1.0)),
    Param("q12_filter_subject", "?c = 371", "c_custkey = 371", "371",
      "customer", "c_custkey", (0.0, 1.0)),
    Param("q22_date_filter", "\"1996-06-01\"", "'1996-06-01'", "1996-06-01",
      "orders", "date_format(o_orderdate, 'yyyy-MM-dd')", (0.18, 0.25)))

  def forGate(gate: String): Option[Param] = all.find(_.gate == gate)

  /** Replace `literal` by `value` inside the single occurrence of `frag`
    * in `text`. */
  def substitute(text: String, frag: String, literal: String, value: String): String = {
    val at = text.indexOf(frag)
    require(at >= 0 && text.indexOf(frag, at + 1) < 0,
      s"fragment '$frag' must occur exactly once")
    require(frag.contains(literal), s"fragment '$frag' does not hold '$literal'")
    text.substring(0, at) + frag.replace(literal, value) + text.substring(at + frag.length)
  }

  /** (SPARQL, oracle SQL) of a gate with its literal set to `value`. */
  def bind(p: Param, sparql: String, oracle: String, value: String): (String, String) =
    (substitute(sparql, p.sparqlFrag, p.literal, value),
      substitute(oracle, p.oracleFrag, p.literal, value))

  /** The values in the quantile band of a sorted candidate list. */
  def inBand(sorted: IndexedSeq[String], band: (Double, Double)): IndexedSeq[String] = {
    // the epsilon keeps 0.55 * 100 from rounding up to 56
    val lo = math.min((band._1 * sorted.size + 1e-9).floor.toInt, sorted.size - 1)
    val hi = math.max(lo + 1, math.min((band._2 * sorted.size - 1e-9).ceil.toInt, sorted.size))
    sorted.slice(lo, hi)
  }

  /** Candidate values of every parameter, read from the lake. Numeric
    * candidates sort numerically, the others as strings. */
  def candidates(spark: SparkSession, sfDir: String, params: Seq[Param])
      : Map[String, IndexedSeq[String]] =
    params.map { p =>
      val vs = spark.read.parquet(s"$sfDir/${p.table}.parquet")
        .selectExpr(s"CAST(${p.expr} AS STRING) AS v").distinct()
        .collect().flatMap(r => Option(r.getString(0))).toIndexedSeq
      val sorted =
        if (vs.forall(_.toLongOption.isDefined)) vs.sortBy(_.toLong) else vs.sorted
      require(sorted.nonEmpty, s"no candidate values for ${p.gate}")
      p.gate -> inBand(sorted, p.band)
    }.toMap
}
