package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * 4-star SPARQL join through the full engine pipeline. */
  def entry(spark: SparkSession): DataFrame =
    queries("q06_join4_mod")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2 (+ net-new ops). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EngineQueries.queries ++ OpsQueries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    EngineQueries.oracleSql ++ OpsQueries.oracleSql
  /** Bench-mode query set: identical to [[queries]] except the ANN
    * entries, whose verification form is a recall gate (20 exact + 20
    * approximate runs per gate — right for correctness, not an operator
    * timing). The bench times the operator itself once. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] = {
    val q = queries
    // an override key that doesn't match a gated query would silently add
    // an unverified entry to the bench — fail loudly instead
    require(OpsQueries.benchOverrides.keySet.subsetOf(q.keySet),
      s"bench overrides not in queries: ${OpsQueries.benchOverrides.keySet -- q.keySet}")
    q ++ OpsQueries.benchOverrides
  }
}
