package graft

import graft.engine.GraftEngine

/** CLI entry point — the analogue of the reference's Main.scala:11-22
  * (`query.sparql mappings.ttl config [master]`): runs one SPARQL query
  * over the configured data lake and prints up to 20 rows + the count.
  */
object Cli {
  /** The innermost cause (chain walk bounded against cause cycles):
    * Spark wraps task failures, and the outer message names the wrapper,
    * not what went wrong. */
  private def rootCause(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).toSeq.last

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.Cli <query.sparql> <mappings.ttl> <config.json> " +
        "[master] [reorder|sqlgen]")
      sys.exit(2)
    }
    val Array(queryFile, mappingsFile, configFile) = args.take(3)
    val master = args.lift(3).getOrElse("local[*]")
    val mode = args.lift(4).getOrElse("")
    val reorder = mode == "reorder"
    def read(p: String) = {
      val s = scala.io.Source.fromFile(p)
      try s.mkString finally s.close()
    }
    val spark = GraftSession.builder(master, GraftSession.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // `sqlgen` picks the SQL-generation engine — the counterpart of the
      // reference letting its users choose the Presto executor beside
      // Spark (Main.scala); prints the generated statement for
      // portability (any SQL engine with the tables registered runs it)
      val df =
        if (mode == "sqlgen") {
          val q = graft.sparql.SparqlParser.parse(read(queryFile))
          val m = graft.mappings.RmlParser.parse(read(mappingsFile))
          val c = graft.mappings.ConfigParser.parse(read(configFile))
          val lowered = graft.engine.SqlGenExecutor.lower(q, m, c)
          println(s"-- generated SQL:\n${lowered.sql}")
          graft.engine.SqlGenExecutor.execute(spark, q, m, c)
        } else GraftEngine.execute(spark, read(queryFile), read(mappingsFile),
          read(configFile), reorderJoins = reorder)
      df.show(20, truncate = false)
      println(s"total: ${df.count()} rows")
    } catch {
      case e: Exception =>
        val root = rootCause(e)
        System.err.println(s"query failed: ${root.getClass.getName}: ${root.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }
}
