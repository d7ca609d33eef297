package graft

import graft.engine.{GraftEngine, SqlGenExecutor, StarSpec}
import graft.mappings.{ConfigParser, RmlParser}
import graft.sparql.SparqlParser
import org.apache.spark.SparkThrowable

/** CLI entry point — the analogue of the reference's Main.scala:11-22
  * (`query.sparql mappings.ttl config [master]`): runs one SPARQL query
  * over the configured data lake and prints up to 20 rows + the count.
  * A failure prints its root cause ([[Gates.describe]]) and exits with
  * the code of its class ([[exitCode]]).
  */
object Cli {

  /** Exit codes: usage (missing arguments, an unreadable input file),
    * then one per failure class of a query. */
  val Execution = 1
  val Usage = 2
  val Parse = 3
  val NoRelevantSource = 4
  val SourceIo = 5

  /** The query, mappings or config text did not parse. */
  private[graft] final class ParseError(cause: Throwable) extends RuntimeException(cause)

  /** The exit code of a failed query: the class of the outermost cause
    * in its chain that has one. [[Parse]] for a [[ParseError]];
    * [[NoRelevantSource]] when no mapped source answers a star;
    * [[SourceIo]] when a source could not be read (an I/O or JDBC error,
    * or Spark's missing-path and failed-read conditions, which wrap the
    * I/O cause); else [[Execution]]. */
  private[graft] def exitCode(e: Throwable): Int = Gates.causes(e).collectFirst {
    case _: ParseError => Parse
    case _: StarSpec.NoRelevantSource => NoRelevantSource
    case _: java.io.IOException | _: java.sql.SQLException => SourceIo
    case s: SparkThrowable if Option(s.getCondition).exists(c =>
      c.startsWith("PATH_NOT_FOUND") || c.startsWith("FAILED_READ_FILE")) => SourceIo
  }.getOrElse(Execution)

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.Cli <query.sparql> <mappings.ttl> <config.json> " +
        "[master] [sqlgen]")
      sys.exit(Usage)
    }
    val master = args.lift(3).getOrElse("local[*]")
    val mode = args.lift(4).getOrElse("")
    val Array(queryText, mappingsText, configText) =
      try args.take(3).map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      catch { case e: java.io.IOException =>
        System.err.println(s"cannot read an input file: ${Gates.describe(e)}")
        sys.exit(Usage)
      }
    val spark = GraftSession.builder(master, GraftSession.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try {
      val (q, m, c) =
        try (SparqlParser.parse(queryText), RmlParser.parse(mappingsText), ConfigParser.parse(configText))
        catch { case e: Exception => throw new ParseError(e) }
      // `sqlgen` picks the SQL-generation engine — the counterpart of the
      // reference letting its users choose the Presto executor beside
      // Spark (Main.scala); prints the generated statement for
      // portability (any SQL engine with the tables registered runs it)
      val df =
        if (mode == "sqlgen") {
          println(s"-- generated SQL:\n${SqlGenExecutor.lower(q, m, c).sql}")
          SqlGenExecutor.execute(spark, q, m, c)
        } else GraftEngine.executeParsed(spark, q, m, c)
      df.show(20, truncate = false)
      println(s"total: ${df.count()} rows")
      0
    } catch {
      case e: Exception =>
        System.err.println(s"query failed: ${Gates.describe(e)}")
        exitCode(e)
    } finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
