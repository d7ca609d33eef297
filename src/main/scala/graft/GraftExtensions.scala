package graft

import graft.functions.Native
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Spark-native integration point: inject every graft Catalyst
  * expression ([[graft.functions.Native.table]]) into a session at
  * build time, so pure-SQL users get the functions without touching the
  * Scala API —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  * }}}
  *
  * The `graft.ops` entry points do not require this: their Columns
  * carry the expressions themselves. The extension exists for SQL text
  * in sessions graft code does not create — SQL-only notebooks, JDBC
  * gateways, `spark.sql` scripts. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = Native.table.foreach { f =>
    ext.injectFunction((FunctionIdentifier(f.name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, ""), f.build))
  }
}
