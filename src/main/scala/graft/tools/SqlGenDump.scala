package graft.tools

import graft.Verify.{jsonString => q}
import java.nio.file.{Files, Paths}

/** Dump every sg gate's LOWERED SQL string + the (view, parquet path)
  * tables it reads + the gate's handwritten oracle SQL as JSON, for
  * `scripts/check_sqlgen_duckdb.py` — which runs the identical generated
  * string on DuckDB and compares it to the oracle, proving the lowering
  * is plain ANSI that two independent SQL engines agree on (the portable
  * counterpart of the reference's Presto path, PrestoExecutor.scala:404).
  *
  * Usage: runMain graft.tools.SqlGenDump <sfDir> <outFile>
  * No SparkSession needed — lowering is pure string construction.
  */
object SqlGenDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val entries = graft.EngineQueries.sqlGenLowerings(sfDir).map {
      case (name, l, oracle) =>
        val tables = l.tables.map { t =>
          val opts = t.options.toSeq.sorted
            .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
          s"${q(t.name)}: {\"path\": ${q(t.path)}, \"type\": ${q(t.storeType)}, " +
            s"\"options\": $opts}"
        }.mkString("{", ",", "}")
        s"${q(name)}: {\"sql\": ${q(l.sql)}, \"tables\": $tables, " +
          s"\"oracle\": ${q(oracle)}}"
    }
    Files.writeString(Paths.get(outFile), entries.mkString("{", ",\n", "}\n"))
    println(s"dumped ${entries.size} lowered gates to $outFile")
  }
}
