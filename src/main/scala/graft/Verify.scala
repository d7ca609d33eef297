package graft
import org.apache.spark.sql.types.{ArrayType, MapType, StructField, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in hand-written oracle SQL would otherwise
    * make the oracle compare's json.load reject the whole file. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Output-portability guard: the pandas-based oracle compare cannot
    * sort top-level array/struct/map columns (t47's TypeError: unhashable
    * numpy.ndarray). Verify fails such gates at run time; PlanAudit flags
    * them across all registered gates. Returns `name:type` per column. */
  private[graft] def nonPortableColumns(schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case StructField(name, t @ (_: ArrayType | _: StructType | _: MapType), _, _) =>
        s"$name:${t.simpleString}"
    }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter — local
    // debugging aid; the driver always runs the full set]
    val (sfDir, outDir) = (args(0), args(1))
    val names = Gates.select(args.lift(2))
    // Default matches the DRIVER's local[32]: rounds 10-11 both shipped a
    // red that only reproduced at high core counts (split sizing depends
    // on defaultParallelism) because local verification ran at 4 CPUs.
    // Override with SPARK_GRAFT_CPUS for quick low-core debug runs.
    val cpus = GraftSession.cpus(default = 32)
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A gate that throws must surface as a RED row, not a silent absence:
    // round 6 shipped a crashing query and the correctness artifact simply
    // had no row for it. Collect failures (a throw or a hygiene failure,
    // see Gates) into _errors.json so the compare script can distinguish
    // "errored" from "missing".
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val (t0, cg0) = (System.nanoTime(), GraftSession.codegen())
    names.foreach { name =>
      val o = Gates.run(spark, SparkEntry.queries(name)(spark, sfDir)) { df =>
        // fail a non-portable schema fast, with the stringify recipe,
        // instead of letting it reach the oracle compare
        val bad = nonPortableColumns(df.schema)
        if (bad.nonEmpty)
          throw new IllegalStateException(
            s"non-portable output columns ${bad.mkString(", ")}" +
            " — stringify with concat_ws(' ', col) (Spark) / array_to_string(..., ' ') (oracle)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      o.failure.foreach { f =>
        System.err.println(s"[verify] $name failed: $f")
        errors(name) = f
      }
    }
    val (passSec, cg) = ((System.nanoTime() - t0) / 1e9, GraftSession.codegen() - cg0)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
    // loud but exit-0: the driver must still run the DuckDB compare on the
    // queries that DID produce output (a nonzero exit could discard them)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} gates FAILED: ${errors.keys.mkString(", ")}")
    // the pass's cost and its codegen share; with a cache that evicts
    // nothing, the count is the distinct classes the gates compile
    println(f"[verify] pass $passSec%.1f s, ${cg.compiles} classes compiled in ${cg.ms}%.0f ms")
  }
}
