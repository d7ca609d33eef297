package graft.bench

import graft.fixtures.TpchLake
import graft.mappings.{ConfigParser, RmlParser}
import graft.model.{LakeConfig, MappingsDoc}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's copy of the semantic data lake: generated tables, the
  * derived non-parquet sources, Derby, and the parsed mappings.
  *
  * `TpchLake` keeps its derived sources in a fixed directory of the
  * source tree; the benchmark writes them into its own work directory
  * instead and rewrites that one prefix in `TpchLake`'s mappings and
  * config text, so every run reads and writes only inside its checkout. */
object Lake {

  final case class Parsed(mappings: MappingsDoc, config: LakeConfig)

  /** Marks a finished lake: "<scale> <seconds the generation took>". */
  private val Stamp = "_GENERATED"

  /** The lake's tables at `scale`, generated once into `dir` by the
    * program's own generator (which starts and stops its own session) and
    * reused by later runs. Returns the seconds the generation took.
    * `events` is rewritten as a single parquet file, the form the
    * streaming file sources read. */
  def cached(dir: String, scale: Double, cores: Int): Double = {
    val stamp = Paths.get(dir, Stamp)
    def made = if (Files.exists(stamp)) Files.readString(stamp).trim.split(" ") else Array.empty[String]
    if (!made.headOption.contains(scale.toString)) {
      val tmp = Paths.get(dir + ".tmp")
      delete(tmp)
      val t0 = System.nanoTime
      graft.tools.DataGen.main(Array(tmp.toString, scale.toString))
      val spark = graft.GraftSession.local(cores)
      try singleFile(spark, tmp.resolve("events.parquet")) finally spark.stop()
      Files.writeString(tmp.resolve(Stamp), s"$scale ${(System.nanoTime - t0) / 1e9}")
      delete(Paths.get(dir))
      Files.move(tmp, Paths.get(dir))
    }
    made(1).toDouble
  }

  private def singleFile(spark: SparkSession, table: Path): Unit = {
    val tmp = Paths.get(table.toString + ".one")
    spark.read.parquet(table.toString).coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala.find(_.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $table"))
    delete(table)
    Files.move(part, table)
    delete(tmp)
  }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  /** Write the derived sources `TpchLake.ensureDerived` provides (CSV,
    * JSON, ORC and N-Triples copies of nation, the shifted-key part CSV
    * and the org hierarchy), then load nation into Derby. */
  def derive(spark: SparkSession, sfDir: String, derivedDir: String): Unit = {
    def nation = spark.read.parquet(s"$sfDir/nation.parquet").coalesce(1).write
      .mode(SaveMode.Overwrite)
    nation.option("header", "true").csv(s"$derivedDir/nation_csv")
    nation.json(s"$derivedDir/nation_json")
    nation.orc(s"$derivedDir/nation_orc")
    spark.read.parquet(s"$sfDir/part.parquet")
      .select((col("p_partkey") + lit(1000000L)).cast("string").as("p_partkey_s"),
        col("p_name"))
      .coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true")
      .csv(s"$derivedDir/part_shifted_csv")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("o_empkey"),
        when(col("c_custkey") >= 2, floor(col("c_custkey") / 2)).as("o_mgrkey"),
        col("c_name").as("o_name"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$derivedDir/org_parquet")
    spark.read.parquet(s"$sfDir/nation.parquet")
      .select(concat(
        lit("<http://graft.io/nation/"), col("n_nationkey"), lit("> "),
        lit("<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "),
        lit("<http://graft.io/schema/Nation> ."), lit("\n"),
        lit("<http://graft.io/nation/"), col("n_nationkey"), lit("> "),
        lit("<http://graft.io/schema/name> \""), col("n_name"), lit("\" ."), lit("\n"),
        lit("<http://graft.io/nation/"), col("n_nationkey"), lit("> "),
        lit("<http://graft.io/schema/regionkey> \""), col("n_regionkey"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#integer> ."))
        .as("value"))
      .coalesce(1).write.mode(SaveMode.Overwrite).text(s"$derivedDir/nation_nt")
    TpchLake.ensureJdbc(spark, sfDir)
  }

  private val DerivedSource = "\"source\":\"([^\"]*)/nation_csv\"".r

  /** `TpchLake`'s mappings and config text for `sfDir`, with its derived
    * directory replaced by `derivedDir`. */
  def texts(sfDir: String, derivedDir: String): (String, String) = {
    val config = TpchLake.configText(sfDir)
    val prefix = DerivedSource.findFirstMatchIn(config).map(_.group(1))
      .getOrElse(sys.error("TpchLake config names no derived nation_csv source"))
    (TpchLake.mappingsText(sfDir).replace(prefix, derivedDir),
      config.replace(prefix, derivedDir))
  }

  def parse(mappingsText: String, configText: String): Parsed =
    Parsed(RmlParser.parse(mappingsText), ConfigParser.parse(configText))
}
