package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the one-session-path invariant over the main and test sources:
  * every entry point and every spec takes its SparkSession from
  * [[GraftSession]], so the config Verify checks is the config Bench
  * times, users run and the specs see, and the retired tuning knobs stay
  * retired. Also pins that the builder's codegen cache size is the one
  * in force in a JVM whose sessions all come from it, and that the main
  * sources read lake tables only through [[engine.SourceRegistry]]. */
class SessionConfigSpec extends AnyFunSuite {

  /** Every Scala source but this file, which names the patterns it scans for. */
  private lazy val sources: Seq[(Path, String)] = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "SessionConfigSpec.scala")
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  private def spelledIn(s: String): Seq[String] =
    sources.collect { case (p, text) if text.contains(s) => p.getFileName.toString }

  test("SparkSession.builder appears only in GraftSession.scala") {
    assert(spelledIn("SparkSession.builder") == Seq("GraftSession.scala"))
  }

  test("the codegen cache size is set only in GraftSession.scala") {
    assert(spelledIn(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) == Seq("GraftSession.scala"))
  }

  test("no source reads a retired tuning knob") {
    val knobs = Seq("SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_PREFER_SMJ",
      "SPARK_GRAFT_STREAM_PARTITIONS", "SPARK_GRAFT_ADJ_REPS", "SPARK_GRAFT_SMOKE_CAP",
      "SPARK_GRAFT_SMOKE_ALPHA", "SPARK_GRAFT_SMOKE_ADJ_REPS")
    val readers = for ((p, text) <- sources; k <- knobs if text.contains(k)) yield s"$p: $k"
    assert(readers.isEmpty)
  }

  test("lake tables are read only through SourceRegistry") {
    val main = sources.filter(_._1.startsWith(Paths.get("src/main/scala")))
    def spelled(s: String) =
      main.collect { case (p, text) if text.contains(s) => p.getFileName.toString }
    assert(spelled("read.parquet(s\"$sf/").filterNot(_ == "SourceRegistry.scala").isEmpty)
    for (helper <- Seq("def docs(", "def events(", "def emb("))
      assert(spelled(helper).isEmpty, helper)
  }

  test("a gate compiled before 100+ other classes recompiles nothing (the builder sized the cache)") {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    val sf = "/root/testdata/sf0.001"
    def compiles(body: => Unit): Long = {
      val before = GraftSession.codegen()
      body
      (GraftSession.codegen() - before).compiles
    }
    def gate(): Long = compiles(assert(Bench.time(spark, SparkEntry.queries("g01_pagerank"), sf).failure.isEmpty))
    gate()
    assert(gate() == 0, "g01 alone must compile nothing after its first call")
    // one distinct class per query: the literal is inlined into the
    // generated code. Spark's default cache (100) evicts g01's classes.
    val filler = compiles((1 to 128).foreach { i =>
      spark.range(1).select((col("id") + lit(1000003L * i)).as("x"))
        .write.mode("overwrite").format("noop").save()
    })
    assert(filler > 100, s"the filler compiled only $filler classes")
    assert(gate() == 0, s"g01 recompiled after $filler other classes")
  }
}
