package graft

import graft.engine.{GraftEngine, StarSpec}
import graft.mappings.{ConfigParser, RmlParser}
import graft.sparql.SparqlParser
import org.apache.spark.SparkEnv
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths, StandardOpenOption}

/** The gate runner [[Gates]]: what a call persisted is released when it
  * returns or throws, a failure surfaces its root cause, gate names are
  * checked, and the CLI's exit code follows the failure's class. */
class GatesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var current: SparkSession = _
  private def spark: SparkSession = {
    if (current == null || current.sparkContext.isStopped)
      current = GraftSession.builder("local[4]", 4).getOrCreate()
    current
  }

  private val sf = "/root/testdata/sf0.001"
  private lazy val root = Files.createTempDirectory("graft_gates").toString

  // start from an empty store: an RDD an earlier spec of this JVM left
  // persisted could be garbage-collected, and so unpersisted, during a
  // call here and read as a change the call made
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    finally super.afterAll()

  /** Persisted RDD ids and the RDD blocks the block manager holds. */
  private def storage(): (Set[Int], Int) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      SparkEnv.get.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).size)

  test("g01 and c01, twice each through the runner, leave the persisted RDDs and blocks they found") {
    for (_ <- 1 to 2; gate <- Seq("g01_pagerank", "c01_dedup_clusters")) {
      val before = storage()
      val o = Gates.run(spark, SparkEntry.queries(gate)(spark, sf))(Gates.noop)
      assert(o.failure.isEmpty, gate)
      assert(o.seconds > 0)
      assert(storage() == before, gate)
    }
  }

  test("the runner releases what a failing call persisted and records the root cause") {
    val before = storage()
    val o = Gates.run(spark, spark.range(1000).toDF("id")) { df =>
      df.localCheckpoint()
      df.cache().count()
      throw new RuntimeException("sink failed", new IllegalStateException("disk gone"))
    }
    assert(o.failure.contains("java.lang.IllegalStateException: disk gone"))
    assert(o.hygiene.isEmpty)
    assert(storage() == before)
  }

  test("growth the runner cannot release is the call's hygiene failure") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val o =
      try Gates.run(spark, spark.range(1).toDF())(_ => spark.conf.set(key, "7"))
      finally spark.conf.set(key, prev)
    assert(o.value.isRight)
    assert(o.hygiene == Seq(s"conf $key"))
    assert(o.result == Left(s"hygiene: conf $key"))
  }

  /** A one-table lake over `source` (sf0.001's region table). */
  private def regionLake(source: String) = (
    RmlParser.parse(
      s"""@prefix g: <http://graft.io/schema/>
         |@prefix rr: <http://www.w3.org/ns/r2rml#>
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#>
         |@prefix nosql: <http://purl.org/db/nosql#>
         |<#RegionMap>
         |  rml:logicalSource [ rml:source "$source"; nosql:store nosql:parquet ];
         |  rr:subjectMap [ rr:template "http://graft.io/region/{r_regionkey}"; rr:class g:Region ];
         |  rr:predicateObjectMap [ rr:predicate g:regionName; rr:objectMap [ rml:reference "r_name" ] ] .
         |""".stripMargin),
    ConfigParser.parse(
      s"""{"sources":[{"type":"parquet","options":{},"source":"$source","entity":"Region"}],"weights":[]}"""))

  private val regions = "PREFIX g: <http://graft.io/schema/>\nSELECT ?r ?n WHERE { ?r g:regionName ?n }"

  /** `sparql` over `source` through the runner; asserts the snapshot
    * after the call equals the one before it, and returns what it threw. */
  private def fault(source: String, sparql: String): Throwable = {
    val (m, c) = regionLake(source)
    val before = Gates.snapshot(spark)
    val o = Gates.run(spark, GraftEngine.executeParsed(spark, SparqlParser.parse(sparql), m, c))(Gates.noop)
    val after = Gates.snapshot(spark)
    // a thread of an earlier spec may end meanwhile; none may start
    assert(after.copy(threads = Set.empty) == before.copy(threads = Set.empty))
    assert(after.threads.subsetOf(before.threads))
    assert(o.hygiene.isEmpty)
    o.value.left.getOrElse(fail(s"$source: the call did not fail"))
  }

  test("fault injection: a missing source file, a corrupt footer and an unsupported SPARQL form") {
    val ok = s"$root/region.parquet"
    spark.read.parquet(s"$sf/region.parquet").write.parquet(ok)
    // the working lake first: the faults below are the only difference
    val (m, c) = regionLake(ok)
    val good = Gates.run(spark, GraftEngine.executeParsed(spark, SparqlParser.parse(regions), m, c))(_.count())
    assert(good.result == Right(5L))

    val missing = fault(s"$root/no_such_table.parquet", regions)
    assert(Gates.rootCause(missing).isInstanceOf[AnalysisException])
    assert(Gates.describe(missing).contains("PATH_NOT_FOUND"), Gates.describe(missing))
    assert(Gates.describe(missing).contains("no_such_table.parquet"))
    assert(Cli.exitCode(missing) == Cli.SourceIo)

    val corrupt = s"$root/corrupt.parquet"
    Files.createDirectories(Paths.get(corrupt))
    val part = Files.list(Paths.get(ok)).filter(_.toString.endsWith(".parquet")).findFirst().get
    val bytes = Files.readAllBytes(part)
    // overwrite the footer's trailing magic number
    bytes.indices.takeRight(4).foreach(bytes(_) = 'X'.toByte)
    Files.write(Paths.get(corrupt, "part-0.parquet"), bytes, StandardOpenOption.CREATE_NEW)
    val footer = fault(corrupt, regions)
    assert(Gates.describe(footer).contains("is not a Parquet file"), Gates.describe(footer))
    assert(Cli.exitCode(footer) == Cli.SourceIo)

    val unsupported = fault(ok, "PREFIX g: <http://graft.io/schema/>\nINSERT DATA { <a> g:regionName \"x\" }")
    assert(Gates.describe(unsupported) ==
      "java.lang.IllegalArgumentException: requirement failed: expected SELECT, ASK, CONSTRUCT or DESCRIBE")
    assert(Cli.exitCode(new Cli.ParseError(unsupported)) == Cli.Parse)
  }

  test("Gates.select: every gate sorted, a list in its order, an unknown name refused by name") {
    assert(Gates.select(None) == SparkEntry.queries.keys.toSeq.sorted)
    assert(Gates.select(Some(" g01_pagerank, c01_dedup_clusters,g01_pagerank")) ==
      Seq("g01_pagerank", "c01_dedup_clusters"))
    val e = intercept[IllegalArgumentException](Gates.select(Some("g01_pagerank,g01_pagernak,q99_x")))
    assert(e.getMessage.contains("unknown gates: g01_pagernak, q99_x"))
  }

  test("Cli.exitCode: parse, no relevant source, source I/O, execution") {
    val io = new java.io.FileNotFoundException("x.parquet")
    assert(Cli.exitCode(new Cli.ParseError(new IllegalArgumentException("expected WHERE"))) == Cli.Parse)
    // a config that fails to parse is a parse error although Jackson's is an IOException
    assert(Cli.exitCode(new Cli.ParseError(new com.fasterxml.jackson.core.JsonParseException(null, "bad"))) ==
      Cli.Parse)
    assert(Cli.exitCode(new StarSpec.NoRelevantSource("no relevant source for star ?x")) ==
      Cli.NoRelevantSource)
    assert(Cli.exitCode(new org.apache.spark.SparkException("Job aborted", io)) == Cli.SourceIo)
    assert(Cli.exitCode(new java.sql.SQLException("no database")) == Cli.SourceIo)
    assert(Cli.exitCode(new org.apache.spark.SparkException("Job aborted",
      new ArithmeticException("/ by zero"))) == Cli.Execution)
  }
}
