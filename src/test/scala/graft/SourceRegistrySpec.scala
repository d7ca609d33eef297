package graft

import graft.engine.{GraftEngine, SourceRegistry}
import graft.mappings.{ConfigParser, RmlParser}
import graft.model.SourceConfig
import graft.sparql.SparqlParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The source memo of [[SourceRegistry]]: a file source is resolved once
  * per session while its listing and the session's confs are unchanged,
  * and a changed listing is seen by the next load. */
class SourceRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private def builder = GraftSession.builder("local[4]", 4)

  private var current: SparkSession = _
  private def spark: SparkSession = {
    if (current == null || current.sparkContext.isStopped) current = builder.getOrCreate()
    current
  }

  private lazy val root = Files.createTempDirectory("graft_source_registry").toString

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    finally super.afterAll()

  private val Csv = Map("header" -> "true", "inferSchema" -> "true")

  /** A fresh three-row source `{k, v}` in `fmt` under a new directory. */
  private def lake(name: String, fmt: String): SourceConfig = {
    val path = s"$root/$name.$fmt"
    write(spark.range(3).selectExpr("id AS k", "concat('v', id) AS v"), fmt, path, "error")
    SourceConfig(name, fmt, path, if (fmt == "csv") Csv else Map.empty)
  }

  private def write(df: DataFrame, fmt: String, path: String, mode: String): Unit =
    df.coalesce(1).write.mode(mode).options(if (fmt == "csv") Csv else Map.empty[String, String])
      .format(fmt).save(path)

  private val Formats = Seq("parquet", "csv", "json")

  /** Spark jobs started while `f` runs: the listener counts job starts
    * until it sees a marker job started after `f`, so every earlier job
    * has been delivered. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      f
      sc.setJobDescription("marker")
      try spark.range(1).collect() finally sc.setJobDescription(null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  test("two loads of an unchanged source return the same DataFrame") {
    for (fmt <- Formats) {
      val sc = lake(s"same_$fmt", fmt)
      assert(SourceRegistry.load(spark, sc) eq SourceRegistry.load(spark, sc), fmt)
    }
  }

  test("a second executeParsed on an unchanged lake starts no Spark job before execution") {
    val srcs = Formats.map(fmt => lake(s"engine_$fmt", fmt))
    val mappings = RmlParser.parse(
      """@prefix g: <http://graft.io/schema/>
        |@prefix rr: <http://www.w3.org/ns/r2rml#>
        |@prefix rml: <http://semweb.mmlab.be/ns/rml#>
        |@prefix nosql: <http://purl.org/db/nosql#>
        |""".stripMargin + srcs.map(sc =>
        s"""<#${sc.entity}Map>
           |  rml:logicalSource [ rml:source "${sc.source}"; nosql:store nosql:${sc.storeType} ];
           |  rr:subjectMap [ rr:template "http://graft.io/${sc.entity}/{k}" ];
           |  rr:predicateObjectMap [ rr:predicate g:xv; rr:objectMap [ rml:reference "v" ] ] .
           |""".stripMargin).mkString("\n"))
    val config = ConfigParser.parse(srcs.map(sc =>
      s"""{"type":"${sc.storeType}","source":"${sc.source}","entity":"${sc.entity}","options":{""" +
        sc.options.map { case (k, v) => s""""$k":"$v"""" }.mkString(",") + "}}")
      .mkString("""{"sources":[""", ",", "]}"))
    val q = SparqlParser.parse(
      "PREFIX g: <http://graft.io/schema/>\nSELECT ?s ?v WHERE { ?s g:xv ?v . }")
    var df: DataFrame = null
    val first = jobsDuring { df = GraftEngine.executeParsed(spark, q, mappings, config) }
    assert(first > 0, "the first build infers the CSV and JSON schemas")
    assert(df.count() == 9)
    val second = jobsDuring { df = GraftEngine.executeParsed(spark, q, mappings, config) }
    assert(second == 0)
    assert(df.count() == 9)
  }

  test("a part file added between two loads makes its rows visible") {
    for (fmt <- Formats) {
      val sc = lake(s"append_$fmt", fmt)
      val before = SourceRegistry.load(spark, sc)
      assert(before.count() == 3, fmt)
      write(spark.range(3, 5).selectExpr("id AS k", "concat('v', id) AS v"), fmt, sc.source,
        "append")
      val after = SourceRegistry.load(spark, sc)
      assert(after ne before, fmt)
      assert(after.select(col("k").cast("long")).collect().map(_.getLong(0)).sorted.toSeq
        == (0L until 5L), fmt)
    }
  }

  test("a source overwritten with an extra column shows that column") {
    for (fmt <- Formats) {
      val sc = lake(s"widen_$fmt", fmt)
      assert(SourceRegistry.load(spark, sc).columns.toSeq == Seq("k", "v"), fmt)
      write(spark.range(3).selectExpr("id AS k", "concat('v', id) AS v", "id * 10 AS w"),
        fmt, sc.source, "overwrite")
      val df = SourceRegistry.load(spark, sc)
      assert(df.columns.toSeq == Seq("k", "v", "w"), fmt)
      assert(df.agg(sum("w")).head().getLong(0) == 30L, fmt)
    }
  }

  test("a changed session conf re-resolves the source") {
    val sc = lake("conf_json", "json")
    val key = "spark.sql.caseSensitive"
    val a = SourceRegistry.load(spark, sc)
    spark.conf.set(key, "true")
    try {
      val b = SourceRegistry.load(spark, sc)
      assert(b ne a)
      assert(SourceRegistry.load(spark, sc) eq b)
    } finally spark.conf.unset(key)
  }

  test("register of a store type drops its entries") {
    val sc = lake("register_json", "json")
    val json = SourceRegistry.loader("json")
    val a = SourceRegistry.load(spark, sc)
    assert(SourceRegistry.memoEntries.exists(_._3 == sc.source))
    try {
      SourceRegistry.register("json", (s, c) => json(s, c).withColumn("tagged", lit(1)))
      assert(!SourceRegistry.memoEntries.exists(_._2 == "json"))
      val b = SourceRegistry.load(spark, sc)
      assert(b.columns.contains("tagged"))
    } finally SourceRegistry.register("json", json)
    val c = SourceRegistry.load(spark, sc)
    assert(c.columns.toSeq == a.columns.toSeq)
  }

  test("jdbc, bucketed_table and glob sources are not memoised") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate("CREATE TABLE SOURCE_REGISTRY_SPEC (k BIGINT)") finally st.close()
    } finally conn.close()
    val jdbc = SourceConfig("j", "jdbc", "SOURCE_REGISTRY_SPEC", Map("url" -> url,
      "dbtable" -> "SOURCE_REGISTRY_SPEC", "driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    val pq = lake("bucketed", "parquet")
    spark.read.parquet(pq.source).createOrReplaceTempView("source_registry_spec")
    val bucketed = pq.copy(options = Map("bucketed_table" -> "source_registry_spec"))
    val glob = pq.copy(source = s"${pq.source}/*.parquet")
    for (sc <- Seq(jdbc, bucketed, glob)) {
      assert(SourceRegistry.load(spark, sc) ne SourceRegistry.load(spark, sc), sc.source)
      assert(!SourceRegistry.memoEntries.exists(e => e._2 == sc.storeType && e._3 == sc.source),
        sc.source)
    }
    assert(SourceRegistry.load(spark, glob).count() == 3)
  }

  test("a missing path raises Spark's own error") {
    for (fmt <- Formats) {
      val missing = s"$root/missing.$fmt"
      val opts = if (fmt == "csv") Csv else Map.empty[String, String]
      val plain = intercept[Exception](spark.read.options(opts).format(fmt).load(missing))
      val got = intercept[Exception](
        SourceRegistry.load(spark, SourceConfig("m", fmt, missing, opts)))
      assert(got.getClass == plain.getClass && got.getMessage == plain.getMessage, fmt)
      assert(got.getMessage.contains("PATH_NOT_FOUND"), got.getMessage)
    }
  }

  test("parquet on an unchanged path returns the same DataFrame and starts no Spark job") {
    val path = lake("ops_same", "parquet").source
    assert(jobsDuring(spark.read.parquet(path)) > 0, "a plain read infers the schema in a job")
    val first = SourceRegistry.parquet(spark, path)
    var second: DataFrame = null
    assert(jobsDuring { second = SourceRegistry.parquet(spark, path) } == 0)
    assert(second eq first)
  }

  test("a parquet directory overwritten through Spark shows the new rows on the next parquet call") {
    val path = lake("ops_overwrite", "parquet").source
    assert(SourceRegistry.parquet(spark, path).count() == 3)
    write(spark.range(10, 15).selectExpr("id AS k", "concat('w', id) AS v"), "parquet", path,
      "overwrite")
    val df = SourceRegistry.parquet(spark, path)
    assert(df.select(col("k")).collect().map(_.getLong(0)).sorted.toSeq == (10L until 15L))
    assert(df.filter(col("v").startsWith("v")).count() == 0)
  }

  test("l02 and l07 write then re-read their directory through the memo: two runs equal the oracle") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/documents.parquet").createOrReplaceTempView("documents")
    try {
      for ((gate, dir) <- Seq("l02_compact_small_files" -> "compact_out",
          "l07_vacuum_orphans" -> "vacuum_tbl")) {
        // the oracle SQL is DuckDB's, but these two run unchanged on Spark
        val want = spark.sql(OpsQueries.oracleSql(gate)).collect().toSeq
        for (run <- 1 to 2)
          assert(SparkEntry.queries(gate)(spark, sf).collect().toSeq == want, s"$gate run $run")
        assert(SourceRegistry.memoEntries.exists(e => (e._1 eq spark) && e._3.endsWith(s"/$dir")),
          s"$gate read $dir around the memo")
      }
    } finally spark.catalog.dropTempView("documents")
  }

  // last: it stops the shared SparkContext; the session that replaces it
  // is built with the same settings the other suites use
  test("entries of a stopped session are dropped on the next load") {
    val sc = lake("stop_parquet", "parquet")
    SourceRegistry.load(spark, sc)
    val old = spark
    assert(SourceRegistry.memoEntries.exists(_._1 eq old))
    old.stop()
    SourceRegistry.load(spark, sc)
    assert(spark ne old)
    assert(!SourceRegistry.memoEntries.exists(_._1 eq old))
    assert(SourceRegistry.memoEntries.exists(_._1 eq spark))
  }
}
