package graft

import graft.engine.{Sinks, Transforms}
import graft.model.TransformFn
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TransformsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()
  import spark.implicits._

  private def one[T: org.apache.spark.sql.Encoder](fn: TransformFn, in: T): Any =
    Seq(in).toDF("v")
      .select(Transforms(col("v"), Seq(fn)).as("out")).head().get(0)

  test("toInt casts strings, nulls uncastables") {
    assert(one(TransformFn("toInt", Nil), "42") == 42)
    assert(one(TransformFn("toInt", Nil), "x") == null)
  }

  test("scl add/sub/mul, integral-preserving") {
    assert(one(TransformFn("scl", Seq("_+61")), 1) == 62L)
    assert(one(TransformFn("scl", Seq("_-1")), 10) == 9L)
    assert(one(TransformFn("scl", Seq("_*3")), 7) == 21L)
    assert(one(TransformFn("scl", Seq("+1.5")), 1.0) == 2.5)
  }

  test("substit keeps non-matching rows (reference bug fixed)") {
    assert(one(TransformFn("substit", Seq("a", "b")), "a") == "b")
    assert(one(TransformFn("substit", Seq("a", "b")), "z") == "z")
  }

  test("replc replaces all literal occurrences, no regex surprises") {
    assert(one(TransformFn("replc", Seq("a.b", "X")), "a.b-a.b-azb") == "X-X-azb")
  }

  test("prefix and postfix concatenate correctly (reference bugs fixed)") {
    assert(one(TransformFn("prefix", Seq("pre-")), "v") == "pre-v")
    assert(one(TransformFn("postfix", Seq("-post")), "v") == "v-post")
  }

  test("skp surfaces as a row filter value") {
    assert(Transforms.skipValues(Seq(
      TransformFn("toInt", Nil), TransformFn("skp", Seq("7")))) == Seq("7"))
  }

  test("sinks roundtrip: parquet and csv") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "sink").toString
    Sinks.parquet(df, s"$dir/p")
    Sinks.csv(df, s"$dir/c")
    assert(spark.read.parquet(s"$dir/p").count() == 2)
    assert(spark.read.option("header", "true").csv(s"$dir/c").count() == 2)
  }

  test("partitioned parquet sink writes hive layout, prunes on read") {
    val df = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("doc_id", "lang", "ntok")
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "psink").toString
    Sinks.partitionedParquet(df, s"$dir/docs", Seq("lang"))
    // hive layout: one directory per partition value
    val subdirs = new java.io.File(s"$dir/docs").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(subdirs == Seq("lang=de", "lang=en"))
    val back = spark.read.parquet(s"$dir/docs")
    assert(back.count() == 3)
    // a partition filter must prune to the one directory, not scan all
    val plan = back.filter(col("lang") === "en").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), s"no pruning in:\n$plan")
    assert(back.filter(col("lang") === "en").count() == 2)
  }

  test("mongo URI built from the reference's option shape") {
    import graft.engine.SourceRegistry
    assert(SourceRegistry.mongoUri(Map(
      "url" -> "10.0.0.1", "database" -> "bsbm", "collection" -> "offers",
      "options" -> "")) == "mongodb://10.0.0.1/bsbm.offers")
    assert(SourceRegistry.mongoUri(Map(
      "url" -> "h1,h2:27002", "database" -> "db", "collection" -> "offer",
      "options" -> "replicaSet=rs")) == "mongodb://h1,h2:27002/db.offer?replicaSet=rs")
  }
}
