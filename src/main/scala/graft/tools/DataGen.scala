package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic sf1-scale data generator (10× the sf0.1 tables, same
  * schemas/value domains) for the join-dominated bench sweep. The driver
  * testdata tops out at sf0.1, where most operator cost is per-row work;
  * shuffle/join behavior needs a scale where shuffles dominate, so this
  * writes a compatible lake at ~6M lineitem rows.
  *
  * All columns derive from xxhash64(id, tag) — fully parallel codegen'd
  * generation, no RNG state, byte-identical across runs. nation/region
  * (fixed 25/5 rows at every sf) are copied from the source dir.
  *
  * documents embed structure the dedup ops must handle at scale: ~2%
  * exact duplicates, ~3% near-duplicates (one-token edit of another
  * doc), and a hot 8-token boilerplate prefix on 10% of docs — the
  * corpus-hot-shingle case that stresses ppjoin prefix ordering.
  * embeddings are a 50-center mixture (center + 30% noise), the
  * clustered shape real corpora have.
  *
  * Usage: runMain graft.tools.DataGen [outDir] [scale] [tables]
  *   outDir default /root/repo/localdata/sf1, scale default 1.0
  *   (scale multiplies row counts; 1.0 = sf1); tables is an optional
  *   comma-separated subset (e.g. "documents,embeddings" for the
  *   sf2–sf5 corpus-pipeline scale smoke — generating 30M-row lineitem
  *   tables the smoke never reads would dominate its cost).
  */
object DataGen {

  private val Vocab = Seq(
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "a", "hash", "slow", "group", "batch", "agg", "filter",
    "query", "big", "key", "window", "row", "part", "table", "stream",
    "merge", "data", "join", "vector", "customer", "the", "of", "and",
    "to", "in", "is", "cache", "shuffle", "plan", "stage", "task")

  /** Uniform [0, m) long derived from (tag, id). */
  private def h(tag: String, id: Column, m: Long): Column =
    pmod(xxhash64(lit(tag), id), lit(m))

  /** Uniform [0, 1) double derived from (tag, id). */
  private def hd(tag: String, id: Column): Column =
    h(tag, id, 1000000L).cast("double") / 1000000.0

  private def pick(tag: String, id: Column, choices: Seq[String]): Column =
    element_at(typedLit(choices), (h(tag, id, choices.size) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/root/repo/localdata/sf1")
    val scale = args.drop(1).headOption.map(_.toDouble).getOrElse(1.0)
    val only: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SRC_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def n(base: Long) = math.max(1L, (base * scale).toLong)

    def write(df: => DataFrame, table: String): Unit =
      if (only.forall(_.contains(table))) {
        df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$table.parquet")
        println(s"wrote $table")
      } else println(s"skipped $table (not in tables filter)")
    def ids(count: Long, parts: Int = 32) =
      spark.range(0, count, 1, parts).select(col("id"))

    // fixed-cardinality dimensions: copy verbatim
    for (t <- Seq("region", "nation"))
      write(spark.read.parquet(s"$srcDir/$t.parquet"), t)

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLine = n(6000000)
    val nEvents = n(1000000); val nUsers = n(15000)
    val nDocs = n(50000); val nVecs = n(20000)

    write(ids(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      h("cn", col("id"), 25).cast("int").as("c_nationkey"),
      round(hd("cb", col("id")) * 11000 - 1000, 2).as("c_acctbal"),
      pick("cs", col("id"),
        Seq("BUILDING", "MACHINERY", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD"))
        .as("c_mktsegment")), "customer")

    write(ids(nSupp).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      h("sn", col("id"), 25).cast("int").as("s_nationkey"),
      round(hd("sb", col("id")) * 11000 - 1000, 2).as("s_acctbal")), "supplier")

    write(ids(nPart).select(
      col("id").as("p_partkey"),
      concat(pick("pn1", col("id"), Vocab), lit(" "), pick("pn2", col("id"), Vocab))
        .as("p_name"),
      concat(lit("Brand#"), h("pb", col("id"), 5) + 1, h("pb2", col("id"), 5) + 1)
        .as("p_brand"),
      concat(pick("pt1", col("id"), Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")),
        lit(" "), pick("pt2", col("id"), Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")),
        lit(" "), pick("pt3", col("id"), Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")))
        .as("p_type"),
      (h("ps", col("id"), 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + hd("pp", col("id")) * 1200, 2).as("p_retailprice")), "part")

    val orderDate = to_timestamp(date_add(lit("1995-01-01").cast("date"),
      h("od", col("id"), 2400).cast("int")))
    write(ids(nOrders).select(
      col("id").as("o_orderkey"),
      h("oc", col("id"), nCust).as("o_custkey"),
      pick("os", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      round(hd("op", col("id")) * 400000 + 900, 2).as("o_totalprice"),
      orderDate.as("o_orderdate"),
      pick("opr", col("id"),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), "orders")

    write(ids(nLine, 64).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      h("lp", col("id"), nPart).as("l_partkey"),
      h("ls", col("id"), nSupp).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (h("lq", col("id"), 50) + 1).cast("double").as("l_quantity"),
      round(hd("le", col("id")) * 100000 + 900, 2).as("l_extendedprice"),
      (h("ld", col("id"), 11).cast("double") / 100.0).as("l_discount"),
      (h("lt", col("id"), 9).cast("double") / 100.0).as("l_tax"),
      pick("lr", col("id"), Seq("A", "N", "R")).as("l_returnflag"),
      pick("ll", col("id"), Seq("F", "O")).as("l_linestatus"),
      to_timestamp(date_add(lit("1995-01-02").cast("date"),
        h("lsd", col("id"), 2490).cast("int"))).as("l_shipdate")), "lineitem")

    // events: ts is LONG nanoseconds (the driver's table is
    // TIMESTAMP(NANOS), which the repo reads via nanosAsLong — a long
    // column takes the identical read path)
    val tsBaseNs = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
    write(ids(nEvents).select(
      col("id").as("event_id"),
      (lit(tsBaseNs) + h("ets", col("id"), 30L * 86400) * 1000000000L +
        h("ens", col("id"), 1000000000L)).as("ts"),
      h("eu", col("id"), nUsers).as("user_id"),
      pick("ee", col("id"), Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      round(hd("ev", col("id")) * 100, 3).as("value"),
      concat(lit("""{"k":"""), h("epr", col("id"), 1000), lit("}")).as("props")),
      "events")

    // documents: base text = 20..79 vocab tokens; id%53==2 → exact dup of
    // id-2; id%37==1 → near-dup of id-1 (first token swapped); id%10==7 →
    // hot boilerplate prefix (corpus-hot shingles)
    def toksOf(idc: Column): Column =
      transform(sequence(lit(0), (h("dn", idc, 60) + 19).cast("int")),
        j => element_at(typedLit(Vocab),
          (pmod(xxhash64(lit("dw"), idc, j), lit(Vocab.size)) + 1).cast("int")))
    def textOf(idc: Column): Column = concat_ws(" ", toksOf(idc))
    val boiler = "terms of service apply to all content in this document"
    val text =
      when(pmod(col("id"), lit(53)) === 2 && col("id") >= 2, textOf(col("id") - 2))
        .when(pmod(col("id"), lit(37)) === 1 && col("id") >= 1,
          concat_ws(" ", lit("neardup"), concat_ws(" ", slice(toksOf(col("id") - 1), 2, 1000))))
        .when(pmod(col("id"), lit(10)) === 7,
          concat(lit(boiler + " "), textOf(col("id"))))
        .otherwise(textOf(col("id")))
    write(ids(nDocs).select(
      col("id").as("doc_id"),
      text.as("text"),
      pick("dl", col("id"), Seq("en", "en", "en", "en", "en", "en", "de", "fr", "es"))
        .as("lang"),
      concat(lit("src"), h("dsrc", col("id"), 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: 50-center mixture, center + 30% noise → clustered like
    // a real corpus (near-random vectors are ANN's worst case and the
    // wrong shape to bench against)
    val center = pmod(col("id"), lit(50))
    val embedding = transform(sequence(lit(0), lit(63)), i =>
      ((pmod(xxhash64(lit("ec"), center, i), lit(2001)).cast("double") / 1000.0 - 1.0) +
        (pmod(xxhash64(lit("en"), col("id"), i), lit(2001)).cast("double") / 1000.0 - 1.0) * 0.3)
        .cast("float"))
    write(ids(nVecs).select(
      col("id").as("vec_id"),
      embedding.as("embedding"),
      h("elb", col("id"), 10).cast("int").as("label")), "embeddings")

    println(s"done: $outDir (scale=$scale)")
    spark.stop()
  }
}
