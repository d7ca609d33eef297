package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{col, least, greatest, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Guards the physical-plan properties that matter at 100 TB: filters
  * reach the parquet scan, scans read only needed columns, top-k plans as
  * TakeOrderedAndProject. A change that silently regresses plan shape
  * fails here even while results stay correct. */
class PlanQualitySpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** Runs `body` with `confs` set on the shared session, restoring each
    * key's previous value (or unsetting it) afterwards. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The sort-merge expectations below hold under Spark's default join
    * preference; graft's session lets the planner pick a shuffled-hash
    * join instead. */
  private val PreferSmj = "spark.sql.join.preferSortMergeJoin" -> "true"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q06: numeric filter pushed into the lineitem parquet scan") {
    val p = plan("q06_join4_mod")
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"),
      s"pushdown missing in:\n$p")
  }

  test("q06: lineitem scan reads only the needed columns") {
    val p = plan("q06_join4_mod")
    val scanLine = p.linesIterator.find(l =>
      l.contains("lineitem.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("l_orderkey") && scanLine.contains("l_quantity"))
    assert(!scanLine.contains("l_partkey") && !scanLine.contains("l_tax"),
      s"unneeded columns read: $scanLine")
  }

  test("q06: ORDER BY + LIMIT plans as TakeOrderedAndProject") {
    assert(plan("q06_join4_mod").contains("TakeOrderedAndProject"))
  }

  test("q06: small dimension stars broadcast — every star join is a BroadcastHashJoin") {
    // the 4-star chain joins lineitem against three dimension-sized stars;
    // under AQE with default thresholds all three must plan as broadcast
    // joins (a sort-merge here would shuffle the fact side three times)
    val p = plan("q06_join4_mod")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 3, s"expected 3 broadcast star joins, found $bhj:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"dimension star fell back to sort-merge:\n$p")
  }

  test("q22: timestamp filter pushed to the orders scan") {
    val p = plan("q22_date_filter")
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"), s"no timestamp pushdown in:\n$p")
  }

  test("sg01: SQL-gen path still pushes filters into the parquet scan") {
    // the generated SQL runs through temp views, but Catalyst must see
    // the same declarative shape: the psize comparison reaches the reader
    val p = plan("sg01_sqlgen_filter")
    assert(p.contains("GreaterThan(p_size,40)"), s"pushdown missing in:\n$p")
    val scanLine = p.linesIterator.find(l =>
      l.contains("part.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("p_retailprice"),
      s"unneeded columns read via SQL-gen: $scanLine")
  }

  test("sg03: SQL-gen ORDER BY + LIMIT plans as TakeOrderedAndProject") {
    assert(plan("sg03_sqlgen_join4_mod").contains("TakeOrderedAndProject"))
  }

  test("q32: FILTER IN pushes an In predicate into both parquet scans") {
    val p = plan("q32_filter_in")
    assert(p.contains("In(r_name, [ASIA,EUROPE])") || p.contains("In(r_name, [EUROPE,ASIA])"),
      s"region IN not pushed in:\n$p")
    assert(p.contains("Not(In(n_name,") || p.contains("Not(In(n_name ,"),
      s"nation NOT IN not pushed in:\n$p")
  }

  test("q37/q38: EXISTS plans as a semi join, NOT EXISTS as an anti join") {
    assert(plan("q37_exists").contains("LeftSemi"))
    assert(plan("q38_not_exists").contains("LeftAnti"))
  }

  test("p01: deterministic sample is a codegen filter over a pruned scan") {
    val p = plan("p01_stratified_sample")
    // keep/drop must happen in the scan stage — no shuffle, no join
    assert(!p.contains("Exchange"), s"sampling shuffled:\n$p")
    val scanLine = p.linesIterator.find(l =>
      l.contains("documents.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("text"), s"sampling read doc text: $scanLine")
  }

  test("p03: mixture sampling shuffles only the per-source partial aggregates") {
    val p = plan("p03_token_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"availability thresholds must broadcast back:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1,
      s"corpus stream must stay filter-only ($shuffles hash exchanges):\n$p")
  }

  test("t12: gopher quality rules are one scan stage — zero exchanges") {
    val p = plan("t12_gopher_quality")
    assert(!p.contains("Exchange"), s"quality rules shuffled:\n$p")
  }

  test("t14/t15/p04: clean + classify + resample all fuse into the scan stage — zero exchanges") {
    for (name <- Seq("t14_c4_line_clean", "t15_quality_classifier", "p04_weighted_sample")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name shuffled:\n$p")
    }
    // and the three compose into one still-shuffle-free pipeline stage
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = Seq.tabulate(64)(j => (((j * 37 + 11) % 21) - 10) / 10.0)
    val cleaned = graft.ops.TextOps.c4LineClean(docs, col("doc_id"), col("text"))
      .filter(col("c4_keep"))
      .withColumn("margin", graft.ops.TextOps.hashedLinearMargin(col("clean_text"), w))
      .filter(col("margin") > -5)
    val sampled = graft.ops.Pipeline.weightedSample(cleaned, col("doc_id"),
      least(greatest((col("margin") + 5) / 10, lit(0.0)), lit(1.0)), salt = "pq")
    val p = sampled.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"composed pipeline shuffled:\n$p")
  }

  test("l03: lang filter reaches the partitioned scan as a PartitionFilter (pruned before I/O)") {
    val df = SparkEntry.queries("l03_partitioned_lake")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the filter must appear in PartitionFilters (file-index pruning, no
    // directory even listed), NOT merely as a post-scan data filter
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("lang") && scanLine.contains("= en"),
      s"lang=en not pruned at the file index:\n$p")
    // and only the en directory's files are selected for the scan
    // (unwrap AQE: AdaptiveSparkPlanExec hides its subtree from collect)
    val files = df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    }.flatten.flatMap(_.selectedPartitions.toPartitionArray.map(_.urlEncodedPath))
    assert(files.nonEmpty && files.forall(_.contains("lang=en")),
      s"non-pruned files selected: ${files.filterNot(_.contains("lang=en")).take(3)}")
  }

  test("s12: the metadata filter of filtered ANN reaches the parquet scan") {
    // another suite may have cached the embeddings table in this shared
    // session — the scan would resolve to an InMemoryRelation and the
    // parquet PushedFilters line would not exist to assert on
    spark.catalog.clearCache()
    val p = plan("s12_filtered_ann")
    assert(p.contains("EqualTo(label,2)"), s"label pushdown missing:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q58: nested schema pruning — the scan reads meta.user_id only, not the whole struct") {
    val df = SparkEntry.queries("q58_nested_pruning")(spark, sf)
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(l => l.contains("nested_events") && l.contains("ReadSchema"))
      .getOrElse("")
    assert(scanLine.contains("user_id"), s"no pruned read: $scanLine")
    assert(!scanLine.contains("event_type") && !scanLine.contains("value"),
      s"whole struct read for a one-field query: $scanLine")
  }

  test("s11: outlier scoring is scan + TakeOrderedAndProject, no wide exchange of the corpus") {
    val df = SparkEntry.queries("s11_embed_outliers")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"no top-k plan:\n$p")
  }

  test("a07: profile computes all columns' measures in ONE scan of orders") {
    val df = SparkEntry.queries("a07_profile")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet"))
    assert(scans == 1, s"expected one orders scan, found $scans:\n$p")
  }

  test("t26/p10: drift and negative sampling plan without cartesian products") {
    for (name <- Seq("t26_tvd_drift", "p10_negative_samples")) {
      val p = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a cross product:\n$p")
    }
  }

  test("p02: shard packing broadcasts the bucket offsets, windows stay bucket-partitioned") {
    val p = plan("p02_pack_shards")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"offsets not broadcast:\n$p")
    // exactly one global (non-partitioned) sort feeds the tiny offsets
    // window; the corpus-side window must sort within bucket partitions
    val globalSorts = p.linesIterator.count(l =>
      l.trim.startsWith("Sort ") && l.contains("false, 0")) // global sort marker
    assert(globalSorts <= 1, s"corpus-wide global sort in:\n$p")
  }

  test("d12: bloom contamination report folds in the scan — zero exchanges, no join") {
    val p = plan("d12_contamination_report_bloom")
    // the per-doc hit count is a higher-order aggregate probing the
    // plan-literal bitset: scan → filter → project, nothing else
    assert(!p.contains("Exchange"), s"bloom report shuffled:\n$p")
    assert(!p.contains("Join"), s"bloom report joined:\n$p")
  }

  test("a23: bootstrap resample sums are map-side combined; only buffer partials shuffle") {
    // inspect the rep-mean stage directly — the public op checkpoints
    // it (by design: the CI rank branches must not re-run the pass),
    // which truncates the visible plan
    val df = spark.read.parquet(s"$sf/orders.parquet")
    val p = graft.ops.Profile.bootstrapRepMeans(df,
        org.apache.spark.sql.functions.col("o_totalprice"),
        org.apache.spark.sql.functions.col("o_orderkey"), 50, "pb1")
      .queryExecution.executedPlan.toString
    // ONE typed aggregation over the base rows: all B resample sums fold
    // into a 2B+1-long buffer per partition BEFORE the exchange (partial
    // mode), and the B×n exploded row set never exists — the whole scale
    // claim of the Poisson bootstrap
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      s"no map-side-combined typed aggregation:\n$p")
    assert(!p.toLowerCase.contains("generate explode") &&
      !p.toLowerCase.contains("posexplode(graft_poisson"),
      s"B×n explode resurfaced below the aggregation:\n$p")
    // the only exchange is the buffer gather to a single partition —
    // never a data-sized rep-keyed shuffle
    assert(p.contains("SinglePartition"), s"buffer gather exchange missing:\n$p")
    assert(!p.contains("hashpartitioning(rep"),
      s"rep-keyed data shuffle resurfaced:\n$p")
    // the scan reads only the value + id columns
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"scan not pruned:\n$p")
  }

  test("t45: KMV aggregation is partial-merged — only bottom-k buffers cross the wire") {
    val p = plan("t45_kmv_distinct")
    assert(p.contains("partial_bottomkdistinct"),
      s"KMV aggregator lost its partial phase (distinct-shuffle regression):\n$p")
    assert(!p.contains("FileScan parquet [l_partkey") ||
      p.contains("ReadSchema: struct<l_partkey:bigint,l_returnflag:string>"),
      s"scan not pruned to the two needed columns:\n$p")
  }

  test("j04: bloom probe-prune sits below the join, next to the scan") {
    val p = plan("j04_bloom_prejoin")
    assert(p.contains("graft_bloom_contains"),
      s"bloom prune filter missing from the probe side:\n$p")
    // the prune must be a plain filter in the probe's scan stage — i.e.
    // appear OUTSIDE any join operator's build side: the probe scan's
    // Filter node carries it before any Exchange/Broadcast boundary
    val pruneIdx = p.indexOf("graft_bloom_contains")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && pruneIdx > joinIdx,
      s"expected scan-side filter below the join in the plan tree:\n$p")
  }

  test("ts02: range count rides the prefix-sum path — broadcast grid lookups, no pair join") {
    val p = plan("ts02_range_count")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range aggregate degenerated to a pair-materializing plan:\n$p")
    // the only joins are the two interval-side lookups against the
    // broadcast cumulative grid; the points side never joins at all
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast grid lookups:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"prefix-sum path must never shuffle-join the inputs:\n$p")
    assert(p.contains("__slot"), s"slot grid missing:\n$p")
  }

  test("ts27: overlap count rides the dual prefix-sum path — broadcast grid lookups, no pair join") {
    val p = plan("ts27_overlap_count")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"overlap count degenerated to a pair-materializing plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast grid lookups:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"dual prefix-sum path must never shuffle-join the inputs:\n$p")
    assert(p.contains("__slot"), s"slot grid missing:\n$p")
  }

  test("ts24: interval join plans as an equi-join on the slot, never a nested loop") {
    val p = plan("ts24_interval_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to a nested loop:\n$p")
    assert(p.contains("__slot"), s"slot bucketing missing:\n$p")
  }

  test("t16/t18: corpus-statistics joins stay hash joins over pair counts, never nested loops") {
    for (name <- Seq("t16_tfidf_topk", "t18_bigram_logprob")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name degenerated to an all-pairs join:\n$p")
      assert(p.contains("partial_count") || p.contains("HashAggregate"),
        s"$name lost map-side partial aggregation:\n$p")
    }
  }

  test("ts04: interval-overlap join is a slot equi-join, never a nested loop") {
    val p = plan("ts04_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"overlap join degenerated to an all-pairs plan:\n$p")
    assert(p.contains("__slot"), s"slot bucketing missing:\n$p")
  }

  test("ts01: as-of join is one keyed window, not a range join") {
    val p = plan("ts01_asof_enrich")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of join fell back to a product:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected window formulation:\n$p")
  }

  test("ts22/ts23: nearest as-of fills run as RUNNING frames — no shrinking unbounded-following frame") {
    // first(...) over (currentRow, unboundedFollowing) is evaluated by
    // re-scanning the remainder of the partition per row (O(rows²) per
    // window partition — ts23 measured 40 s at sf2, smoke alpha 1.38);
    // the forward fill must stay spelled as last(...) over the reversed
    // ordering's running frame (round-16 optimization)
    for (g <- Seq("ts22_asof_nearest", "ts23_asof_nearest_sliced")) {
      val p = plan(g)
      assert(!p.contains("unboundedfollowing"),
        s"$g regressed to a shrinking unbounded-following window frame:\n$p")
    }
  }

  test("bucketed tables join with zero shuffle exchanges") {
    withConfs(PreferSmj) {
      import org.apache.spark.sql.functions.col
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      // a prior JVM's orphaned warehouse dir (location without catalog
      // entry) blocks CREATE — clear both forms
      for (t <- Seq("li_bkt", "o_bkt")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val dir = new java.io.File(s"spark-warehouse/$t")
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(dir)
        }
      }
      graft.engine.Sinks.bucketedTable(li, "li_bkt", "l_orderkey", 8)
      graft.engine.Sinks.bucketedTable(o, "o_bkt", "o_orderkey", 8)
      // merge hint: at test scale the optimizer would broadcast the tiny
      // side; at 100 TB (two fact tables) SortMergeJoin is the real plan —
      // the property under guard is that it consumes the bucket layout
      // with NO shuffle exchange on either side
      val joined = graft.engine.Sinks.table(spark, "li_bkt").hint("merge")
        .join(graft.engine.Sinks.table(spark, "o_bkt"),
          col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucket-aligned join still shuffles:\n$p")
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), s"scan ignored the bucket layout:\n$p")
      assert(joined.count() ==
        li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    }
  }

  test("l11: Layout bucketed join — zero Exchange, bucketed scans, one file per bucket") {
    withConfs(PreferSmj) {
      val root = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
      val o = spark.read.parquet(s"$sf/orders.parquet")
      val c = spark.read.parquet(s"$sf/customer.parquet")
      graft.ops.Layout.writeBucketed(spark, o, s"$root/o", "pq_bkt_orders", 8, "o_custkey")
      graft.ops.Layout.writeBucketed(spark, c, s"$root/c", "pq_bkt_customer", 8, "c_custkey")
      val j = graft.ops.Layout.bucketedJoin(spark,
        "pq_bkt_orders", "pq_bkt_customer", "o_custkey", "c_custkey")
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), s"scan ignored the bucket layout:\n$p")
      // repartition-by-bucket-hash before the write → at most one file per
      // bucket (empty buckets write none) — the layout that lets a future
      // sorted-scan skip the per-partition Sort too
      val files = new java.io.File(s"$root/o").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length <= 8 && files.nonEmpty, s"${files.length} files")
      assert(j.count() == o.join(c, col("o_custkey") === col("c_custkey")).count())
    }
  }

  test("sg25: the closure lowering executes as a native UnionLoop, not a fallback") {
    val p = plan("sg25_sqlgen_path_plus")
    assert(p.contains("UnionLoop"), s"recursive CTE did not plan as UnionLoop:\n$p")
  }

  test("engine path: a star join over bucketed-layout entities skips both exchanges") {
    import graft.fixtures.TpchLake
    // bucketed twins of customer (by its id) and orders (by its customer
    // FK) — the join key of the 2-star shape — same bucket count
    for (t <- Seq("cust_bkt", "ord_bkt")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(dir)
      }
    }
    graft.engine.Sinks.bucketedTable(
      spark.read.parquet(s"$sf/customer.parquet"), "cust_bkt", "c_custkey", 8)
    graft.engine.Sinks.bucketedTable(
      spark.read.parquet(s"$sf/orders.parquet"), "ord_bkt", "o_custkey", 8)
    // declare the layout in the lake config: same mappings, the two
    // entities' sources carry the bucketed_table option
    val (m, c0) = TpchLake.lake(sf)
    val c = c0.copy(sources = c0.sources.map { s =>
      if (s.source.endsWith("/customer.parquet"))
        s.copy(options = s.options + ("bucketed_table" -> "cust_bkt"))
      else if (s.source.endsWith("/orders.parquet"))
        s.copy(options = s.options + ("bucketed_table" -> "ord_bkt"))
      else s
    })
    val q = graft.sparql.SparqlParser.parse(
      "PREFIX g: <http://graft.io/schema/>\n" +
        """SELECT ?cn ?tp WHERE {
          |  ?o g:customer ?c . ?o g:totalprice ?tp .
          |  ?c g:custName ?cn .
          |}""".stripMargin)
    // at test scale the optimizer would broadcast the tiny side; force
    // the SMJ the same join gets at 100 TB so the guarded property is
    // the bucket layout being consumed, not the broadcast shortcut
    withConfs(PreferSmj, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = graft.engine.GraftEngine.executeParsed(spark, q, m, c)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"engine-path bucketed join still shuffles:\n$p")
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), s"scan ignored the bucket layout:\n$p")
      // and the result equals the plain-path run
      val plain = graft.engine.GraftEngine.executeParsed(spark, q, m, c0)
      assert(df.collect().map(_.mkString("|")).sorted.toSeq ==
        plain.collect().map(_.mkString("|")).sorted.toSeq)
    }
  }

  test("s05/s08: IVF kNN join routes via codegen'd top-clusters — no routing window or join") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.ops.Similarity.knnJoinIvf(e, e, col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), k = 3, nListsOpt = Some(16), nProbeOpt = Some(4))
    val p = df.queryExecution.executedPlan.toString
    // the rejected formulation planned crossJoin(broadcast cents) — a
    // BroadcastNestedLoopJoin inflating |q|×nLists rows — plus a SECOND
    // window (row_number routing) before the rank window
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"routing degenerated to a product join:\n$p")
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows == 1, s"expected ONLY the rank window, found $windows:\n$p")
    assert(p.contains("graft_top_clusters") || p.contains("Generate explode"),
      s"codegen'd routing explode missing:\n$p")
  }

  test("s09: PQ ADC scan is codes-only TakeOrdered; re-rank joins broadcast, no shuffle") {
    val p = plan("s09_pq_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"ADC candidate selection must be a per-partition heap top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"re-rank must broadcast the tiny candidate set:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"PQ query path must not shuffle the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"re-rank degraded to a sort-merge join:\n$p")
  }

  test("s10: SQ8 scan is TakeOrdered over byte codes; re-rank broadcasts, no shuffle") {
    val p = plan("s10_sq8_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"int8 candidate selection must be a per-partition heap top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"re-rank must broadcast the tiny candidate set:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"SQ8 query path must not shuffle the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"re-rank degraded to a sort-merge join:\n$p")
  }

  test("s01: brute-force top-k has no shuffle exchange") {
    val df = SparkEntry.queries("s01_cosine_topk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in top-k scan:\n$p")
  }

  test("s16: both matryoshka stages are heap top-ks; the corpus never shuffles") {
    val p = plan("s16_matryoshka_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"funnel stages must plan as per-partition heap top-k:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"matryoshka funnel must not shuffle the corpus:\n$p")
  }

  test("t33/t35: sentence stats and readability fuse into the scan — zero exchanges") {
    for (g <- Seq("t33_sentence_stats", "t35_readability")) {
      val p = plan(g)
      assert(!p.contains("Exchange"), s"$g must be scan-stage only:\n$p")
    }
  }

  test("f07: transition matrix reuses the user partitioning — window and first agg share one exchange") {
    val p = plan("f07_markov")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    // window on user + cell aggregate + row-normalizing window over cells:
    // 3 exchanges max, all on cell/log keys — never more
    assert(exchanges <= 3, s"unexpected exchange count $exchanges:\n$p")
  }

  test("p13/p14: mixture and allocation totals broadcast — no sort-merge on 1-row tables") {
    for (g <- Seq("p13_temperature_mix", "p14_neyman_alloc")) {
      val p = plan(g)
      assert(!p.contains("SortMergeJoin"),
        s"$g: 1-row normalizer joins must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$g: literal totals must ride a broadcast nested loop, not a cartesian:\n$p")
    }
  }

  test("a19: pass@k is one keyed aggregate — single exchange, no window, pruned scan") {
    val p = plan("a19_pass_at_k")
    assert(!p.contains("Exchange SinglePartition"),
      s"pass@k must not serialize the sample log:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"pass@k is one map-side-combined agg — exactly one shuffle:\n$p")
    assert(!p.contains("WindowExec"), s"no rank pass belongs here:\n$p")
    val scan = p.linesIterator.find(l =>
      l.contains("events.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("event_id") && scan.contains("user_id")
      && !scan.contains("props") && !scan.contains("value"),
      s"scan must read only the two id columns:\n$scan")
  }

  test("a21: conformal windows stay partitioned by group — no single-partition exchange") {
    val p = plan("a21_conformal_threshold")
    assert(!p.contains("Exchange SinglePartition"),
      s"per-group rank windows must not serialize:\n$p")
  }

  test("a22: fleiss windows partition by item; only the final 1-row agg is global") {
    val p = plan("a22_fleiss_kappa")
    // the cells->stats/pe reduction is 1-row output: exactly those two
    // global aggregates may SinglePartition; the per-item rank must not
    val singles = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(singles <= 2, s"item rank window must stay partitioned:\n$p")
    assert(p.contains("Exchange hashpartitioning"),
      s"expected the per-item keyed exchange:\n$p")
  }
}
