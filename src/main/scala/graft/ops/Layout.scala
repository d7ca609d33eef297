package graft.ops

import graft.engine.SourceRegistry
import graft.functions.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators — the write-side levers that make 100 TB
  * reads cheap. A parquet lake prunes row groups by min/max stats, but
  * stats only help when the data is CLUSTERED on the filtered columns;
  * sorting clusters one column and destroys the other. Z-ordering
  * interleaves the bits of several keys so rows close in ANY filtered
  * dimension land close on disk, and min/max pruning works for every
  * dimension at once (the Delta/Iceberg OPTIMIZE ZORDER primitive). */
object Layout {

  /** Morton (Z-curve) value of two non-negative integer keys: bit i of
    * `x` lands at position 2i, bit i of `y` at 2i+1. `bits` per key ≤ 31
    * (the z fits a long). Static bit positions → a flat chain of
    * codegen'd shift/mask terms, no UDF. Keys wider than `bits` are
    * masked (callers normalize or bucket first — interleaving cares
    * about locality, not exact magnitudes). */
  def zValue(x: Column, y: Column, bits: Int = 21): Column =
    zValueN(Seq(x, y), bits)

  /** Morton (Z-curve) value of k ≥ 2 non-negative integer keys — the
    * N-ary generalization Delta's `OPTIMIZE ZORDER BY (a, b, c, …)`
    * takes: bit i of key j lands at position k·i + j, so the code's
    * high bits cycle through every key's high bits and sorted z-ranges
    * confine ALL keys at once (each contiguous 1/2^k of the code space
    * is an orthant of key space). `k·bits` must fit a long (≤ 63);
    * static positions → a flat chain of codegen'd shift/mask terms, no
    * UDF. Keys wider than `bits` are masked (callers normalize or
    * bucket first — interleaving cares about locality, not exact
    * magnitudes). */
  def zValueN(keys: Seq[Column], bits: Int = 21): Column = {
    require(keys.size >= 2, s"zValueN needs >= 2 keys: ${keys.size}")
    require(bits >= 1 && bits <= 31, s"bits out of [1,31]: $bits")
    val k = keys.size
    require(k * bits <= 63,
      s"$k keys x $bits bits = ${k * bits} interleaved bits exceed a long (63)")
    val terms = (0 until bits).flatMap { i =>
      keys.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c.cast("long"), i).bitwiseAND(1L), k * i + j)
      }
    }
    terms.reduce(_.bitwiseOR(_))
  }

  /** Cluster `df` on the Z-curve of (x, y) into `numPartitions` output
    * partitions: range-partition by z (so partition boundaries are
    * contiguous z-ranges — each output file covers a compact rectangle
    * union of key space) and sort within each (so row-group stats
    * narrow further inside the file). One shuffle, paid once at write
    * time; every later scan filtering on EITHER key prunes files by
    * footer stats. */
  def zorder(df: DataFrame, x: Column, y: Column, numPartitions: Int,
      bits: Int = 21): DataFrame =
    zorderN(df, Seq(x, y), numPartitions, bits)

  /** [[zorder]] over k ≥ 2 keys (Delta's `OPTIMIZE ZORDER BY (a,b,c)`):
    * one range-partition + in-partition sort on the [[zValueN]] code.
    * Same single shuffle as the 2-key form — adding dimensions costs
    * nothing at write time, it only divides the per-key resolution
    * (bits ≤ 63/k), which is the same trade Delta makes. */
  def zorderN(df: DataFrame, keys: Seq[Column], numPartitions: Int,
      bits: Int = 21): DataFrame =
    df.withColumn("__z", zValueN(keys, bits))
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")

  /** Hilbert-curve index of two non-negative integer keys — the
    * locality-preserving alternative to [[zValue]] (what Iceberg's
    * hilbert sort-order and Databricks liquid clustering use).
    * Consecutive Hilbert indices are always grid-adjacent, so a sorted
    * index range covers a compact blob of (x, y) space with no
    * quadrant-seam jumps; at 100 TB that is strictly fewer parquet
    * files whose footer stats intersect a 2-D range predicate. Codegen'd
    * O(bits) loop ([[graft.functions.HilbertIndex]]). Keys wider than
    * `bits` are masked, as in [[zValueN]]. */
  def hilbertValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits out of [1,31]: $bits")
    Native("graft_hilbert", x.cast("long"), y.cast("long"), lit(bits))
  }

  /** Cluster `df` on the Hilbert curve of (x, y): one range-partition +
    * in-partition sort on the [[hilbertValue]] code — the same single
    * write-time shuffle as [[zorder]], better worst-case 2-D locality
    * per output file. */
  def hilbertOrder(df: DataFrame, x: Column, y: Column, numPartitions: Int,
      bits: Int = 16): DataFrame = {
    df.withColumn("__h", hilbertValue(x, y, bits))
      .repartitionByRange(numPartitions, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
  }

  /** Hive-partitioned lake write: one directory per distinct value tuple
    * of `partitionCols` (`dir/lang=en/...`), the FIRST layout lever at
    * 100 TB — a reader filtering on a partition column never opens, lists
    * into, or footers the other directories (partition pruning happens in
    * the file index, before any I/O). Choose low-cardinality columns the
    * workload actually filters on (lang, source, date); high-cardinality
    * partitioning recreates the small-file debris [[compact]] exists to
    * fix. Pruning is plan-guarded in PlanQualitySpec (PartitionFilters
    * reaches the scan). */
  def writePartitioned(df: DataFrame, dir: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned needs partition columns")
    df.write.partitionBy(partitionCols: _*)
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
  }

  /** Per-side stats of a [[compact]] run (driver-side file LISTING only —
    * one entry per file, the same bounded metadata Delta's OPTIMIZE
    * reads; no data bytes touch the driver). */
  final case class CompactionStats(filesBefore: Long, bytesBefore: Long,
      filesAfter: Long, bytesAfter: Long)

  /** OPTIMIZE (file compaction): rewrite a parquet directory so files
    * land near `targetFileBytes` — the bin-packing half of Delta/Iceberg
    * OPTIMIZE next to [[zorder]]'s clustering half. Small-file debris is
    * the natural end state of streaming ingest and frequent MERGEs, and
    * at 100 TB it kills scans twice: task-count explosion (one task per
    * tiny split) and footer/open overhead per file.
    *
    * Spark-first, ZERO-SHUFFLE plan: the packing IS the scan. Setting
    * `spark.sql.files.maxPartitionBytes = targetFileBytes` with
    * `openCostInBytes = 0` for the read makes Spark's own
    * FilePartition planner greedy-bin-pack the input files into
    * ~target-sized read splits; writing without any repartition emits
    * exactly one output file per split. Many-small-files → merged bins;
    * an oversize file → SPLIT at row-group boundaries (parquet is
    * splittable) — both directions converge on the target with no
    * exchange, no sort, no driver data path. (Compressed input bytes
    * stand in for output size — the Delta heuristic; codecs match so the
    * estimate is tight.) The confs are set only for the duration of the
    * action and restored after.
    *
    * Content-preserving by construction: the job is scan → write with no
    * transformation. Row ORDER across files changes (that is the point);
    * pair with [[zorder]] first when scan locality on keys matters. */
  def compact(spark: org.apache.spark.sql.SparkSession, inputDir: String,
      outputDir: String, targetFileBytes: Long): CompactionStats = {
    require(targetFileBytes >= (1L << 16),
      s"targetFileBytes $targetFileBytes is below 64 KiB — compacting to " +
        "files smaller than a parquet footer's working set makes scans worse")
    def listStats(dir: String): (Long, Long) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L; var bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
      }
      (n, bytes)
    }
    val (nBefore, bBefore) = listStats(inputDir)
    require(nBefore > 0, s"compact: no parquet files under $inputDir")
    // Spark's actual split size is min(maxPartitionBytes,
    // max(openCostInBytes, totalBytes / minPartitionNum)), and
    // minPartitionNum defaults to the core count — so without pinning it
    // a wide driver (local[32] on a small table, or a 1000-core cluster
    // on a medium one) silently shrinks splits to totalBytes/cores and
    // compaction degenerates to one-file-per-input-file. Pin it to 1 so
    // the output layout is a pure function of targetFileBytes, never of
    // cluster width — an OPTIMIZE whose file sizes depend on how many
    // cores ran it is wrong at any scale.
    val pinned = Seq("spark.sql.files.maxPartitionBytes" -> targetFileBytes.toString,
      "spark.sql.files.openCostInBytes" -> "0", "spark.sql.files.minPartitionNum" -> "1")
    // restore the explicitly set confs exactly: a default left behind
    // as an explicit setting would still change `conf.getAll`
    val conf = spark.conf
    val explicit = conf.getAll
    val before = pinned.map { case (k, _) => k -> explicit.get(k) }
    try {
      pinned.foreach { case (k, v) => conf.set(k, v) }
      SourceRegistry.parquet(spark, inputDir).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(outputDir)
    } finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    val (nAfter, bAfter) = listStats(outputDir)
    CompactionStats(nBefore, bBefore, nAfter, bAfter)
  }

  /** File-skipping outcome of a [[scanPruned]]: how many data files the
    * manifest ruled out before the scan was planned. */
  final case class PruneStats(filesTotal: Long, filesRead: Long)

  /** Write `df` to `dir` plus a per-file min/max manifest for `statCol`
    * at `dir`_manifest — the data-skipping half of a Delta/Iceberg
    * table, re-expressed for a bare parquet lake. The manifest build
    * scans ONLY the stat column (column pruning: footer + one column's
    * pages), grouped by `_metadata.file_path`, and the manifest itself
    * is one row per FILE — at 100 TB with 1 GB files that is ~100 k rows,
    * metadata-sized. Pair with `repartitionByRange` on the stat column at
    * write time so file ranges are disjoint and skipping is sharp. */
  def writeWithManifest(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, dir: String, statCol: String): Unit = {
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    SourceRegistry.parquet(spark, dir)
      .groupBy(col("_metadata.file_path").as("file_path"))
      .agg(min(col(statCol)).as("min_v"), max(col(statCol)).as("max_v"))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(dir + "_manifest")
  }

  /** Manifest-pruned range scan: read only the files whose [min,max]
    * stat interval intersects [lo,hi], then apply the exact predicate.
    * The manifest filter happens BEFORE scan planning, so skipped files
    * are never opened (vs parquet row-group stats, which still pay
    * per-file open+footer) — at 100 TB a selective range touches a few
    * files instead of listing-and-opening all of them. The collect is
    * manifest-sized (one row per surviving file — the same bounded
    * metadata a Delta/Iceberg planner reads); results are identical to
    * a full filtered scan because the predicate is re-applied exactly. */
  def scanPruned(spark: org.apache.spark.sql.SparkSession, dir: String,
      statCol: String, lo: Long, hi: Long): (DataFrame, PruneStats) = {
    require(lo <= hi, s"empty stat range [$lo,$hi]")
    val man = SourceRegistry.parquet(spark, dir + "_manifest")
    val keep = man.filter(col("max_v") >= lo && col("min_v") <= hi)
      .select(col("file_path")).collect().map(_.getString(0))
    val total = man.count()
    val pred = col(statCol) >= lo && col(statCol) <= hi
    val df =
      if (keep.isEmpty) SourceRegistry.parquet(spark, dir).filter(pred).limit(0)
      else spark.read.parquet(keep.toIndexedSeq: _*).filter(pred)
    (df, PruneStats(total, keep.length))
  }

  /** Outcome of a [[vacuum]]: directory file counts before, live (in
    * the manifest), and deleted. */
  final case class VacuumStats(filesBefore: Long, filesLive: Long,
      filesRemoved: Long)

  /** VACUUM for a manifest-tracked parquet directory (see
    * [[writeWithManifest]]): delete every data file under `dir` that the
    * manifest does not reference and whose modification time is at
    * least `minAgeMs` old — the debris left by failed/zombie writers
    * and superseded compactions, which inflates listings and, for
    * readers that scan the directory rather than the manifest, corrupts
    * results. The Delta/Iceberg VACUUM primitive for a bare lake.
    *
    * Cost is pure filesystem metadata: one manifest read (one row per
    * live file) + one recursive listing; no data byte is read. The
    * retention window is the safety contract — an in-flight writer's
    * files are orphans until its manifest commit, so production callers
    * pass hours, not 0 (same rule as Delta's
    * `retentionDurationCheck`). Paths compare scheme-insensitively
    * (URI path component) so `file:/` vs `file:///` spellings of the
    * same file never mark a live file orphan. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, dir: String,
      minAgeMs: Long = 0L): VacuumStats = {
    val live = SourceRegistry.parquet(spark, dir + "_manifest")
      .select(col("file_path")).collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
      .toSet
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val cutoff = System.currentTimeMillis() - minAgeMs
    var before = 0L; var removed = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        before += 1
        val isLive = live.contains(f.getPath.toUri.getPath)
        if (!isLive && f.getModificationTime <= cutoff) {
          fs.delete(f.getPath, false)
          removed += 1
        }
      }
    }
    VacuumStats(before, live.size.toLong, removed)
  }

  /** Write `df` as a bucketed external table: rows hash-distributed into
    * `numBuckets` buckets on `bucketKey` and sorted by it within each
    * bucket file. THE pre-shuffle for repeated joins: two tables
    * bucketed the same way join with ZERO Exchange — at 100 TB the
    * dominant cost of a fact-fact join is the shuffle, and bucketing
    * pays it once at write time instead of once per query. The
    * `repartition(numBuckets, key)` before the write uses the same
    * Murmur3 hash as the bucket spec, so each task receives exactly one
    * bucket and the layout lands as ONE FILE PER BUCKET — which also
    * lets the scan report the per-bucket sort order (one sorted file
    * needs no merge), eliminating the join's Sort as well.
    *
    * The table registers in the session catalog under `table`
    * (dropped first if present) with data at `dir` — external, so the
    * parquet outlives the catalog entry. */
  def writeBucketed(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      dir: String, table: String, numBuckets: Int, bucketKey: String): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1: $numBuckets")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.repartition(numBuckets, col(bucketKey))
      .write.mode("overwrite")
      .bucketBy(numBuckets, bucketKey)
      .sortBy(bucketKey)
      .option("path", dir)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket keys. Catalyst reads
    * the bucket spec off both scans and plans a sort-merge join with NO
    * ShuffleExchange on either side (plan-guarded in BucketedJoinSpec);
    * with one sorted file per bucket the per-partition Sorts collapse
    * too. Broadcast is explicitly disabled via hints so the plan proves
    * the bucketing (a broadcast would also avoid the shuffle, but only
    * while one side stays small — bucketing is the fact-fact answer). */
  def bucketedJoin(spark: org.apache.spark.sql.SparkSession,
      leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable).hint("shuffle_merge")
    val r = spark.table(rightTable).hint("shuffle_merge")
    l.join(r, col(leftKey) === col(rightKey))
  }
}
