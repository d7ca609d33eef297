package graft.ops

import graft.functions.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shuffle-join skew tools.
  *
  * At 100 TB one hot join key (the null-ish user, the default date, the
  * crawler's favourite URL host) lands every matching probe row in ONE
  * reducer task and the stage runs at the speed of that straggler. AQE's
  * runtime skew-join split (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default) is the first-line fix — it re-splits oversized partitions
  * after the shuffle is materialized, costs nothing when skew is absent,
  * and needs no replication. Explicit salting remains the tool for the
  * layouts AQE cannot rewrite: a skewed key arriving through a bucketed
  * (zero-Exchange) scan AQE won't re-split, skew inside a single
  * stream-static join micro-batch, or a deliberately pinned
  * shuffle-partition count. */
object Joins {

  /** Inner equi-join with the probe side's hot keys spread over `salts`
    * reducer partitions: each probe row gets a deterministic salt in
    * [0, salts) hashed from `probeSaltBy` (any column set that varies
    * WITHIN a join key — row identity, a line number; never the key
    * itself), the build side is replicated ×salts with every salt value,
    * and the join runs on (key, salt). A key holding N probe rows thus
    * shuffles as `salts` groups of ≈N/salts rows instead of one group of
    * N. Row-identical to `probe.join(build, key)` — spec-asserted.
    *
    * Cost model: build-side shuffle volume multiplies by `salts` (probe
    * volume is unchanged), so size `salts` to the straggler ratio being
    * fixed — 8–32 covers task-time skews up to ~30× at one extra copy
    * of the (smaller) build side per salt. The salt is appended to the
    * shuffle key, not the row count: no correctness interaction with
    * AQE, which still coalesces/splits the salted partitions freely. */
  def saltedEquiJoin(probe: DataFrame, build: DataFrame, key: String,
      probeSaltBy: Column, salts: Int = 16): DataFrame = {
    require(salts > 0, "salts must be positive")
    val p = probe.withColumn("__salt",
      pmod(xxhash64(lit("saltj"), probeSaltBy), lit(salts)).cast("int"))
    val b = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1)).cast("array<int>")))
    p.join(b, Seq(key, "__salt")).drop("__salt")
  }

  /** Inner equi-join with the probe side Bloom-pruned BEFORE its shuffle:
    * a [[graft.functions.BloomSet]] over the build side's distinct key
    * hashes is folded into the plan as a literal, and a codegen'd
    * `graft_bloom_contains` filter drops non-joining probe rows at the
    * SCAN stage — so at 100 TB the rows that would shuffle only to fail
    * the join never cross the wire. Row-identical to
    * `probe.join(build, key)`: Bloom sets have no false negatives, and
    * the ≈fpp false positives that survive the filter are removed by
    * the join itself (the filter is an optimization, never a semantic).
    *
    * When to reach for it: the join is selective (most probe rows miss)
    * and the build side's KEY SET is bounded — dimension-sized, or a
    * key-distinct collapse of a bigger table — the same driver-side
    * boundedness contract as the decontamination gates' eval sets. For
    * build sides small enough to broadcast outright, Spark's own
    * broadcast join already avoids the probe shuffle; this is the tool
    * for the band between "broadcastable rows" and "collectable keys"
    * (a 100M-key set is an 8·10⁸-bit ≈ 100 MB literal at fpp 1e-2 —
    * size fpp to the key count). Spark's AQE runtime bloom
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) makes the same
    * move adaptively; this explicit form guarantees it, pins the fpp,
    * and survives plans AQE won't rewrite. */
  def bloomPrunedJoin(probe: DataFrame, build: DataFrame, key: String,
      fpp: Double = 1e-6): DataFrame = {
    require(fpp > 0 && fpp < 0.1, s"fpp must be in (0, 0.1), got $fpp")
    val spark = probe.sparkSession
    import spark.implicits._
    val hashes = build.select(xxhash64(col(key)).as("h")).distinct()
      .as[Long].collect()
    val n = math.max(1L, hashes.length.toLong)
    val m = graft.functions.BloomSet.optimalNumBits(n, fpp)
    val k = graft.functions.BloomSet.optimalNumProbes(n, m)
    val bits = graft.functions.BloomSet.build(hashes, m, k)
    probe.filter(Native("graft_bloom_contains",
        lit(bits), xxhash64(col(key)), lit(k)))
      .join(build, Seq(key))
  }
}
