package graft.ops

import graft.functions.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable-sketch roll-ups (Apache DataSketches HLL via Spark's
  * `hll_sketch_agg` family). The 100 TB pattern this encodes: distinct
  * counts are NOT re-scanned per reporting scope — per-group (or
  * per-partition, per-day) sketches are built once in the corpus pass,
  * persisted as binary columns, and any coarser scope is answered by
  * register-wise union of the stored sketches. The union holds the same
  * register maxima a direct sketch of the combined data would, but its
  * ESTIMATE can differ slightly: a direct sketch answers from its HIP
  * accumulator, while a union result is "out of order" and falls back
  * to the composite estimator (DataSketches HLL documented behavior).
  * Both sit inside the sketch's error bounds — which is what the t22
  * gate pins against the exact twin. */
object Sketches {

  /** Per-group HLL distinct sketches with a merged grand total.
    *
    * Output: one row per group — (scope, n_exact, est, est_direct=null)
    * — plus a `__ALL__` row where `est` is the estimate of the UNION of
    * the per-group sketches and `est_direct` the estimate of a sketch
    * built directly over all rows: both within error bounds of the
    * exact union count (HIP vs composite estimator — see above).
    *
    * `n_exact` (a full distinct aggregation) rides along as the
    * verification twin — at 100 TB only the sketch column runs; the
    * exact twin is what a verifying engine can restate (the t09/t10
    * measured-error shape). */
  def hllRollup(df: DataFrame, group: Column, value: Column,
      lgK: Int = 12): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK out of DataSketches range: $lgK")
    val base = df.select(group.cast("string").as("scope"), value.as("__v"))
    val per = base.groupBy(col("scope")).agg(
      expr(s"hll_sketch_agg(__v, $lgK)").as("sk"),
      countDistinct(col("__v")).as("n_exact"))
    val perOut = per.select(col("scope"), col("n_exact"),
      expr("hll_sketch_estimate(sk)").as("est"),
      lit(null).cast("long").as("est_direct"))
    val merged = per.agg(expr("hll_union_agg(sk)").as("sku"))
    val direct = base.agg(expr(s"hll_sketch_agg(__v, $lgK)").as("skd"),
      countDistinct(col("__v")).as("n_exact"))
    val allOut = direct.crossJoin(merged).select(lit("__ALL__").as("scope"),
      col("n_exact"), expr("hll_sketch_estimate(sku)").as("est"),
      expr("hll_sketch_estimate(skd)").as("est_direct"))
    perOut.unionByName(allOut)
  }

  /** Relative standard error of an HLL sketch at `lgK` (DataSketches
    * HLL_8 bound, ≈1.04/√k) — for callers turning estimates into
    * error-bounded verdicts. */
  def hllRse(lgK: Int): Double = 1.04 / math.sqrt((1 << lgK).toDouble)

  /** Portable UNIFORM KMV hash of `value`: the top 13 hex digits of
    * `md5(salt:value)` as a 52-bit integer — bit-identical in any
    * engine with md5 (see [[graft.functions.KmvSketch.M]] for why not
    * the polyHash fold here). */
  def kmvHash(value: Column, salt: String): Column =
    Native("graft_md5_prefix52",
      concat(lit(salt + ":"), value.cast("string")))

  /** Per-group KMV distinct estimate: one aggregation pass with O(k)
    * state per group (only ≤k longs per partition cross the wire — no
    * distinct-shuffle of the data). Output per group:
    * (scope, m, kth_hash, est) where m = min(k, true distinct-hash
    * count); when m < k the sketch IS the distinct set and `est` is
    * exact; otherwise est = (k−1)·M DIV kth_hash — integer arithmetic,
    * exactly restatable as `ORDER BY hash LIMIT k` by any engine. */
  /** Distributed k-compatibility guard shared by the sketch merges:
    * evaluates to `out` when every input row's stored `k` is ≥ the
    * merge's `k`, RAISES (Spark assert_true → SparkRuntimeException)
    * otherwise. A sketch built with a smaller k has already discarded
    * entries the merged bottom-k needs — undetectable from the entry
    * set alone, which is exactly why `k` now rides in the state. A
    * NULL side (one-sided full-outer scope) passes the guard. */
  private def kGuarded(out: Column, k: Int, what: String,
      inputKs: Column*): Column = {
    val ok = inputKs.map(c => coalesce(c, lit(Int.MaxValue)) >= k)
      .reduce(_ && _)
    when(assert_true(ok, lit(s"$what: an input sketch was built with " +
      s"k smaller than the merge/rollup k=$k — its bottom-k state has " +
      s"already discarded entries the merged sketch needs; rebuild the " +
      s"inputs with k >= $k")).isNull, out)
  }

  /** (k, m, kth_hash, est) projection of a bottom-k sketch column `ks`
    * — shared by the batch and streaming forms so both derive the
    * estimate from the identical integer arithmetic. The state's `k`
    * column rides through to the output (and to any DuckDB restatement
    * of it). */
  private[graft] def kmvEstimate(df: DataFrame, k: Int): DataFrame = {
    val M = graft.functions.KmvSketch.M
    df.select(col("scope"), col("k"), size(col("ks")).cast("long").as("m"),
        when(size(col("ks")) < k, lit(null).cast("long"))
          .otherwise(element_at(col("ks"), k)).as("kth_hash"))
      .withColumn("est", when(col("kth_hash").isNull, col("m"))
        .otherwise(expr(s"${(k - 1).toLong * M}L DIV kth_hash")))
  }

  /** Per-group bottom-k sketch column — (scope, k, ks) — the storable/
    * mergeable artifact behind [[kmvDistinctPerGroup]]. `k` rides IN
    * the state so a later merge/rollup can verify compatibility (see
    * [[kmvMergeSketches]]) instead of silently biasing. */
  def kmvSketchPerGroup(df: DataFrame, group: Column, value: Column,
      k: Int, salt: String): DataFrame = {
    require(k >= 2 && k <= 1024, s"kmv needs k in [2, 1024] ((k-1)*M must fit a long): $k")
    df.select(group.cast("string").as("scope"),
        kmvHash(value, salt).as("__h"))
      .groupBy(col("scope"))
      .agg(graft.functions.KmvSketch.bottomK(k)(col("__h")).as("ks"))
      .select(col("scope"), lit(k).as("k"), col("ks"))
  }

  /** Merge two per-group sketch tables: bottom-k of the union per
    * scope (full outer on scope; a scope on one side passes through).
    * Exactly bottom-k(A ∪ B) by the union-closure property — so
    * incrementally-maintained sketches equal from-scratch ones, which
    * is what the e12 gate pins. Union closure holds only when BOTH
    * inputs were built with sketch size ≥ this `k` — ENFORCED from the
    * state's `k` column (the merge RAISES on a smaller-k input rather
    * than emitting a silently biased sketch). */
  def kmvMergeSketches(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val empty = array().cast("array<long>")
    a.select(col("scope"), col("k").as("__ka_k"), col("ks").as("ka"))
      .join(b.select(col("scope"), col("k").as("__kb_k"), col("ks").as("kb")),
        Seq("scope"), "full_outer")
      .select(col("scope"), lit(k).as("k"),
        kGuarded(slice(array_sort(array_union(
            coalesce(col("ka"), empty), coalesce(col("kb"), empty))), 1, k),
          k, "kmvMergeSketches", col("__ka_k"), col("__kb_k")).as("ks"))
  }

  def kmvDistinctPerGroup(df: DataFrame, group: Column, value: Column,
      k: Int, salt: String): DataFrame =
    kmvEstimate(kmvSketchPerGroup(df, group, value, k, salt), k)

  /** Cross-corpus overlap from two KMV sketches — the sketch-space
    * answer to d13's exact overlap join. Bottom-k sets are closed under
    * union, so bottom-k(A∪B) = bottom-k of the two sketches' union, and
    * within that window the Jaccard fraction is unbiased:
    * J ≈ n_common / m_u, |A∪B| ≈ (k−1)·M DIV kth_u, and
    * |A∩B| ≈ n_common·D_union DIV m_u. Two aggregation passes (one per
    * corpus, O(k) state), one broadcast-trivial 1-row cross join; every
    * output column is integer arithmetic on the two hash sets, so the
    * oracle is exact. Output: (m_union, n_common, d_union, inter_est). */
  def kmvOverlap(a: DataFrame, aVal: Column, b: DataFrame, bVal: Column,
      k: Int, salt: String): DataFrame = {
    require(k >= 2 && k <= 1024, s"kmv needs k in [2, 1024] ((k-1)*M must fit a long): $k")
    val M = graft.functions.KmvSketch.M
    val ska = a.select(kmvHash(aVal, salt).as("__h"))
      .agg(graft.functions.KmvSketch.bottomK(k)(col("__h")).as("ka"))
    val skb = b.select(kmvHash(bVal, salt).as("__h"))
      .agg(graft.functions.KmvSketch.bottomK(k)(col("__h")).as("kb"))
    ska.crossJoin(skb)
      .select(slice(array_sort(array_union(col("ka"), col("kb"))), 1, k).as("ku"),
        col("ka"), col("kb"))
      .select(size(col("ku")).cast("long").as("m_union"),
        size(filter(col("ku"), h =>
          array_contains(col("ka"), h) && array_contains(col("kb"), h)))
          .cast("long").as("n_common"),
        when(size(col("ku")) < k, size(col("ku")).cast("long"))
          .otherwise(expr(s"${(k - 1).toLong * M}L DIV " +
            s"element_at(ku, $k)")).as("d_union"))
      .withColumn("inter_est",
        expr("(n_common * d_union) DIV m_union"))
  }

  /** Misra-Gries heavy hitters over an item column: ONE bounded-state
    * aggregation pass (O(k) counters per partition, map-side combined
    * with the theorem-exact merge — see
    * [[graft.functions.FrequentItems]]) returning (item, cnt) with the
    * two-sided certificate cnt ≤ true ≤ cnt + (N − Σcnt)/(k+1). The
    * deterministic-guarantee complement to [[TextOps.cmsHeavyHitters]]'s
    * probabilistic CMS: MG bounds are worst-case, not with-high-
    * probability, and every item above the slack is guaranteed present.
    * Output: (item, cnt), largest counter first. */
  def mgHeavyHitters(df: DataFrame, item: Column, k: Int): DataFrame =
    df.select(item.cast("string").as("__i"))
      .agg(graft.functions.FrequentItems.topFreq(k)(col("__i")).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item").as("item"), col("e.cnt").as("cnt"))

  // ---------------------------------------------------------------
  // Mergeable quantile sketch: bottom-k coordinated sample
  // (see graft.functions.QuantileSample for the design rationale —
  // order/layout-independent exact-state alternative to KLL/t-digest,
  // DKW-bounded rank error)
  // ---------------------------------------------------------------

  /** Per-group quantile-sketch state: (scope, n, qs) where n is the
    * group's row count and qs the ascending array of the ≤k
    * lexicographically-smallest (md5-hash-of-key, value) pairs — ONE
    * aggregation pass, O(k) state per group, only ≤k pairs per
    * partition cross the wire. `key` must uniquely identify a row
    * (e.g. the table's primary key); the hash coordinates the sample
    * so sketches over disjoint row sets merge exactly.
    *
    * NULL semantics: rows whose key or value is NULL are EXCLUDED
    * before the aggregation — from the sample AND from `n` (the usual
    * SQL-aggregate treatment of nulls, and the contract a DuckDB twin's
    * DISTINCT restatement must mirror with an IS NOT NULL filter). The
    * typed bottom-k aggregator encodes (Long, Double) with primitive
    * non-nullable encoders, so an unfiltered NULL would fail the whole
    * aggregation at runtime rather than bias it. */
  def quantileSketchPerGroup(df: DataFrame, group: Column, value: Column,
      key: Column, k: Int, salt: String): DataFrame = {
    require(k >= 2 && k <= 65536, s"quantile sketch needs k in [2, 65536]: $k")
    df.select(group.cast("string").as("scope"),
        kmvHash(key, salt).as("__h"), value.cast("double").as("__v"))
      .where(col("__h").isNotNull && col("__v").isNotNull)
      .groupBy(col("scope"))
      .agg(count(lit(1)).as("n"),
        graft.functions.QuantileSample.bottomK(k)(col("__h"), col("__v")).as("qs"))
      .select(col("scope"), col("n"), lit(k).as("k"), col("qs"))
  }

  /** Merge two per-group sketch tables: bottom-k of the pair union per
    * scope, counts added (full outer on scope; one-sided scopes pass
    * through). EXACTLY the sketch a from-scratch build over the
    * combined rows produces (union closure of bottom-k sets) — the
    * lake-rollup property a05's exact group quantiles lack: per-day
    * sketches roll up to any coarser scope without re-scanning data.
    *
    * Union closure holds only when BOTH inputs were built with sketch
    * size ≥ this `k` — a sketch built with a smaller k' has already
    * discarded pairs the merged bottom-k would need, and a group with
    * fewer than k' distinct rows looks identical either way. The state
    * therefore carries `k`, and the merge ENFORCES compatibility from
    * it (RAISES on a smaller-k input instead of silently biasing). */
  def quantileSketchMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val empty = array().cast("array<struct<_1:bigint,_2:double>>")
    a.select(col("scope"), col("n").as("na"), col("k").as("__ka_k"),
        col("qs").as("qa"))
      .join(b.select(col("scope"), col("n").as("nb"), col("k").as("__kb_k"),
        col("qs").as("qb")), Seq("scope"), "full_outer")
      .select(col("scope"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L))).as("n"),
        lit(k).as("k"),
        kGuarded(slice(array_sort(array_union(
            coalesce(col("qa"), empty), coalesce(col("qb"), empty))), 1, k),
          k, "quantileSketchMerge", col("__ka_k"), col("__kb_k")).as("qs"))
  }

  /** Roll a sketch table up to a coarser scope (`newScope` is computed
    * from the existing columns, e.g. `lit("__ALL__")` or a prefix of
    * `scope`): counts summed, pair sets re-bottom-k'd — exact by union
    * closure, O(k·input-groups) intermediate, never touching base data.
    * This is the lake pattern: per-day sketches persist once; week /
    * month / all-time quantiles are rollups of stored state. */
  def quantileSketchRollup(sk: DataFrame, newScope: Column, k: Int): DataFrame = {
    // pin the (tiny, O(groups·k)) input state once: the count and
    // pair-set aggregations below each consume it, and without pinning
    // a computed `sk` (e.g. a fresh per-day build) would run twice.
    // Every input row's stored k is guarded ≥ this k (same contract as
    // the merge — enforced per row before any pair is dropped)
    val keyed = sk.select(newScope.cast("string").as("scope"), col("n"),
        kGuarded(col("qs"), k, "quantileSketchRollup", col("k")).as("qs"))
      .localCheckpoint()
    val ns = keyed.groupBy(col("scope")).agg(sum(col("n")).as("n"))
    val qs = keyed.select(col("scope"), explode(col("qs")).as("p"))
      .groupBy(col("scope"))
      .agg(graft.functions.QuantileSample.bottomK(k)(
        col("p._1"), col("p._2")).as("qs"))
    ns.join(qs, Seq("scope")).select(col("scope"), col("n"),
      lit(k).as("k"), col("qs"))
  }

  /** Quantile query over a sketch table: for each probability num/den
    * (exact rationals so both engines index identically), the sampled
    * value at 1-based index 1 + (num·(m−1)) DIV den of the
    * VALUE-sorted sample — the lower empirical quantile. Emits
    * (scope, n, k, m, q_<name>...); rank error vs the true quantile is
    * DKW-bounded by √(ln(2/δ)/(2m)). */
  def quantileSketchQuery(sk: DataFrame,
      probs: Seq[(String, Int, Int)]): DataFrame = {
    val vs = array_sort(transform(col("qs"), p => p("_2")))
    val m = size(col("qs")).cast("long")
    probs.foldLeft(
        sk.select(col("scope"), col("n"), col("k"), m.as("m"), vs.as("__vs"))) {
      case (d, (name, num, den)) =>
        // integer DIV so the index is exact (Column./ is double division)
        d.withColumn(s"q_$name", expr(
          s"element_at(__vs, CAST(1 + (${num}L * (m - 1)) DIV ${den}L AS INT))"))
    }.drop("__vs")
  }
}
