package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Partition-layout determinism — the meta-property the whole gate
  * suite's cross-engine hashing rests on: every gate's RESULT must be a
  * pure function of its input data, never of the session's parallelism
  * or shuffle fan-out. Each sampled gate runs in two sessions whose
  * `spark.sql.shuffle.partitions` differ (4 vs 13 — coprime, so no
  * accidental co-partitioning) and the sorted row fingerprints must be
  * identical. A gate that leaks float summation order, ntile placement,
  * or first()-nondeterminism into its output fails HERE, on 1k rows,
  * before it can fail the driver's oracle at sf0.01 — or silently
  * diverge on a 1000-executor cluster where the layout is never the
  * same twice.
  *
  * The sample spans the risk classes: decimal-summed scores (b01, t18),
  * window ranks with tie-breaks (f04), iterative fixpoints (g10),
  * driver-side quantized iteration (s19), distinct-value-window ranks
  * (a16), gram joins (d21), and an int128 distribution distance (pr05). */
class DeterminismSpec extends AnyFunSuite {

  private lazy val base = GraftSession.builder("local[4]", 4).getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private val sampled = Seq(
    "d02_ngram_jaccard", "f04_rfm", "t18_bigram_logprob", "a16_auc",
    "s19_pca_top_component", "d21_duplicated_spans", "ts15_theil_sen",
    "b01_bm25_scores", "g10_kcore", "pr05_t_closeness", "j03_key_gini",
    "d24_cut_spans",
    // round-16: auto-knob LSH with planted near-dups, bottom-k sample
    // state + rollup, synchronous-LPA fixpointless iteration
    "d07_embed_neardup_lsh", "t53_quantile_sketch", "e14_quantile_rollup",
    "g16_lpa_communities", "er05_sorted_neighborhood", "e15_ivf_upsert")

  private def fingerprint(spark: SparkSession, gate: String): Seq[String] = {
    val df = SparkEntry.queries(gate)(spark, sf)
    // row.toString renders doubles/decimals deterministically for equal
    // values; sorting removes row order, which no gate promises
    df.collect().map(_.toString).sorted.toSeq
  }

  for (gate <- sampled)
    test(s"$gate: result is independent of shuffle partitioning (4 vs 13)") {
      val a = fingerprint(base, gate)
      val alt = base.newSession()
      alt.conf.set("spark.sql.shuffle.partitions", "13")
      val b = fingerprint(alt, gate)
      assert(a.size == b.size,
        s"row count diverged under repartitioning: ${a.size} vs ${b.size}")
      val diff = a.zip(b).find { case (x, y) => x != y }
      assert(diff.isEmpty, s"first diverging row: $diff")
    }
}
