package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, DecimalNode, DoubleNode, IntNode, LongNode, ObjectNode, TextNode}
import graft.fixtures.TpchLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Headline bench. Prints TWO JSON lines and writes ONE file:
  *  1. a full-detail line (per-query min+spread maps for sf0.1 and the
  *     sf1 subset, plus per sf0.1 gate the classes its reps compiled and
  *     the compile ms) goes FIRST on stdout and verbatim to
  *     `target/bench_detail.json`;
  *  2. the LAST stdout line is a small (≤~1 KB) headline:
  *     {"metric":"total","value":N,"unit":"sec","spread_total":…,
  *      "reps":…,"sf":…,"top5":{…},"sf1_total":…,"sf1_top5":{…},
  *      "detail":"target/bench_detail.json"}
  *     — NO full per-query maps, so any tail-window capture of stdout
  *     always retains a complete, parseable summary (rounds 4–6 each
  *     lost the total because the final line overflowed the driver's
  *     ~2 KB tail window).
  *
  * A run is four stages, wired by [[main]] in this order: [[Measure]]
  * (the sf0.1 sweep, the sf1 sweep, later the scale smoke),
  * [[adjudicate]] (the tripwire against [[Baseline]] plus its re-reps),
  * [[nextBaseline]] (pure) and [[report]] (pure). The order is part of the
  * artifact: the wall-clock budget decides which optional blocks are
  * skipped, so it is spent sweeps → adjudication → baseline write → smoke.
  *
  * Methodology (single-shot timings on a shared host swing ±2×):
  *  - the timing unit ([[time]]) is one [[Gates.run]] of the gate call
  *    plus FULL materialization to a noop sink (round 15; earlier rounds
  *    timed `.count()`, which Catalyst can prune hard enough to elide a
  *    hot branch entirely — totals before/after the switch are not
  *    comparable);
  *  - every invocation, timed or warm-up, goes through [[Gates.run]]:
  *    after the clock stops it unpersists what the call persisted
  *    (checkpoints included) and clears the CacheManager, so no query's
  *    timing depends on what ran before it, and a call that leaves
  *    threads, active queries or changed confs behind is FAILED
  *    (MicroBench times through the same function);
  *  - ≥3 interleaved passes (full query sweep per pass, passes
  *    back-to-back), reporting per-query MIN as the steady-state estimate
  *    and max−min as the spread — a large spread marks the number as
  *    host-contention-noisy rather than a real regression;
  *  - contention guard: any query whose spread exceeds its min (>100%
  *    relative noise) gets its passes re-run once, back-to-back; the
  *    recorded min is the best observation overall and the recorded
  *    spread is the re-run's (round 4 recorded d08 at 85 s with 145 s
  *    spread while a clean re-run measured 8.2 s);
  *  - before its sweep, every timed directory is byte-streamed through
  *    the OS page cache once and its derived fixtures and Derby table are
  *    provisioned, so no rep pays cold-disk I/O or fixture writes;
  *  - tripwire hits are steady-state-adjudicated in-run ([[AdjReps]]
  *    extra back-to-back reps, min wins); dissolved flags land in an
  *    "adjudicated" detail block, and a gate that STILL regresses keeps
  *    its prior baseline (no single-round ratchet) unless named in
  *    SPARK_GRAFT_REBASE;
  *  - if an sf1-scale directory exists, a join-dominated subset also runs
  *    there so shuffle-heavy behavior is measured where shuffles
  *    dominate, not just at sf0.1;
  *  - a hard wall-clock budget bounds the WHOLE run: optional blocks
  *    (contention re-runs, sf1 sweep, scale-smoke points, adjudication
  *    re-reps) are skipped loudly once elapsed time crosses it
  *    ("budget_skipped" on the detail line), so the two JSON lines always
  *    print inside the caller's external timeout — round 16's 32-core run
  *    died on that timeout (rc 124) with NO artifact at all.
  *
  * Environment (paths, the timeout guard, operator actions):
  *  - SPARK_GRAFT_SF_DIR (default: the sf0.1 test lake): the headline lake;
  *  - SPARK_GRAFT_SF1_DIR (default localdata/sf1): the sf1 sweep's lake;
  *  - SPARK_GRAFT_BENCH_REPS (default 3): passes per sweep;
  *  - SPARK_GRAFT_BENCH_BUDGET (default 2700 s): the wall-clock budget;
  *  - SPARK_GRAFT_REBASE (gate names, or ALL): accept those gates' new
  *    mins although they still regress;
  *  - SPARK_GRAFT_NO_DATAGEN=1: do not regenerate missing localdata.
  * Constants: [[AdjReps]] 3, [[SmokeCapSec]] 120 s, [[SmokeAlpha]] 1.15,
  * [[SmokeAdjReps]] 2. Every path Bench reads or writes besides the input
  * lakes (`bench_baseline.json`, `localdata/`, `target/bench_detail.json`)
  * resolves against the working directory.
  */
object Bench {

  type Query = (SparkSession, String) => DataFrame
  /** Per gate, in sweep order: (min over the passes, max − min). */
  type Timings = Seq[(String, (Double, Double))]

  /** Join/shuffle-dominated subset for the sf1 sweep: the multi-star
    * joins, agg+join pipelines, the dedup/text ops whose candidate
    * generation is the 100 TB risk surface, the embedding-LSH dedups,
    * and the end-to-end corpus pipeline composition.
    *
    * s05_knn_join_ivf is deliberately NOT here: its fixed 16/8 knobs
    * probe 50% of the corpus at any size — a documented anti-pattern
    * contrast gate (candidate volume n²/2, ~50 s of pure noise-amplifier
    * at sf1) whose correctness gate and sf0.1 timing remain; the
    * auto-knob configuration users should run at scale is timed as
    * s08_knn_join_ivf_auto. */
  private val Sf1Subset = Seq(
    "q04_join2", "q05_join3", "q06_join4_mod", "q14_agg_join_orderby",
    "q19_optional", "a01_revenue_decimal", "w01_topn_per_group",
    "w02_topn_aggregator", "d01_dedup_exact", "d02_ngram_jaccard",
    "d03_minhash_lsh", "d04_simhash_pairs", "d05_embed_neardup",
    "d06_dedup_rows", "d07_embed_neardup_lsh",
    "d08_ngram_jaccard_rarity", "d11_contamination_report",
    "d13_corpus_overlap", "t06_doc_freq", "t08_repetition",
    "st02_sessionize", "s08_knn_join_ivf_auto", "s09_pq_topk",
    "st06_stream_stream_join", "d14_semdedup", "d15_dedup_paragraphs",
    "s10_sq8_topk", "s01_cosine_topk", "t16_tfidf_topk", "ts04_interval_overlap",
    "t18_bigram_logprob",
    "c01_dedup_clusters", "p02_pack_shards", "e01_corpus_pipeline",
    "e02_training_mix_pipeline",
    "q42_path_plus", "q48_path_seeded", "ts01_asof_enrich", "ts02_range_count",
    "g01_pagerank", "w03_quality_deciles", "f01_funnel", "j01_salted_join",
    "ts05_event_features",
    // round-10 late additions whose cost is join/shuffle/state-bound
    "b01_bm25_scores", "g02_triangle_counts", "g03_ppr_seeds",
    "ts06_resample_ffill", "st11_stream_neardup",
    // round-12: the gram-join span ops (duplicated-key agg + join back
    // is the 100 TB surface), the k-core peel loop, and the PCA Gram
    "d21_duplicated_spans", "d23_contamination_spans", "g10_kcore",
    "s19_pca_top_component",
    // round-13: exact suffix-grouping dedup (the doubling ladder's
    // shuffles over the duplicated set are the 100 TB surface)
    "d25_longest_dup_spans",
    // round-14: hilbert scan-stage index, bloom-pruned join (scan
    // filter vs shuffle trade), HITS propagation joins, the B×-explode
    // bootstrap, AC keyword tagging, and the EM pattern collapse
    "l10_hilbert_order", "j04_bloom_prejoin", "g12_hits",
    "a23_poisson_bootstrap", "t47_keyword_tags", "er02_fellegi_sunter",
    // round-15: the capped pair fan-out (neighbor Jaccard) and the
    // bigram-explode × 3-table LM join are the new shuffle surfaces
    "g13_neighbor_jaccard", "t49_kneser_ney",
    // round-16: iterative LPA joins over the co-purchase projection and
    // the sorted-neighborhood total-order + bucket join
    "g16_lpa_communities", "er05_sorted_neighborhood",
    // round-17: ts24 keeps the pair-materializing interval join timed
    // at sf1 (ts02 moved to the near-free prefix-sum path), and the
    // sliced nearest as-of's (key, slice) windows + two-sided carry
    "ts24_interval_pairs", "ts23_asof_nearest_sliced",
    // round-18: overlap count on the dual-prefix-sum path (the ts04
    // contrast gate — same oracle, pair-free plan)
    "ts27_overlap_count")

  /** Corpus-pipeline scale smoke: the shuffle-heaviest ops one notch (and
    * five notches) past sf1, plus the fitted scaling exponent alpha
    * (slope of a log-log least-squares fit of time vs sf). Round 16 added
    * the heavy sf1 gates whose 100 TB claims rested on design argument
    * (d25 suffix-doubling ladder, ts02, g12 HITS joins, a23 B×-explode
    * bootstrap) so the argument becomes a measurement; round 18 added the
    * two heaviest sf1 gates (ts24, ts23) and the sf-scaled IVF-delete
    * maintenance batch (e16). */
  private val SmokeQs = Seq("e01_corpus_pipeline", "c01_dedup_clusters",
    "d07_embed_neardup_lsh", "d25_longest_dup_spans", "ts02_range_count",
    "g12_hits", "a23_poisson_bootstrap", "ts23_asof_nearest_sliced",
    "ts24_interval_pairs", "e16_ivf_delete", "ts27_overlap_count")

  /** Smoke gates whose output VOLUME grows with sf by design (per-pair
    * attributes): their scaling verdict is time-per-output-row, not wall
    * time — a fake "superlinear" from output growth must not trip the
    * adjudicator or read as a plan flaw. */
  private val OutputBoundSmoke = Set("ts24_interval_pairs")

  /** Extra back-to-back reps for each tripwire hit before it is reported. */
  private val AdjReps = 3

  /** Per-point smoke cap: once a point exceeds it, the larger sfs are
    * skipped (alpha still fits from the points taken) and the gate is
    * listed as capped. 120 s (r17): the wall-clock budget bounds the whole
    * run, so the cap no longer carries all runaway protection; at 120 the
    * heap-fixed d25 takes its ~50–100 s sf5 point and records a 3-point
    * alpha, while ts24's exponent-2 projection still stops its ~390 s sf5
    * point. */
  private val SmokeCapSec = 120.0

  /** A raw smoke alpha above this gets its points re-repped and refitted
    * on mins. 1.15 (r15 verdict item 1): the contention-faked alphas seen
    * so far (c01 1.285, d25 1.716, a23 1.352) all exceed it while genuine
    * steady-state alphas sit ≤ ~1.05. */
  private val SmokeAlpha = 1.15

  /** Re-reps per smoke point when the raw alpha trips [[SmokeAlpha]]. */
  private val SmokeAdjReps = 2

  private val DetailFile = "target/bench_detail.json"

  private def localdata(d: String): String = new java.io.File("localdata", d).getAbsolutePath

  /** Ensure the localdata scale dirs the sf1 sweep + scale smoke read
    * exist, regenerating any missing one via [[graft.tools.DataGen]]
    * (seeded hash generation — byte-identical across runs, so a regen
    * is equivalent to a persisted dir). Round 9's sweep silently
    * skipped because the driver ran in a workspace without localdata;
    * a missing scale point must cost a bounded regen (~1–2 min for the
    * sf1 lake, seconds for the sf2/sf5 corpus subsets), never a silent
    * hole in the bench artifact. Opt-out: SPARK_GRAFT_NO_DATAGEN=1
    * (prints the skip loudly). */
  private def ensureLocaldata(): Unit = {
    if (sys.env.get("SPARK_GRAFT_NO_DATAGEN").contains("1")) {
      System.err.println("[bench] SPARK_GRAFT_NO_DATAGEN=1: NOT regenerating " +
        "missing localdata; sf1 sweep / scale smoke may be skipped")
      return
    }
    // sf2/sf5 subsets carry the tables every smoke gate reads: the
    // corpus ops (documents, embeddings), lineitem/orders/supplier for
    // the round-16 smoke additions and events for ts23 — the 30M-row sf5
    // lineitem costs a bounded ~1 min one-time regen, paid only when the
    // dir is absent
    val smokeTables = "documents,embeddings,orders,lineitem,supplier,events"
    // probe on events: dirs generated before round 18 lack it, and a
    // missing table must trigger the (idempotent, deterministic) regen
    // exactly like a missing dir
    val jobs = Seq(
      "sf1" -> Array(localdata("sf1"), "1.0"),
      "sf2" -> Array(localdata("sf2"), "2.0", smokeTables),
      "sf5" -> Array(localdata("sf5"), "5.0", smokeTables))
    jobs.foreach { case (d, args) =>
      if (!new java.io.File(s"${args(0)}/events.parquet").exists()) {
        System.err.println(s"[bench] localdata/$d missing — regenerating (deterministic)")
        // a failed regen (disk, permissions) must not kill the whole
        // bench — the sf0.1 sweep is still the headline; the sf1/smoke
        // blocks then skip via their existing exists() filters, and the
        // cause is on stderr instead of a crash with no artifact at all
        try graft.tools.DataGen.main(args)
        catch { case e: Throwable =>
          System.err.println(s"[bench] localdata/$d regen FAILED: $e — " +
            "sf1 sweep / scale smoke will skip this dir")
        }
      }
    }
  }

  private val mapper = new ObjectMapper()

  /** A number as every Bench file and line writes it: 3 decimals, HALF_UP. */
  private def dec(d: Double): JsonNode =
    DecimalNode.valueOf(java.math.BigDecimal.valueOf(d).setScale(3, java.math.RoundingMode.HALF_UP))
  private def text(s: String): JsonNode = TextNode.valueOf(s)
  private def obj(fields: Iterable[(String, JsonNode)]): ObjectNode = {
    val o = mapper.createObjectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, v) }
    o
  }
  private def arr(items: Iterable[JsonNode]): ArrayNode = mapper.createArrayNode().addAll(items.asJavaCollection)
  private def decs(kvs: Iterable[(String, Double)]): ObjectNode = obj(kvs.map { case (k, v) => k -> dec(v) })

  /** The tripwire's memory, `bench_baseline.json` in the working
    * directory, rewritten by every run (committed with the round): per
    * gate the last min-of-reps (`queries`, `sf1_queries`) and up to 7
    * recent mins (`history`, `sf1_history`). The comparison is
    * min-of-reps vs min-of-reps — first-touch and contention noise live
    * in the spread, not the min. */
  final case class Baseline(sf: String, reps: Int,
      queries: Map[String, Double], sf1Queries: Map[String, Double],
      history: Map[String, List[Double]], sf1History: Map[String, List[Double]]) {

    /** Fields in declaration order (the sf1 blocks only when non-empty),
      * gates sorted, numbers as [[dec]], one trailing newline. */
    def json: String = {
      def mins(m: Map[String, Double]) = decs(m.toSeq.sortBy(_._1))
      def hists(m: Map[String, List[Double]]) =
        obj(m.toSeq.sortBy(_._1).map { case (n, vs) => n -> arr(vs.map(dec)) })
      val o = obj(Seq("sf" -> text(sf), "reps" -> IntNode.valueOf(reps), "queries" -> mins(queries)))
      if (sf1Queries.nonEmpty) o.set[JsonNode]("sf1_queries", mins(sf1Queries))
      o.set[JsonNode]("history", hists(history))
      if (sf1History.nonEmpty) o.set[JsonNode]("sf1_history", hists(sf1History))
      mapper.writeValueAsString(o) + "\n"
    }

    /** Only the gates in `valid`: a dropped gate's entry must not linger. */
    def restrict(valid: Set[String]): Baseline =
      copy(queries = queries.filter(e => valid(e._1)), sf1Queries = sf1Queries.filter(e => valid(e._1)),
        history = history.filter(e => valid(e._1)), sf1History = sf1History.filter(e => valid(e._1)))
  }

  object Baseline {
    val FileName = "bench_baseline.json"
    val Empty: Baseline = Baseline("", 0, Map.empty, Map.empty, Map.empty, Map.empty)

    def parse(text: String): Baseline = {
      val root = mapper.readTree(text)
      def entries(key: String): Seq[(String, JsonNode)] =
        Option(root.get(key)).toSeq.flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))
      def mins(key: String) = entries(key).map { case (n, v) => n -> v.asDouble() }.toMap
      def hists(key: String) =
        entries(key).map { case (n, v) => n -> v.elements().asScala.map(_.asDouble()).toList }.toMap
      Baseline(Option(root.get("sf")).fold("")(_.asText()), Option(root.get("reps")).fold(0)(_.asInt()),
        mins("queries"), mins("sf1_queries"), hists("history"), hists("sf1_history"))
    }

    /** The baseline in `dir` restricted to `valid`, or None without a file.
      * An unreadable file counts as an empty baseline (said on stderr). */
    def load(dir: String, valid: Set[String]): Option[Baseline] = {
      val f = new java.io.File(dir, FileName)
      if (!f.exists()) None
      else Some(try parse(java.nio.file.Files.readString(f.toPath)).restrict(valid)
        catch { case e: Exception =>
          System.err.println(s"[bench] $FileName unreadable, treated as empty: $e")
          Empty
        })
    }
  }

  /** A tripwire hit at dir label "sf0.1" or "sf1": `now` is the min that
    * regressed against the effective baseline `base`. */
  final case class Regression(name: String, base: Double, now: Double, dir: String)
  /** A tripwire hit that dissolved under the adjudication re-reps. */
  final case class Adjudicated(name: String, base: Double, raw: Double, steady: Double)
  /** The tripwire's result against an existing baseline file. */
  final case class Verdict(regressions: Seq[Regression], adjudicated: Seq[Adjudicated])

  /** The scale smoke. `alphas` are the adjudicated fits, `rawAlphas` and
    * `rawPoints` the single-shot ones of the gates that tripped
    * [[SmokeAlpha]]; `rows` holds per-point output rows of the
    * [[OutputBoundSmoke]] gates, whose alphas are per-row fits. */
  final case class Smoke(times: Seq[(String, Seq[(Double, Double)])],
      alphas: Map[String, Double], capped: Seq[String],
      rawAlphas: Map[String, Double], rawPoints: Map[String, Seq[(Double, Double)]],
      rows: Map[String, Seq[(Double, Long)]])

  /** Everything one run produced; the input of [[report]]. `codegen` is
    * per gate of `main` the codegen work summed over its timed reps. */
  final case class Run(sfDir: String, reps: Int, main: Timings,
      codegen: Seq[(String, GraftSession.Codegen)],
      sf1: Option[(String, Timings)], smoke: Option[Smoke],
      failures: Seq[(String, String)], verdict: Option[Verdict],
      budgetSec: Double, wallSec: Double, budgetSkipped: Seq[String])

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The timing unit, shared with MicroBench: the gate call plus its
    * noop sink, run by [[Gates.run]]. */
  private[graft] def time(spark: SparkSession, q: Query, dir: String): Gates.Outcome[Unit] =
    Gates.run(spark, q(spark, dir))(Gates.noop)

  /** Provision `dir`'s derived fixtures and Derby table, outside any timed
    * region. A dir without the TPC-H tables has none to provision; a gate
    * that needs them then fails on its own and is reported as failed. */
  private[graft] def provision(spark: SparkSession, dir: String): Unit =
    try TpchLake.provision(spark, dir, jdbc = true)
    catch { case e: Throwable =>
      System.err.println(s"[bench] fixture provisioning for $dir failed: $e")
    }

  /** Regressed: >2× the baseline AND past an absolute floor (0.25 s at
    * sf0.1, 1 s at the noisier sf1 sweep) — a 5 ms gate doubling to 10 ms
    * is jitter, not a regression. */
  private def regressed(now: Double, base: Double, dir: String): Boolean =
    now > 2 * base && now - base > (if (dir == "sf1") 1.0 else 0.25)

  /** Regression tripwire (r11 verdict item 5): each gate's min against its
    * effective baseline, worst first per dir. The effective baseline is
    * the variance band (r13 verdict item 2): max(committed,
    * median(history)) once ≥3 historical mins exist — a single lucky
    * quiet-host capture (c03's 1.418 s vs its 2.0–3.2 s norm) can then
    * never flag an unchanged code path, while a true regression stays loud
    * because still-regressed mins never enter the history. */
  private[graft] def tripwire(prior: Baseline, main: Timings, sf1: Option[Timings]): Seq[Regression] = {
    def hits(cur: Timings, base: Map[String, Double], hist: Map[String, List[Double]],
        dir: String): Seq[Regression] =
      cur.flatMap { case (n, (t, _)) =>
        base.get(n).map { b =>
          val h = hist.getOrElse(n, Nil)
          if (h.size >= 3) math.max(b, median(h)) else b
        }.filter(regressed(t, _, dir)).map(Regression(n, _, t, dir))
      }.sortBy(-_.now)
    hits(main, prior.queries, prior.history, "sf0.1") ++
      sf1.toSeq.flatMap(hits(_, prior.sf1Queries, prior.sf1History, "sf1"))
  }

  /** Steady-state adjudication BEFORE anything is reported (r12 verdict
    * item 2): every tripwire hit gets [[AdjReps]] extra back-to-back reps
    * in its dir and the verdict min is the best observation overall. Only
    * gates that still regress on that min are regressions; the dissolved
    * ones are listed so the re-rep is auditable, not silent. Three rounds
    * running, every sweep flag (d03, ts15, d02, e09, f01) dissolved under
    * exactly this re-rep. Over budget a hit ships unadjudicated. */
  private def adjudicate(m: Measure, prior: Baseline, main: Timings,
      sf1: Option[(String, Timings)], sfDir: String, queries: Map[String, Query]): Verdict = {
    val dissolved = mutable.LinkedHashMap.empty[String, Adjudicated]
    val regs = tripwire(prior, main, sf1.map(_._2)).flatMap { r =>
      val dir = if (r.dir == "sf1") sf1.fold(sfDir)(_._1) else sfDir
      val steady =
        if (m.overBudget(s"adj:${r.name}")) r.now
        else ((1 to AdjReps).flatMap(_ => m.time(r.name, queries(r.name), dir)) :+ r.now).min
      if (regressed(steady, r.base, r.dir)) Some(r.copy(now = steady))
      else { dissolved(r.name) = Adjudicated(r.name, r.base, r.now, steady); None }
    }
    Verdict(regs, dissolved.values.toSeq)
  }

  /** Next run's baseline: this run's mins and history — EXCEPT a
    * still-regressed gate, whose prior min carries forward and whose
    * history appends nothing, so the tripwire stays loud until the
    * regression is fixed or explicitly re-accepted by naming the gate in
    * `rebase` (r12 ADVICE: before this, one regressed round became the
    * next baseline and the gate went permanently quiet; and the median
    * band must never absorb a true regression into normalcy). History
    * keeps the last 7 mins. `rebase` containing ALL accepts every gate and
    * resets history to this run — only for deliberate methodology
    * migrations (round 15: count() → noop materialization), where the old
    * baselines measure a different unit. A skipped sf1 sweep (`sf1` None:
    * missing dir or budget) carries the prior sf1 blocks forward. Gates
    * that produced no min this run drop out. */
  def nextBaseline(sfDir: String, reps: Int, prior: Baseline, main: Timings,
      sf1: Option[Timings], regressions: Seq[Regression], rebase: Set[String]): Baseline = {
    val all = rebase("ALL")
    def held(dir: String): Set[String] =
      if (all) Set.empty else regressions.filter(_.dir == dir).map(_.name).toSet -- rebase
    def mins(cur: Timings, base: Map[String, Double], held: Set[String]) =
      cur.map { case (n, (t, _)) => n -> (if (held(n)) base.getOrElse(n, t) else t) }.toMap
    def hists(cur: Timings, hist: Map[String, List[Double]], held: Set[String]) =
      cur.map { case (n, (t, _)) =>
        val prev = if (all) Nil else hist.getOrElse(n, Nil)
        n -> (if (held(n)) prev else (prev :+ t).takeRight(7))
      }.toMap
    Baseline(sfDir, reps,
      mins(main, prior.queries, held("sf0.1")),
      sf1.fold(prior.sf1Queries)(mins(_, prior.sf1Queries, held("sf1"))),
      hists(main, prior.history, held("sf0.1")),
      sf1.fold(prior.sf1History)(hists(_, prior.sf1History, held("sf1"))))
  }

  /** The detail line and the headline line of `run`. */
  def report(run: Run): (String, String) = {
    val Run(sfDir, reps, main, codegen, sf1, smoke, failures, verdict, budgetSec, wallSec,
      budgetSkipped) = run
    def mins(kvs: Timings) = decs(kvs.map { case (n, (t, _)) => n -> t })
    def spreads(kvs: Timings) = decs(kvs.map { case (n, (_, s)) => n -> s })
    def total(kvs: Timings) = kvs.map(_._2._1).sum
    def points(ps: Seq[(Double, Double)]) =
      arr(ps.map { case (sfx, t) => arr(Seq(DoubleNode.valueOf(sfx), dec(t))) })
    def opt[A](cond: Boolean)(xs: => Seq[A]): Seq[A] = if (cond) xs else Nil

    val smokeJson = smoke.map { sr =>
      // re-repped gates keep their single-shot curve + fit on the
      // artifact: "alpha" is always the adjudicated (min-of-reps) fit,
      // "alpha_raw"/"raw_points" the single-shot ones that tripped it;
      // output-bound gates add per-point output rows and a marker that
      // their "alpha" is fitted on time-per-output-row
      obj(sr.times.map { case (q, ps) => q -> points(ps) } ++ Seq(
        "alpha" -> decs(sr.alphas),
        "cap_sec" -> DoubleNode.valueOf(SmokeCapSec),
        "capped" -> arr(sr.capped.map(text))) ++
        opt(sr.rawPoints.nonEmpty)(Seq(
          "alpha_raw" -> decs(sr.rawPoints.keys.toSeq.map(q => q -> sr.rawAlphas(q))),
          "raw_points" -> obj(sr.rawPoints.toSeq.map { case (q, ps) => q -> points(ps) }),
          "smoke_adj_reps" -> IntNode.valueOf(SmokeAdjReps))) ++
        opt(sr.rows.nonEmpty)(Seq(
          "rows" -> obj(sr.rows.toSeq.map { case (q, ps) =>
            q -> arr(ps.map { case (sfx, n) => arr(Seq(DoubleNode.valueOf(sfx), LongNode.valueOf(n))) })
          }),
          "per_row_alpha" -> arr(sr.rows.keys.toSeq.map(text)))))
    }
    val detail = obj(Seq(
      "metric" -> text("detail"), "value" -> dec(total(main)), "unit" -> text("sec"),
      "queries" -> mins(main), "spread" -> spreads(main),
      "compiles" -> obj(codegen.map { case (n, c) => n -> LongNode.valueOf(c.compiles) }),
      "compile_ms" -> decs(codegen.map { case (n, c) => n -> c.ms }),
      "reps" -> IntNode.valueOf(reps), "sf" -> text(sfDir)) ++
      sf1.toSeq.flatMap { case (d, res) => Seq(
        "sf1_dir" -> text(d), "sf1_total" -> dec(total(res)),
        "sf1_queries" -> mins(res), "sf1_spread" -> spreads(res)) } ++
      smokeJson.map("scale_smoke" -> _) ++
      opt(failures.nonEmpty)(Seq("failed" -> obj(failures.map { case (n, e) => n -> text(e) }))) ++
      verdict.toSeq.flatMap { v => Seq(
        "baseline" -> text(Baseline.FileName),
        "baseline_policy" -> text("max(committed,median(history>=3))"),
        "regressions" -> obj(v.regressions.map(r =>
          r.name -> obj(Seq("dir" -> text(r.dir), "base" -> dec(r.base), "now" -> dec(r.now))))),
        "adjudicated" -> obj(v.adjudicated.map(a =>
          a.name -> obj(Seq("base" -> dec(a.base), "raw" -> dec(a.raw), "steady" -> dec(a.steady)))))) } ++
      Seq("budget_sec" -> dec(budgetSec), "wall_sec" -> dec(wallSec)) ++
      opt(budgetSkipped.nonEmpty)(Seq("budget_skipped" -> arr(budgetSkipped.map(text)))))

    // headline LAST and SMALL (≤~1 KB): the caller captures a tail window
    // of stdout and json-parses the final line — rounds 4–6 lost the
    // sf0.1 total because full per-query maps pushed this line past the
    // window. Totals + the 5 slowest only; detail is in the file.
    def top5(kvs: Timings) = mins(kvs.sortBy(-_._2._1).take(5))
    val regs = verdict.fold(Seq.empty[Regression])(_.regressions)
    val headline = obj(Seq(
      "metric" -> text("total"), "value" -> dec(total(main)), "unit" -> text("sec"),
      "spread_total" -> dec(main.map(_._2._2).sum), "reps" -> IntNode.valueOf(reps),
      "sf" -> text(sfDir), "top5" -> top5(main)) ++
      sf1.toSeq.flatMap { case (_, res) =>
        Seq("sf1_total" -> dec(total(res)), "sf1_top5" -> top5(res)) } ++
      // scale block stays tiny: top-sf seconds + fitted alpha per op under
      // short keys (a capped op's value is its LAST taken point)
      smoke.map { sr =>
        "sf5_pipeline" -> obj(sr.times.collect { case (q, ps) if ps.nonEmpty =>
          val short = q.split('_').head
          (short -> dec(ps.last._2)) +: sr.alphas.get(q).map(a => s"a_$short" -> dec(a)).toSeq
        }.flatten)
      } ++
      // failed gates (excluded from every total) and regressions: count +
      // first names only, capped so a mass failure or slowdown cannot
      // push the line past the caller's ~2 KB tail window
      opt(failures.nonEmpty)(Seq(
        "failed_count" -> IntNode.valueOf(failures.size),
        "failed" -> arr((failures.take(15).map(_._1) ++
          opt(failures.size > 15)(Seq(s"+${failures.size - 15} more"))).map(text)))) ++
      opt(regs.nonEmpty)(Seq(
        "regression_count" -> IntNode.valueOf(regs.size),
        "regressions" -> obj(regs.take(5).map(r => r.name -> dec(r.now)) ++
          opt(regs.size > 5)(Seq("more" -> IntNode.valueOf(regs.size - 5)))))) ++
      Seq("wall_sec" -> dec(wallSec)) ++
      opt(budgetSkipped.nonEmpty)(Seq("budget_skipped_count" -> IntNode.valueOf(budgetSkipped.size))) ++
      Seq("detail" -> text(DetailFile)))
    (mapper.writeValueAsString(detail), mapper.writeValueAsString(headline))
  }

  /** The measuring stage: one session, the wall-clock budget, and the
    * failure record of every timed invocation. A throwing gate must
    * surface as FAILED, never as a ~0.02 s timing that IMPROVES the total
    * (round 9: six broken gates flattered the headline): failed queries
    * are excluded from every total and listed on both lines. */
  private final class Measure(spark: SparkSession, t0: Long, budgetSec: Double) {
    val failures = mutable.LinkedHashMap.empty[String, String]
    /** Per (dir, gate): codegen work summed over every timed invocation. */
    val codegen = mutable.Map.empty[(String, String), GraftSession.Codegen]
    val budgetSkipped = mutable.LinkedHashSet.empty[String]
    private val warmed = mutable.Set.empty[String]

    def elapsedSec: Double = (System.nanoTime() - t0) / 1e9

    /** Past the budget: say so once per `tag` and skip that optional work. */
    def overBudget(tag: String): Boolean = {
      val over = elapsedSec > budgetSec
      if (over && budgetSkipped.add(tag))
        System.err.println(f"[bench] wall-clock budget ${budgetSec}%.0f s " +
          f"exhausted (elapsed ${elapsedSec}%.0f s) — skipping $tag")
      over
    }

    def time(name: String, q: Query, dir: String): Option[Double] = {
      val o = Bench.time(spark, q, dir)
      codegen((dir, name)) = codegen.getOrElse((dir, name), GraftSession.Codegen.Zero) + o.codegen
      o.failure.foreach(failures.getOrElseUpdate(name, _))
      o.result.toOption.map(_ => o.seconds)
    }

    /** Once per dir, before its first timed rep: stream every byte under
      * it through the OS page cache. Three rounds of tripwire flags
      * dissolved under steady-state re-reps — first-touch reads on a cold
      * cache were being compared against min-of-3 baselines (r12 verdict
      * item 2). */
    def warmTouch(dir: String): Unit = if (warmed.add(dir)) try {
      val buf = new Array[Byte](1 << 20)
      def walk(f: java.io.File): Unit =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(walk)
        else {
          val in = new java.io.FileInputStream(f)
          try { while (in.read(buf) >= 0) () } finally in.close()
        }
      walk(new java.io.File(dir))
    } catch { case _: Throwable => () }

    /** Interleaved passes, then the contention guard: a query whose
      * spread exceeds its min gets its passes re-run once — min keeps the
      * best observation across both, spread is the re-run's (the quieter
      * measurement). A query with zero successful passes is dropped (it
      * lives in `failures`). */
    def sweep(names: Seq[(String, Query)], dir: String, nReps: Int): Timings = {
      warmTouch(dir)
      provision(spark, dir)
      val passes = (1 to nReps).map(_ =>
        names.flatMap { case (n, q) => time(n, q, dir).map(n -> _) }.toMap)
      names.flatMap { case (n, q) =>
        val ts = passes.flatMap(_.get(n))
        if (ts.isEmpty) None
        else {
          val (mn, spread) = (ts.min, ts.max - ts.min)
          // over budget the noisy spread is recorded as-is, never hidden
          if (spread > mn && !overBudget(s"rerun:$n")) {
            val ts2 = (1 to nReps).flatMap(_ => time(n, q, dir))
            if (ts2.isEmpty) Some(n -> (mn, spread))
            else Some(n -> (math.min(mn, ts2.min), ts2.max - ts2.min))
          } else Some(n -> (mn, spread))
        }
      }
    }

    /** The scale smoke over whichever of localdata/sf{1,2,5} exist (None
      * with fewer than two). First pass is single-shot per point (the
      * question is whether the cost curve bends superlinear, not a
      * regression baseline); ±2× host noise moves a single-shot alpha by
      * ~±0.4, enough to fake superlinearity on a contended host (r14: d25
      * "1.716" / a23 "1.352", both ≈1.0 under 3-rep mins), so a fit above
      * [[SmokeAlpha]] gets its points re-repped back-to-back and refitted
      * on mins before the artifact records it. */
    def smoke(queries: Map[String, Query]): Option[Smoke] = {
      val points = Seq(1.0 -> localdata("sf1"), 2.0 -> localdata("sf2"), 5.0 -> localdata("sf5"))
        .filter(p => Seq("documents", "lineitem", "orders", "supplier", "embeddings", "events")
          .forall(t => new java.io.File(s"${p._2}/$t.parquet").exists()))
      if (points.size < 2) return None
      var capped = Vector.empty[String]
      // output rows per taken point for the output-bound gates (one
      // untimed count per point — their verdict is time-per-row)
      val rowsTaken = mutable.LinkedHashMap.empty[String, Vector[(Double, Long)]]
      val times = SmokeQs.map { q =>
        var stop = false
        var taken = List.empty[(Double, Double)] // (sfx, t), newest first
        q -> points.flatMap { case (sfx, d) =>
          // PROJECT the next point before paying for it: fit the local
          // exponent from the last two points (worst-case 2.0 with one
          // point) and skip when the projection blows past 2× the cap —
          // the post-hoc stop alone let a borderline sf2 admit a ~500 s
          // sf5 re-proof of an already-documented quadratic. Output-bound
          // gates' WALL time grows with output volume (~sf² for pair
          // joins) even when their per-row verdict is flat, so their
          // projection floor is 2.0 (r17: ts24 sf1 25 s, sf2 52 s — local
          // fit 1.03 — then 393 s at sf5)
          val minExp = if (OutputBoundSmoke(q)) 2.0 else 1.0
          val projected = taken match {
            case (s1, t1) :: (s0, t0) :: _ if t1 > 0 && t0 > 0 =>
              val a = math.log(t1 / t0) / math.log(s1 / s0)
              t1 * math.pow(sfx / s1, math.max(a, minExp))
            case (s1, t1) :: _ => t1 * math.pow(sfx / s1, 2.0)
            case Nil => 0.0
          }
          if (stop) None
          else if (overBudget(s"smoke:$q@$sfx")) { stop = true; None }
          else if (projected > SmokeCapSec * 2) { stop = true; capped :+= q; None }
          else { warmTouch(d); time(q, queries(q), d) } match {
            case Some(t0) =>
              // a single shot moderately over the cap (≤ 2×) gets ONE
              // immediate re-rep and the min stands — the cap and the
              // next point's projection must not act on a host blip
              // (r17: d25's sf2 single-shot 101 s vs 37 s steady
              // min-of-3); a point far past the cap stands as-is — that
              // is the documented-quadratic case the cap exists for
              val t =
                if (t0 > SmokeCapSec && t0 <= SmokeCapSec * 2 &&
                    !overBudget(s"smoke_cap_rerep:$q@$sfx"))
                  math.min(t0, time(q, queries(q), d).getOrElse(t0))
                else t0
              taken ::= (sfx, t)
              // the row count RECOMPUTES the query — never re-pay a point
              // that already blew the cap
              if (OutputBoundSmoke(q) && t <= SmokeCapSec &&
                  !overBudget(s"smoke_rows:$q@$sfx")) {
                val n = Gates.run(spark, queries(q)(spark, d))(_.count()).result.getOrElse(-1L)
                if (n >= 0) rowsTaken(q) = rowsTaken.getOrElse(q, Vector.empty) :+ (sfx, n)
              }
              if (t > SmokeCapSec) { stop = true; capped :+= q }
              Some(sfx -> t)
            case None => stop = true; None
          }
        }
      }
      def fit(q: String, pts: Seq[(Double, Double)]) = fitOf(q, pts, rowsTaken.get(q).map(_.toMap))
      val rawAlphas = times.collect { case (q, pts) if pts.size >= 2 => q -> fit(q, pts) }.toMap
      val rawPoints = mutable.LinkedHashMap.empty[String, Seq[(Double, Double)]]
      val timesAdj = times.map { case (q, pts) =>
        if (pts.size < 2 || rawAlphas(q) <= SmokeAlpha) (q, pts)
        else {
          rawPoints(q) = pts
          q -> pts.map { case (sfx, t) =>
            // a point far past the cap is NOT re-paid (a genuinely
            // superlinear op would re-run its slowest point for hundreds
            // of seconds), but one only MODERATELY over it (≤ 2×) gets
            // ONE re-rep: r17 shipped d25 with alpha 2.79 from a
            // contention-faked 101 s sf2 single-shot in exactly this band
            val reReps =
              if (t > SmokeCapSec * 2) 0
              else if (t > SmokeCapSec) 1
              else SmokeAdjReps
            if (reReps == 0 || overBudget(s"smoke_adj:$q@$sfx")) (sfx, t)
            else {
              val d = points.find(_._1 == sfx).get._2
              warmTouch(d)
              (sfx, ((1 to reReps).flatMap(_ => time(q, queries(q), d)) :+ t).min)
            }
          }
        }
      }
      val alphas = timesAdj.collect { case (q, pts) if pts.size >= 2 => q -> fit(q, pts) }.toMap
      Some(Smoke(timesAdj, alphas, capped, rawAlphas, rawPoints.toMap,
        rowsTaken.toMap.view.mapValues(_.toSeq).toMap))
    }
  }

  /** Least-squares slope of log(t) over log(sf). */
  private def fitAlpha(pts: Seq[(Double, Double)]): Double = {
    val xs = pts.map(p => math.log(p._1)); val ys = pts.map(p => math.log(p._2))
    val xb = xs.sum / xs.size; val yb = ys.sum / ys.size
    xs.zip(ys).map { case (x, y) => (x - xb) * (y - yb) }.sum /
      xs.map(x => (x - xb) * (x - xb)).sum
  }

  /** An output-bound gate's alpha is fitted on time-per-output-row (flat
    * when the plan only pays for what it emits), given ≥2 points with rows. */
  private def fitOf(q: String, pts: Seq[(Double, Double)], rows: Option[Map[Double, Long]]): Double =
    rows match {
      case Some(rs) if OutputBoundSmoke(q) =>
        val pr = pts.flatMap { case (sfx, t) => rs.get(sfx).filter(_ > 0).map(r => (sfx, t / r)) }
        if (pr.size >= 2) fitAlpha(pr) else fitAlpha(pts)
      case _ => fitAlpha(pts)
    }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // the required sf0.1 sweep is never skipped — it is the metric; the
    // budget must exceed its ~3-pass cost
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "2700").toDouble
    val rebase = sys.env.getOrElse("SPARK_GRAFT_REBASE", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    ensureLocaldata()
    val cpus = GraftSession.cpus()
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session warmup (JIT, codegen, FileSystem init, ops codegen paths)
    // on the smallest sf, outside the timings; a failed warm-up is not
    // recorded, the timed reps record their own failures
    Gates.run(spark, SparkEntry.entry(spark))(_.count())
    Seq("t01_token_count", "d01_dedup_exact", "s01_cosine_topk")
      .foreach(q => Gates.run(spark, SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))(_.count()))

    val m = new Measure(spark, t0, budgetSec)
    val queries = SparkEntry.benchQueries
    val ordered = queries.toSeq.sortBy(_._1)
    val main = m.sweep(ordered, sfDir, reps)
    val sf1 = Some(sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", localdata("sf1")))
      .filter(d => new java.io.File(s"$d/lineitem.parquet").exists())
      .filterNot(_ => m.overBudget("sf1_sweep"))
      .map(d => d -> m.sweep(ordered.filter(e => Sf1Subset.contains(e._1)), d, math.max(2, reps - 1)))

    val prior = Baseline.load(".", queries.keySet)
    val verdict = prior.map(adjudicate(m, _, main, sf1, sfDir, queries))
    val next = nextBaseline(sfDir, reps, prior.getOrElse(Baseline.Empty), main, sf1.map(_._2),
      verdict.fold(Seq.empty[Regression])(_.regressions), rebase)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(Baseline.FileName), next.json)
    catch { case e: Throwable => System.err.println(s"${Baseline.FileName} write failed: $e") }

    val smoke = m.smoke(queries)
    val codegen = main.map { case (n, _) => n -> m.codegen((sfDir, n)) }
    val (detail, headline) = report(Run(sfDir, reps, main, codegen, sf1, smoke, m.failures.toSeq,
      verdict, budgetSec, m.elapsedSec, m.budgetSkipped.toSeq))
    // complete per-query detail goes to a FILE (and to stdout first, where
    // head-truncation is harmless) — never to the final line
    try {
      new java.io.File("target").mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(DetailFile), detail + "\n")
    } catch {
      // stdout still carries the detail line, so exit-0 is right — but a
      // stale/missing detail file must leave a visible trace
      case e: Throwable => System.err.println(s"bench_detail.json write failed: $e")
    }
    println(detail)
    println(headline)
    spark.stop()
  }
}
