package graft
import graft.Verify.jsonString
import org.apache.spark.sql.SparkSession

/** Headline bench. Prints TWO JSON lines and writes ONE file:
  *  1. a full-detail line (per-query min+spread maps for sf0.1 and the
  *     sf1 subset, ~7 KB) goes FIRST on stdout and verbatim to
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
  * Methodology (single-shot timings on a shared host swing ±2×, and the
  * operators cache aggressively without unpersisting):
  *  - the timing unit is FULL materialization to a noop sink (round 15;
  *    earlier rounds timed `.count()`, which Catalyst can prune hard
  *    enough to elide a hot branch entirely — totals before/after the
  *    switch are not comparable, and bench_baseline.json was re-measured
  *    under the new unit in the same commit);
  *  - the storage cache is cleared before EVERY timed invocation, so no
  *    query's timing depends on what ran before it (MicroBench does the
  *    same, which is why its numbers were reproducible when Bench's were
  *    not);
  *  - ≥3 interleaved passes (full query sweep per pass, passes
  *    back-to-back), reporting per-query MIN as the steady-state estimate
  *    and max−min as the spread — a large spread marks the number as
  *    host-contention-noisy rather than a real regression;
  *  - contention guard: any query whose spread exceeds its min (>100%
  *    relative noise) gets its passes re-run once, back-to-back; the
  *    recorded min is the best observation overall and the recorded
  *    spread is the re-run's (the quieter measurement supersedes the
  *    noisy one — round 4 recorded d08 at 85 s with 145 s spread while
  *    a clean re-run measured 8.2 s);
  *  - warm-touch: every timed directory is byte-streamed through the OS
  *    page cache once before its sweep, so no rep pays cold-disk I/O;
  *  - tripwire hits are steady-state-adjudicated in-run (extra
  *    back-to-back reps, SPARK_GRAFT_ADJ_REPS, min wins); dissolved
  *    flags land in an "adjudicated" detail block, and a gate that
  *    STILL regresses keeps its prior baseline (no single-round
  *    ratchet) unless named in SPARK_GRAFT_REBASE;
  *  - if an sf1-scale directory exists (SPARK_GRAFT_SF1_DIR, default
  *    localdata/sf1 as generated by graft.tools.DataGen), a
  *    join-dominated subset also runs there so shuffle-heavy behavior is
  *    measured where shuffles dominate, not just at sf0.1;
  *  - a hard wall-clock budget (SPARK_GRAFT_BENCH_BUDGET, default 2700 s)
  *    bounds the WHOLE run: optional blocks (contention re-runs, sf1
  *    sweep, scale-smoke points, adjudication re-reps) are skipped loudly
  *    once elapsed time crosses it ("budget_skipped" on the detail line),
  *    so the two JSON lines always print inside the driver's external
  *    timeout — round 16's 32-core run died on that timeout (rc 124)
  *    with NO artifact at all, which is strictly worse than a truncated
  *    one.
  */
object Bench {

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
    def missing(d: String, probe: String) =
      !new java.io.File(s"/root/repo/localdata/$d/$probe.parquet").exists()
    // sf2/sf5 subsets carry the tables every smoke gate reads: the
    // corpus ops (documents, embeddings) plus lineitem/orders/supplier
    // for the round-16 smoke additions (ts02 interval join, g12 HITS,
    // a23 bootstrap) — the 30M-row sf5 lineitem costs a bounded ~1 min
    // one-time regen, paid only when the dir is absent
    // events joined the list in round 18: the ts23 smoke reads it
    val smokeTables = "documents,embeddings,orders,lineitem,supplier,events"
    // probe on events: dirs generated before round 18 lack it, and a
    // missing table must trigger the (idempotent, deterministic) regen
    // exactly like a missing dir
    val jobs = Seq(
      ("sf1", "events", Array("/root/repo/localdata/sf1", "1.0")),
      ("sf2", "events", Array("/root/repo/localdata/sf2", "2.0", smokeTables)),
      ("sf5", "events", Array("/root/repo/localdata/sf5", "5.0", smokeTables)))
    jobs.foreach { case (d, probe, args) =>
      if (missing(d, probe)) {
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

  /** Per-gate baseline for the regression tripwire: the previous bench
    * run's min-of-reps per query, preferred from `bench_baseline.json`
    * (written by every run, committed with the round), falling back to
    * scraping the newest driver `BENCH_r{N}.json` stdout tail. Either
    * way the comparison is min-of-reps vs min-of-reps — first-touch and
    * contention noise live in the spread, not the min. */
  private[graft] def loadBaseline(valid: Set[String],
      root: String = "/root/repo"): (Map[String, Double], Map[String, Double], String) = {
    val pair = "\"([a-z][a-z0-9_]+)\":([0-9]+(?:\\.[0-9]+)?)".r
    def parseMap(segment: String): Map[String, Double] =
      pair.findAllMatchIn(segment)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter { case (n, _) => valid(n) }
        .toList.groupBy(_._1).map { case (n, vs) => n -> vs.head._2 }
    def block(text: String, key: String): String = {
      val i = text.indexOf(s""""$key":{""")
      if (i < 0) "" else {
        val start = i + key.length + 4
        val end = text.indexOf('}', start)
        if (end < 0) "" else text.substring(start, end)
      }
    }
    val own = new java.io.File(s"$root/bench_baseline.json")
    if (own.exists()) {
      val text = java.nio.file.Files.readString(own.toPath)
      (parseMap(block(text, "queries")), parseMap(block(text, "sf1_queries")),
        "bench_baseline.json")
    } else {
      val prior = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
        .lastOption
      prior.flatMap { f =>
        // the driver file embeds a truncated, escaped stdout TAIL whose
        // cut point is arbitrary — it can start inside the "spread" map,
        // where positional heuristics would silently adopt spread values
        // as baselines (observed: the r11 tail opens mid-spread). Only
        // trust it when an INTACT `"queries":{` opener survived; else
        // report no baseline — the committed bench_baseline.json written
        // by every run takes over from the next round on
        val text = java.nio.file.Files.readString(f.toPath)
          .replace("\\\"", "\"")
        val q = block(text, "queries")
        if (q.isEmpty) None
        else Some((parseMap(q), parseMap(block(text, "sf1_queries")), f.getName))
      }.getOrElse((Map.empty, Map.empty, "none"))
    }
  }

  /** Per-gate min HISTORY across committed bench runs — the variance-band
    * baseline (r13 verdict item 2). Best-ever-min ratchets a single lucky
    * quiet-host capture into a permanent false alarm: c03's committed
    * 1.418 s was measured once at a round close while its 12-round norm
    * is 2.0–3.2 s (driver-paced iterative loops are host-regime
    * sensitive). The tripwire therefore compares against
    * max(committed, median(history)) once ≥3 historical mins exist —
    * the band only ever RAISES the bar (fewer false flags), never lowers
    * it, and still-regressed gates never append to history, so a true
    * regression stays loud indefinitely. */
  private[graft] def loadHistory(valid: Set[String],
      root: String = "/root/repo"): (Map[String, List[Double]], Map[String, List[Double]]) = {
    val f = new java.io.File(s"$root/bench_baseline.json")
    if (!f.exists()) (Map.empty, Map.empty)
    else {
      val text = java.nio.file.Files.readString(f.toPath)
      val entry = "\"([a-z][a-z0-9_]+)\":\\[([0-9.,]*)\\]".r
      def block(key: String): String = {
        val i = text.indexOf(s""""$key":{""")
        if (i < 0) "" else {
          val start = i + key.length + 4
          val end = text.indexOf('}', start)
          if (end < 0) "" else text.substring(start, end)
        }
      }
      def parse(seg: String): Map[String, List[Double]] =
        entry.findAllMatchIn(seg).map(m =>
          m.group(1) -> m.group(2).split(',').filter(_.nonEmpty)
            .map(_.toDouble).toList)
          .filter { case (n, _) => valid(n) }.toMap
      (parse(block("history")), parse(block("sf1_history")))
    }
  }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val wallT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // HARD wall-clock budget for the whole run. Round 16's 32-core driver
    // bench died on the driver's external timeout (BENCH_r16.json:
    // rc 124, parsed null — no headline line, no totals) because the
    // harness's wall clock is otherwise unbounded: the required sweeps
    // plus the OPTIONAL blocks (sf1 sweep, scale smoke, adjudication
    // re-reps) grew past the driver's budget as rounds added gates. The
    // budget is enforced INSIDE the harness: once elapsed time crosses
    // it, remaining optional work is skipped LOUDLY (a "budget_skipped"
    // list on the detail line; stderr per skip) and the two JSON lines
    // always print. The required sf0.1 sweep is never skipped — it is
    // the metric; the budget must exceed its ~3-pass cost.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "2700").toDouble
    def elapsedSec: Double = (System.nanoTime() - wallT0) / 1e9
    val budgetSkipped = scala.collection.mutable.LinkedHashSet.empty[String]
    def overBudget(tag: String): Boolean = {
      val over = elapsedSec > budgetSec
      if (over && budgetSkipped.add(tag))
        System.err.println(f"[bench] wall-clock budget ${budgetSec}%.0f s " +
          f"exhausted (elapsed ${elapsedSec}%.0f s) — skipping $tag")
      over
    }
    ensureLocaldata()
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session warmup (JIT, codegen, FileSystem init, ops codegen paths)
    // on the smallest sf, outside the timings
    try {
      SparkEntry.entry(spark).count()
      val warmSf = "/root/testdata/sf0.001"
      Seq("t01_token_count", "d01_dedup_exact", "s01_cosine_topk")
        .foreach(q => SparkEntry.queries(q)(spark, warmSf).count())
    } catch { case _: Throwable => () }

    // A throwing gate must surface as FAILED, never as a ~0.02 s timing
    // that IMPROVES the total (round 9: six broken gates flattered the
    // headline). Errors are recorded per (query, dir-label); failed
    // queries are EXCLUDED from every total and listed in a "failed"
    // key on both the detail and headline lines.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Option[Double] = {
      // operators cache and never unpersist; without this, storage
      // accumulates over the sweep and LRU churn taxes later queries
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // FULL materialization (noop sink), not .count(): Catalyst prunes
      // a count() plan hard enough to elide entire branches — round 15
      // found a 20 s/pass quadratic explode (t49/t18's bigram HOF) that
      // every count-based timing had hidden because the counted plan
      // never evaluated the pruned projection. The noop sink computes
      // every output row and column without a driver-side collect —
      // what a user's downstream stage actually pays. Timing unit
      // changed in round 15; bench_baseline.json was re-measured under
      // the new unit the same commit, so min-vs-min comparisons stay
      // like-for-like (earlier BENCH_r* totals are NOT comparable).
      try {
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        Some((System.nanoTime() - t0) / 1e9)
      }
      catch { case e: Throwable =>
        failures.getOrElseUpdate(name,
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        None
      }
    }
    // Warm-touch: stream every byte under `dir` through the OS page
    // cache before a timed sweep, so first-rep timings measure compute,
    // not cold-disk I/O. Three rounds of tripwire flags (d03, ts15, d02,
    // e09, f01) dissolved under steady-state re-reps — first-touch reads
    // on a cold cache were being compared against min-of-3 baselines
    // (r12 verdict item 2). Cost is one sequential read of the dir.
    val warmed = scala.collection.mutable.Set.empty[String]
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
    // (min, spread) per query over the SUCCESSFUL passes. Sweep
    // interleaves passes; the contention guard then re-runs the passes
    // of any query whose spread exceeds its min — min keeps the best
    // observation across both rounds, spread is taken from the re-run
    // (the quieter measurement). A query with zero successful passes is
    // dropped from the result (it lives in `failures`).
    def sweep(names: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
        dir: String, nReps: Int): Seq[(String, (Double, Double))] = {
      warmTouch(dir)
      val passes = (1 to nReps).map(_ =>
        names.flatMap { case (n, fn) => time(n, fn, dir).map(n -> _) })
      names.flatMap { case (n, fn) =>
        val ts = passes.flatMap(_.toMap.get(n))
        if (ts.isEmpty) None
        else {
          val (mn, spread) = (ts.min, ts.max - ts.min)
          // contention re-run is optional work — skipped over budget
          // (the noisy spread is then recorded as-is, never hidden)
          if (spread > mn && !overBudget(s"rerun:$n")) {
            val ts2 = (1 to nReps).flatMap(_ => time(n, fn, dir))
            if (ts2.isEmpty) Some(n -> (mn, spread))
            else Some(n -> (math.min(mn, ts2.min), ts2.max - ts2.min))
          } else Some(n -> (mn, spread))
        }
      }
    }
    def num(d: Double): String = f"$d%.3f"
    def obj(kvs: Seq[(String, (Double, Double))], f: ((Double, Double)) => Double): String =
      kvs.map { case (n, ms) => s""""$n":${num(f(ms))}""" }.mkString("{", ",", "}")

    val ordered = SparkEntry.benchQueries.toSeq.sortBy(_._1)
    val main = sweep(ordered, sfDir, reps)
    val total = main.map(_._2._1).sum
    val spreadTotal = main.map(_._2._2).sum

    val sf1Dir = sys.env.get("SPARK_GRAFT_SF1_DIR")
      .orElse(Some("/root/repo/localdata/sf1"))
      .filter(d => new java.io.File(s"$d/lineitem.parquet").exists())
      .filterNot(_ => overBudget("sf1_sweep"))
    val sf1 = sf1Dir.map { d =>
      val subset = ordered.filter { case (n, _) => Sf1Subset.contains(n) }
      d -> sweep(subset, d, math.max(2, reps - 1))
    }
    val sf1Json = sf1.map { case (d, res) =>
      s""","sf1_dir":"$d","sf1_total":${num(res.map(_._2._1).sum)}""" +
        s""","sf1_queries":${obj(res, _._1)},"sf1_spread":${obj(res, _._2)}"""
    }.getOrElse("")

    // regression tripwire (r11 verdict item 5): min-of-reps vs the prior
    // round's min-of-reps, >2x AND past an absolute floor (0.25 s at
    // sf0.1, 1 s at the noisier sf1 sweep) — a 5 ms gate doubling to
    // 10 ms is jitter, not a regression. Diffed at BUILD time so a d02
    // -style slowdown is caught the round it ships, not by next round's
    // judge.
    val (base01, base1, baseSrc) = loadBaseline(SparkEntry.benchQueries.keySet)
    // variance band (r13 verdict item 2): once ≥3 historical mins exist,
    // the effective baseline is max(committed, median(history)) — a
    // single lucky quiet-host capture (c03's 1.418 vs its 2.0–3.2 norm)
    // can then never flag an unchanged code path, while a true
    // regression (history never absorbs still-regressed mins) stays loud
    val (hist01, hist1) = loadHistory(SparkEntry.benchQueries.keySet)
    def banded(base: Map[String, Double],
        hist: Map[String, List[Double]]): Map[String, Double] =
      base.map { case (n, b) =>
        val h = hist.getOrElse(n, Nil)
        n -> (if (h.size >= 3) math.max(b, median(h)) else b)
      }
    val eff01 = banded(base01, hist01)
    val eff1 = banded(base1, hist1)
    def regress(cur: Seq[(String, (Double, Double))], base: Map[String, Double],
        floor: Double): Seq[(String, Double, Double)] =
      cur.flatMap { case (n, (t, _)) =>
        base.get(n).collect {
          case b if t > 2 * b && t - b > floor => (n, b, t)
        }
      }.sortBy(-_._3)
    val regsRaw = regress(main, eff01, 0.25).map { case (n, b, t) => (n, b, t, "sf0.1") } ++
      sf1.toSeq.flatMap { case (_, res) =>
        regress(res, eff1, 1.0).map { case (n, b, t) => (n, b, t, "sf1") } }
    // steady-state adjudication BEFORE anything is reported (r12 verdict
    // item 2): every tripwire hit gets extra back-to-back reps in its
    // dir, and the verdict min is the best observation overall. Only
    // gates that still regress on that min are reported as regressions;
    // the dissolved ones are recorded in an "adjudicated" block on the
    // detail line so the re-rep is auditable, not silent. Three rounds
    // running, every sweep flag (d03, ts15, d02, e09, f01) dissolved
    // under exactly this re-rep — done by Bench itself now, not by a
    // human per round.
    val adjReps = sys.env.getOrElse("SPARK_GRAFT_ADJ_REPS", "3").toInt
    val qmapAll = SparkEntry.benchQueries
    val adjudicated = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
    val regs = regsRaw.flatMap { case (n, b, t, dlbl) =>
      val dir = if (dlbl == "sf1") sf1.map(_._1).getOrElse(sfDir) else sfDir
      val floor = if (dlbl == "sf1") 1.0 else 0.25
      // over budget the flag ships UNADJUDICATED (raw) — loud either way
      val steady =
        if (overBudget(s"adj:$n")) t
        else ((1 to adjReps).flatMap(_ => time(n, qmapAll(n), dir)) :+ t).min
      if (steady > 2 * b && steady - b > floor) Some((n, b, steady, dlbl))
      else { adjudicated(n) = (b, t, steady); None }
    }
    val regsJson =
      if (baseSrc == "none") ""
      else {
        val body = regs.map { case (n, b, t, d) =>
          s""""$n":{"dir":"$d","base":${num(b)},"now":${num(t)}}""" }.mkString(",")
        val adj = adjudicated.map { case (n, (b, raw, st)) =>
          s""""$n":{"base":${num(b)},"raw":${num(raw)},"steady":${num(st)}}""" }.mkString(",")
        s""","baseline":"$baseSrc","baseline_policy":"max(committed,median(history>=3))"""" +
          s""","regressions":{$body},"adjudicated":{$adj}"""
      }
    // next round's baseline: this run's mins — EXCEPT a still-regressed
    // gate, whose prior baseline carries forward so the tripwire stays
    // loud until the regression is fixed or explicitly re-accepted
    // (single-round ratchet fix — r12 ADVICE: before this, one regressed
    // round became the next baseline and the gate went permanently
    // quiet). Deliberate re-baselines name gates in SPARK_GRAFT_REBASE.
    try {
      val rebase = sys.env.getOrElse("SPARK_GRAFT_REBASE", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSet
      // SPARK_GRAFT_REBASE=ALL: accept every gate's new min — ONLY for
      // deliberate methodology migrations (round 15: count() → noop
      // full materialization), where the old baselines measure a
      // different unit and holding them would flag the entire suite
      def hold(dlbl: String): Set[String] =
        if (rebase("ALL")) Set.empty
        else regs.collect { case (n, _, _, d) if d == dlbl => n }.toSet -- rebase
      def objHeld(kvs: Seq[(String, (Double, Double))],
          base: Map[String, Double], held: Set[String]): String =
        kvs.map { case (n, (t, _)) =>
          s""""$n":${num(if (held(n)) base.getOrElse(n, t) else t)}"""
        }.mkString("{", ",", "}")
      // history append: this run's min per gate, capped to the last 7
      // observations. Still-regressed (held) gates append NOTHING — the
      // median band must never absorb a true regression into normalcy.
      // REBASE=ALL (methodology migration) resets history to this run.
      def histJson(kvs: Seq[(String, (Double, Double))],
          hist: Map[String, List[Double]], held: Set[String]): String =
        kvs.map { case (n, (t, _)) =>
          val prev = if (rebase("ALL")) Nil else hist.getOrElse(n, Nil)
          val app = if (held(n)) prev else (prev :+ t).takeRight(7)
          s""""$n":${app.map(num).mkString("[", ",", "]")}"""
        }.mkString("{", ",", "}")
      // a skipped sf1 sweep (missing dir or budget) must NOT erase the
      // committed sf1 baselines/history — carry the prior blocks forward
      def carry(m: Map[String, Double]): String =
        m.toSeq.sortBy(_._1).map { case (n, v) => s""""$n":${num(v)}""" }
          .mkString("{", ",", "}")
      def carryH(m: Map[String, List[Double]]): String =
        m.toSeq.sortBy(_._1).map { case (n, vs) =>
          s""""$n":${vs.map(num).mkString("[", ",", "]")}""" }
          .mkString("{", ",", "}")
      val b1 = sf1.map { case (_, res) =>
          s""","sf1_queries":${objHeld(res, base1, hold("sf1"))}""" }
        .getOrElse(if (base1.isEmpty) "" else s""","sf1_queries":${carry(base1)}""")
      val h1 = sf1.map { case (_, res) =>
          s""","sf1_history":${histJson(res, hist1, hold("sf1"))}""" }
        .getOrElse(if (hist1.isEmpty) "" else s""","sf1_history":${carryH(hist1)}""")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/root/repo/bench_baseline.json"),
        s"""{"sf":"$sfDir","reps":$reps,"queries":${objHeld(main, base01, hold("sf0.1"))}$b1""" +
          s""","history":${histJson(main, hist01, hold("sf0.1"))}$h1}\n""")
    } catch { case e: Throwable =>
      System.err.println(s"bench_baseline.json write failed: $e")
    }

    // corpus-pipeline scale smoke: the three shuffle-heaviest corpus ops
    // one notch (and five notches) past sf1, plus the fitted scaling
    // exponent alpha (slope of a log-log least-squares fit of time vs
    // sf). First pass is single-shot per point (the question is whether
    // the cost curve bends superlinear, not a regression baseline), but
    // ±2× host noise moves a single-shot alpha by ~log-noise/log(5) ≈
    // ±0.4 — enough to fake superlinearity on a contended host (r14:
    // d25 "1.716"/a23 "1.352", both ≈1.0 under 3-rep mins) — so any
    // fit above SPARK_GRAFT_SMOKE_ALPHA gets its points re-repped
    // back-to-back and refit on mins before the artifact records it.
    // Dirs come from graft.tools.DataGen "<dir> <scale>
    // documents,embeddings"; the smoke skips silently only when fewer
    // than two scale points exist (the driver's testdata has no sf>1).
    // round-16 additions (r13 verdict item 4): the heavy sf1 gates whose
    // 100 TB claims rested on design argument — suffix-doubling ladder
    // (d25), slot-bucketed interval join (ts02), HITS propagation joins
    // (g12), and the B×-explode bootstrap (a23) — each gets a fitted
    // alpha so the argument becomes a measurement.
    // round-18 additions (r15 verdict item 3): the two heaviest sf1
    // gates (ts24 pair-materializing interval join — OUTPUT-BOUND, so
    // its alpha is fitted on time-per-output-row with the row counts
    // recorded; ts23 sliced nearest as-of) and the sf-scaled IVF-delete
    // maintenance batch (e16's bench form: load persisted index,
    // anti-join tombstones, materialize the shrunk lists)
    val smokeQs = Seq("e01_corpus_pipeline", "c01_dedup_clusters",
      "d07_embed_neardup_lsh", "d25_longest_dup_spans", "ts02_range_count",
      "g12_hits", "a23_poisson_bootstrap", "ts23_asof_nearest_sliced",
      "ts24_interval_pairs", "e16_ivf_delete", "ts27_overlap_count")
    // gates whose output VOLUME grows with sf by design (per-pair
    // attributes): their scaling verdict is time-per-output-row, not
    // wall time — a fake "superlinear" from output growth must not trip
    // the adjudicator or read as a plan flaw
    val outputBoundSmoke = Set("ts24_interval_pairs")
    val smokePoints = Seq(
      1.0 -> "/root/repo/localdata/sf1",
      2.0 -> "/root/repo/localdata/sf2",
      5.0 -> "/root/repo/localdata/sf5")
      .filter(p => Seq("documents", "lineitem", "orders", "supplier",
          "embeddings", "events")
        .forall(t => new java.io.File(s"${p._2}/$t.parquet").exists()))
    // per-point budget: once a query exceeds it, the remaining (larger)
    // sfs are skipped — alpha still fits from the points taken, and the
    // skip is RECORDED in the output (capped list), never silent. The
    // first d07 smoke measured 685 s at sf5 (alpha 1.85 — explained in
    // COVERAGE.md Bench notes); re-proving a known quadratic must not
    // dominate the whole bench's wall-clock every round.
    // 90 s (was 60): at 60 the single-point worst-case-2.0 projection
    // blocked ts02's sf2 point (44 s at sf1 → projected 176 > 120), so
    // the round-16 smoke recorded no alpha for it; at 90 the sf2 point
    // runs (~88 s if linear) and the alpha fits from two points even
    // when sf5 is then projected away
    // 120 (was 90, r17): the global wall-clock budget now bounds the
    // whole run, so the per-point cap no longer carries the entire
    // runaway-protection burden; at 120 the heap-fixed d25 takes its
    // ~50–100 s sf5 point and records a 3-point alpha instead of a
    // capped 2-point one, while ts24's exponent-2 projection still
    // stops its ~390 s sf5 point
    val smokeCapSec =
      sys.env.getOrElse("SPARK_GRAFT_SMOKE_CAP", "120").toDouble
    case class SmokeResult(times: Seq[(String, Seq[(Double, Double)])],
        alphas: Map[String, Double], capped: Seq[String],
        rawAlphas: Map[String, Double],
        rawPoints: Map[String, Seq[(Double, Double)]], adjReps: Int,
        rows: Map[String, Seq[(Double, Long)]])
    val smoke: Option[SmokeResult] =
      if (smokePoints.size < 2) None
      else {
        val qmap = SparkEntry.benchQueries
        var capped = Vector.empty[String]
        // output rows per taken point for the output-bound gates (one
        // untimed count per point — their verdict is time-per-row)
        val rowsTaken =
          scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Double, Long)]]
        val times = smokeQs.map { q =>
          var stop = false
          var taken = List.empty[(Double, Double)] // (sfx, t), newest first
          q -> smokePoints.flatMap { case (sfx, d) =>
            // PROJECT the next point before paying for it: fit the local
            // exponent from the last two points (worst-case 2.0 with one
            // point) and skip when the projection blows past 2× the cap —
            // the post-hoc stop alone let a borderline sf2 admit a ~500 s
            // sf5 re-proof of an already-documented quadratic
            // output-bound gates' WALL time grows with output volume —
            // ~sf² for pair joins — even when their per-row verdict is
            // flat, so the projection floor is 2.0 for them (the r17
            // before-run measured ts24 sf1 25 s, sf2 52 s — local fit
            // 1.03 — then 393 s at sf5, rows 0.8G/3.3G/20.8G: the
            // last-two-points fit under-projects exactly when density
            // grows, and one unprojected point nearly ate the driver's
            // whole timeout)
            val minExp = if (outputBoundSmoke(q)) 2.0 else 1.0
            val projected = taken match {
              case (s1, t1) :: (s0, t0) :: _ if t1 > 0 && t0 > 0 =>
                val a = math.log(t1 / t0) / math.log(s1 / s0)
                t1 * math.pow(sfx / s1, math.max(a, minExp))
              case (s1, t1) :: _ => t1 * math.pow(sfx / s1, 2.0)
              case Nil => 0.0
            }
            if (stop) None
            else if (overBudget(s"smoke:$q@$sfx")) { stop = true; None }
            else if (projected > smokeCapSec * 2) { stop = true; capped :+= q; None }
            else { warmTouch(d); time(q, qmap(q), d) } match {
              case Some(t0) =>
                // a single shot moderately over the cap (≤ 2×) gets ONE
                // immediate re-rep and the min stands — the cap and the
                // next point's projection must not act on a host blip
                // (r17 after-run: d25's sf2 single-shot 101 s vs 37 s
                // steady min-of-3 capped the gate and shipped alpha
                // 2.79); a point far past the cap stands as-is — that is
                // the documented-quadratic case the cap exists for
                val t =
                  if (t0 > smokeCapSec && t0 <= smokeCapSec * 2 &&
                      !overBudget(s"smoke_cap_rerep:$q@$sfx"))
                    math.min(t0, time(q, qmap(q), d).getOrElse(t0))
                  else t0
                taken ::= (sfx, t)
                // the row count RECOMPUTES the query — never re-pay a
                // point that already blew the cap (393 s twice, r17
                // before-run); the per-row fit then uses the uncapped
                // points, which is also when it is meaningful
                if (outputBoundSmoke(q) && t <= smokeCapSec &&
                    !overBudget(s"smoke_rows:$q@$sfx")) {
                  val n = try qmap(q)(spark, d).count() catch { case _: Throwable => -1L }
                  if (n >= 0)
                    rowsTaken(q) = rowsTaken.getOrElse(q, Vector.empty) :+ (sfx, n)
                }
                if (t > smokeCapSec) { stop = true; capped :+= q }
                Some(sfx -> t)
              case None => stop = true; None
            }
          }
        }
        def fitAlpha(pts: Seq[(Double, Double)]): Double = {
          val xs = pts.map(p => math.log(p._1)); val ys = pts.map(p => math.log(p._2))
          val xb = xs.sum / xs.size; val yb = ys.sum / ys.size
          xs.zip(ys).map { case (x, y) => (x - xb) * (y - yb) }.sum /
            xs.map(x => (x - xb) * (x - xb)).sum
        }
        // an output-bound gate's alpha is fitted on time-per-output-row
        // (flat when the plan only pays for what it emits); the row
        // counts ride in the artifact so the fit is auditable
        def fitOf(q: String, pts: Seq[(Double, Double)]): Double =
          rowsTaken.get(q).map(_.toMap) match {
            case Some(rs) if outputBoundSmoke(q) =>
              val pr = pts.flatMap { case (sfx, t) =>
                rs.get(sfx).filter(_ > 0).map(r => (sfx, t / r)) }
              if (pr.size >= 2) fitAlpha(pr) else fitAlpha(pts)
            case _ => fitAlpha(pts)
          }
        // steady-state adjudication for the smoke itself (r14 verdict
        // item 2): a single-shot point on a contended host can fake a
        // superlinear alpha (r14: d25 "1.716" / a23 "1.352" dissolved to
        // ~linear under 3-rep mins). When the raw fit exceeds the
        // threshold, re-rep the taken points back-to-back and refit on
        // mins — the tripwire's own discipline applied to the curve.
        // Raw points/alpha stay in the artifact ("alpha_raw"/"raw") so
        // the adjudication is auditable, never silent.
        // 1.15 (was 1.3, r15 verdict item 1): the contention-faked
        // alphas observed so far (c01 1.285, d25 1.716, a23 1.352) all
        // exceed 1.15 while genuine steady-state alphas sit ≤ ~1.05 —
        // the old threshold let the 1.1–1.3 band ship unchallenged
        val alphaThresh = sys.env.getOrElse("SPARK_GRAFT_SMOKE_ALPHA", "1.15").toDouble
        val smokeAdjReps = sys.env.getOrElse("SPARK_GRAFT_SMOKE_ADJ_REPS", "2").toInt
        val rawAlphas = times.collect {
          case (q, pts) if pts.size >= 2 => q -> fitOf(q, pts) }.toMap
        val rawPoints = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Double, Double)]]
        val timesAdj = times.map { case (q, pts) =>
          if (pts.size < 2 || rawAlphas(q) <= alphaThresh) (q, pts)
          else {
            rawPoints(q) = pts
            q -> pts.map { case (sfx, t) =>
              // a point far past the per-point budget is NOT re-paid
              // (ADVICE r15: a genuinely superlinear op would re-run its
              // slowest point for hundreds of seconds). But a point only
              // MODERATELY over the cap (≤ 2×) gets ONE re-rep: the r17
              // after-run shipped d25 with alpha 2.79 because a
              // contention-faked 101 s sf2 single-shot (steady min-of-3:
              // 37 s) fell in exactly this band where the old rule
              // forbade adjudication — the bounded ≤2·cap re-pay is what
              // separates "host blip on a capped point" from "documented
              // quadratic".
              val reReps =
                if (t > smokeCapSec * 2) 0
                else if (t > smokeCapSec) 1
                else smokeAdjReps
              if (reReps == 0 || overBudget(s"smoke_adj:$q@$sfx")) (sfx, t)
              else {
                val d = smokePoints.find(_._1 == sfx).get._2
                warmTouch(d)
                val rereps = (1 to reReps).flatMap(_ => time(q, qmap(q), d))
                (sfx, (rereps :+ t).min)
              }
            }
          }
        }
        val alphas = timesAdj.collect {
          case (q, pts) if pts.size >= 2 => q -> fitOf(q, pts) }.toMap
        Some(SmokeResult(timesAdj, alphas, capped, rawAlphas, rawPoints.toMap,
          smokeAdjReps, rowsTaken.toMap.view.mapValues(_.toSeq).toMap))
      }
    val smokeJson = smoke.map { sr =>
      def ptsOf(m: Seq[(String, Seq[(Double, Double)])]) = m.map { case (q, ps) =>
        s""""$q":${ps.map(p => s"[${p._1},${num(p._2)}]").mkString("[", ",", "]")}"""
      }.mkString(",")
      val al = sr.alphas.map { case (q, a) => s""""$q":${num(a)}""" }.mkString(",")
      val cap = sr.capped.map(q => s""""$q"""").mkString("[", ",", "]")
      // re-repped queries keep their single-shot curve + fit on the
      // artifact: "alpha" is always the adjudicated (min-of-reps) fit,
      // "alpha_raw"/"raw_points" the single-shot ones that tripped it
      val adj = if (sr.rawPoints.isEmpty) "" else {
        val ral = sr.rawPoints.keys.map { q =>
          s""""$q":${num(sr.rawAlphas(q))}""" }.mkString(",")
        s""","alpha_raw":{$ral},"raw_points":{${ptsOf(sr.rawPoints.toSeq)}}""" +
          s""","smoke_adj_reps":${sr.adjReps}"""
      }
      // output-bound gates: per-point output rows + a marker that their
      // "alpha" is fitted on time-per-output-row, not wall time
      val rowsJ = if (sr.rows.isEmpty) "" else {
        val rj = sr.rows.map { case (q, ps) =>
          s""""$q":${ps.map(p => s"[${p._1},${p._2}]").mkString("[", ",", "]")}"""
        }.mkString(",")
        s""","rows":{$rj},"per_row_alpha":${
          sr.rows.keys.map(q => s""""$q"""").mkString("[", ",", "]")}"""
      }
      s""","scale_smoke":{${ptsOf(sr.times)},"alpha":{$al}""" +
        s""","cap_sec":$smokeCapSec,"capped":$cap$adj$rowsJ}"""
    }.getOrElse("")

    val failedJson =
      if (failures.isEmpty) ""
      else s""","failed":${failures.map { case (n, e) =>
        s"${jsonString(n)}:${jsonString(e)}" }.mkString("{", ",", "}")}"""
    val budgetJson = s""","budget_sec":${num(budgetSec)},"wall_sec":${num(elapsedSec)}""" +
      (if (budgetSkipped.isEmpty) ""
       else s""","budget_skipped":${budgetSkipped.map(jsonString).mkString("[", ",", "]")}""")
    val detail = s"""{"metric":"detail","value":${num(total)},"unit":"sec"""" +
      s""","queries":${obj(main, _._1)},"spread":${obj(main, _._2)}""" +
      s""","reps":$reps,"sf":"$sfDir"$sf1Json$smokeJson$failedJson$regsJson$budgetJson}"""
    // complete per-query detail goes to a FILE (and to stdout first, where
    // head-truncation is harmless) — never to the final line
    try {
      new java.io.File("target").mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_detail.json"), detail + "\n")
    } catch {
      // stdout still carries the detail line (printed below), so exit-0 is
      // right — but a stale/missing detail file must leave a visible trace
      case e: Throwable =>
        System.err.println(s"bench_detail.json write failed: $e")
    }
    println(detail)
    // headline line LAST and SMALL (≤~1 KB): the driver captures a tail
    // window of stdout and json-parses the final line — rounds 4–6 lost
    // the sf0.1 total because full per-query maps pushed this line past
    // the window. Totals + the 5 slowest only; detail is in the file.
    def top5(kvs: Seq[(String, (Double, Double))]): String =
      obj(kvs.sortBy(-_._2._1).take(5), _._1)
    val sf1Head = sf1.map { case (_, res) =>
      s""","sf1_total":${num(res.map(_._2._1).sum)},"sf1_top5":${top5(res)}"""
    }.getOrElse("")
    // headline scale block stays tiny: top-sf seconds + fitted alpha per
    // op (short keys; full per-sf points and the capped list live in the
    // detail file; a capped op's headline value is its LAST taken point)
    val smokeHead = smoke.map { sr =>
      val kv = sr.times.collect { case (q, ps) if ps.nonEmpty =>
        val short = q.split('_').head
        val a = sr.alphas.get(q).map(a => s""","a_$short":${num(a)}""").getOrElse("")
        s""""$short":${num(ps.last._2)}$a"""
      }.mkString(",")
      s""","sf5_pipeline":{$kv}"""
    }.getOrElse("")
    // failed gates: count + first names only on the headline (full
    // error map lives in the detail file) — a correctness regression
    // must be loud here, its queries are NOT in `total`, and the list
    // is capped so a mass failure cannot push the headline past the
    // driver's ~2 KB stdout tail window
    val failedHead =
      if (failures.isEmpty) ""
      else {
        val names = failures.keys.take(15).map(jsonString) ++
          (if (failures.size > 15) Seq(jsonString(s"+${failures.size - 15} more")) else Nil)
        s""","failed_count":${failures.size},"failed":${names.mkString("[", ",", "]")}"""
      }
    // regression block on the headline: count + worst few names only
    // (full base/now pairs live on the detail line), capped so a mass
    // slowdown cannot push the line past the driver's stdout tail window
    val regsHead =
      if (baseSrc == "none" || regs.isEmpty) ""
      else {
        val names = regs.take(5).map { case (n, _, t, _) => s""""$n":${num(t)}""" } ++
          (if (regs.size > 5) Seq(s""""more":${regs.size - 5}""") else Nil)
        s""","regression_count":${regs.size},"regressions":{${names.mkString(",")}}"""
      }
    val budgetHead = s""","wall_sec":${num(elapsedSec)}""" +
      (if (budgetSkipped.isEmpty) ""
       else s""","budget_skipped_count":${budgetSkipped.size}""")
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec"""" +
      s""","spread_total":${num(spreadTotal)},"reps":$reps,"sf":"$sfDir"""" +
      s""","top5":${top5(main)}$sf1Head$smokeHead$failedHead$regsHead$budgetHead""" +
      s""","detail":"target/bench_detail.json"}""")
    spark.stop()
  }
}
