package graft.ops

import graft.functions.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus pipelines: token counting, quality
  * scoring, language ID, fingerprinting. All pure codegen'd Column
  * expressions (no UDFs) — they run inside whole-stage codegen and
  * vectorized parquet scans, so a 100 TB corpus pass is scan-bound. */
object TextOps {

  /** Whitespace tokens of trimmed, lowercased text (empty → empty array). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))

  /** Per-row (doc_id, w1, w2) bigram pairs in position order, duplicates
    * kept — via the native codegen'd WordGrams scan split at its single
    * separator space. NOT a transform(sequence, element_at(tokens…)) HOF:
    * higher-order lambdas get no common-subexpression elimination, so
    * each element_at re-ran the whole regex split — O(words²) per doc,
    * ~20 s/pass at sf0.1 where this shape costs 0.3 s (the same finding
    * that produced WordGrams for t23; measured rediscovery in round 15:
    * Bench's `.count()` had been pruning the quadratic branch, so only
    * full materialization showed it). */
  private[ops] def bigramPairs(d: DataFrame, idc: Column, t: Column): DataFrame = {
    val grams = when(length(trim(t)) === 0, array().cast("array<string>"))
      .otherwise(graft.functions.HashFunctions.wordGrams(lower(trim(t)), 2))
    d.select(idc.as("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"),
        substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Per-document sentence segmentation statistics: sentence count and
    * mean tokens per sentence — the readability / fragment-detection
    * signal quality filters threshold on (a "document" of 40 one-word
    * sentences is list debris; one 4000-token sentence is extraction
    * failure). Sentences split on runs of terminal punctuation
    * ([.!?]+); segments that trim to empty (trailing terminator, bare
    * punctuation) are not sentences. A doc with no terminator is one
    * sentence. Pure scan-stage per-row array math — no shuffle, no
    * joins; the token total is an exact integer so avg4 is one
    * identical double expression per row on every engine.
    * Output: (doc_id, n_sent, n_tok, avg4). */
  def sentenceStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val segs = filter(transform(split(text, "[.!?]+"), s => trim(s)),
      s => s =!= "")
    val out = df.select(id.as("doc_id"), segs.as("__segs"))
      .select(col("doc_id"), size(col("__segs")).as("n_sent"),
        aggregate(col("__segs"), lit(0L),
          (acc, s) => acc + size(split(s, "\\s+"))).as("n_tok"))
    out.select(col("doc_id"), col("n_sent"), col("n_tok"),
      when(col("n_sent") === 0, lit(0.0))
        .otherwise(floor(col("n_tok").cast("double")
          / col("n_sent").cast("double") * 10000 + 0.5) / 10000).as("avg4"))
  }

  /** Zipf rank-frequency slope over the corpus's `topN` terms: OLS fit
    * of ln(count) against ln(rank) — natural language sits near −1; a
    * slope far from it flags synthetic/templated text or a tokenization
    * bug, making this a one-number corpus-health check.
    *
    * Scale shape: one map-side-combined term count (vocab-sized), a
    * top-`topN` heap take, then all regression arithmetic on the
    * `topN`-row table. Cross-engine exactness: ln(rank) and ln(count)
    * are 6-dp floored, their products re-floored, and all five OLS sums
    * run as DECIMAL(28,6) (order-independent); the slope is one final
    * double expression. Output: one row (n_terms, slope6). */
  /** Sorted distinct dictionary keywords contained in `text`
    * (case-insensitive substring, blocklist semantics) — ONE
    * Aho-Corasick pass per row regardless of dictionary size
    * ([[graft.functions.KeywordTags]]), vs k contains-scans. */
  def keywordTags(text: Column, keywords: Seq[String]): Column =
    Native("graft_keyword_tags", text,
      typedLit(keywords.map(_.toLowerCase).sorted))

  /** Distinctive terms of a subcorpus vs the rest: log-odds ratio with
    * a Dirichlet prior, z-scored (Monroe, Colaresi & Quinn 2008,
    * "Fightin' Words" — the method corpus-comparison pipelines use
    * instead of raw tf-idf, because it neither over-weights rare words
    * (pure log-odds) nor common ones (raw frequency)). For word w with
    * counts a (in-group) and b (rest), totals TA/TB, vocab V, prior α:
    * δ = ln((a+α)/(TA+αV−a−α)) − ln((b+α)/(TB+αV−b−α)),
    * z = δ/√(1/(a+α) + 1/(b+α)).
    *
    * One token-count aggregation (map-side combined, vocab-sized
    * output), a 1-row totals broadcast, then per-word arithmetic.
    * Cross-engine exactness: each ln is 6-dp floored (the t36
    * contract), everything after is one IEEE chain, z 4-dp floored.
    * Output: top `topN` rows (word, a, b, z4) by z4 desc. */
  def logOddsTerms(df: DataFrame, text: Column, inGroup: Column,
      alpha: Double = 0.01, minCount: Int = 5, topN: Int = 20): DataFrame = {
    require(alpha > 0, s"alpha must be positive: $alpha")
    val r6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val counts = df.select(explode(tokens(text)).as("w"), inGroup.as("__g"))
      .groupBy(col("w"))
      .agg(sum(when(col("__g"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("__g"), 1L).otherwise(0L)).as("b"))
    val totals = counts.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"),
      count(lit(1)).as("v"))
    val aD = col("a").cast("double") + lit(alpha)
    val bD = col("b").cast("double") + lit(alpha)
    val a0 = lit(alpha) * col("v").cast("double")
    val l1 = r6(log(aD / (col("ta").cast("double") + a0
      - col("a").cast("double") - lit(alpha))))
    val l2 = r6(log(bD / (col("tb").cast("double") + a0
      - col("b").cast("double") - lit(alpha))))
    counts.filter(col("a") + col("b") >= minCount)
      .crossJoin(broadcast(totals))
      .select(col("w").as("word"), col("a"), col("b"),
        (floor((l1 - l2) / sqrt(lit(1.0) / aD + lit(1.0) / bD) * 1e4 + 0.5)
          / 1e4).as("z4"))
      .orderBy(col("z4").desc, col("word").asc)
      .limit(topN)
  }

  def zipfSlope(df: DataFrame, text: Column, topN: Int): DataFrame = {
    require(topN >= 3, s"topN must be >= 3 to fit a line: $topN")
    import org.apache.spark.sql.expressions.Window
    val r6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val dec6 = (c: Column) => c.cast(
      org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6))
    val top = df.select(explode(tokens(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(topN)
    val xy = top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("w").asc)))
      .select(r6(log(col("rank").cast("double"))).as("x"),
        r6(log(col("c").cast("double"))).as("y"))
    val m = xy.agg(count(lit(1)).as("n_terms"),
      sum(dec6(col("x"))).as("sx"), sum(dec6(col("y"))).as("sy"),
      sum(dec6(r6(col("x") * col("y")))).as("sxy"),
      sum(dec6(r6(col("x") * col("x")))).as("sxx"))
    val nD = col("n_terms").cast("double")
    m.select(col("n_terms"),
      (floor((nD * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        / (nD * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
        * 1000000 + 0.5) / 1000000).as("slope6"))
  }

  /** Chao1 unseen-vocabulary estimate + Good-Turing coverage — the
    * species-richness pair next to [[heapsLaw]]'s growth CURVE: from
    * the term-frequency spectrum alone, estimate how many vocabulary
    * items exist that the corpus has NOT seen (bias-corrected Chao1,
    * V + f1(f1−1)/(2(f2+1)) — defined even with no doubletons) and
    * what fraction of the token mass the seen vocabulary covers
    * (Good-Turing, 1 − f1/N). f1/f2 = hapax/dis legomena counts.
    *
    * Everything is exact integers from two map-side-combined aggs
    * (term counts → frequency spectrum) until two final double
    * expressions, 6-dp floored — the a12 discipline. `terms` is any
    * array column (word tokens, n-grams, shingles — richness is
    * unit-relative); empty corpus → one all-zero row, NULL estimates.
    * Output: (n_tokens, v_obs, f1, f2, chao1_6, coverage6). */
  def chao1Richness(df: DataFrame, terms: Column): DataFrame = {
    val counts = df.select(explode(terms).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    def f6(c: Column) = floor(c * 1000000 + 0.5) / 1000000
    counts.agg(
      coalesce(sum(col("c")), lit(0L)).as("n_tokens"),
      count(lit(1)).as("v_obs"),
      coalesce(sum(when(col("c") === 1, 1L).otherwise(0L)), lit(0L)).as("f1"),
      coalesce(sum(when(col("c") === 2, 1L).otherwise(0L)), lit(0L)).as("f2"))
      .select(col("n_tokens"), col("v_obs"), col("f1"), col("f2"),
        when(col("n_tokens") > 0,
          f6(col("v_obs").cast("double")
            + col("f1").cast("double") * (col("f1") - 1).cast("double")
            / (lit(2.0) * (col("f2") + 1).cast("double")))).as("chao1_6"),
        when(col("n_tokens") > 0,
          f6(lit(1.0) - col("f1").cast("double")
            / col("n_tokens").cast("double"))).as("coverage6"))
  }

  /** Heaps'-law vocabulary-growth fit: V(n) ≈ K·n^β over the corpus
    * read in id order — the scaling answer to "how much NEW vocabulary
    * does 10× more data buy" that t36/t39 (static Zipf/diversity)
    * cannot give. β near the natural-text 0.4–0.6 band means healthy
    * growth; β → 0 means the vocabulary has saturated (over-deduped or
    * templated corpora), β → 1 means mostly-unique junk tokens.
    *
    * Scale shape: the corpus order is approximated by `buckets`
    * id-RANGE buckets (one min/max agg + exact per-row bucket math),
    * so the cumulative window runs over a buckets-sized grid — never a
    * row-sized global sort (the j02/interleave lesson). New-vocab per
    * bucket comes from one first-occurrence (min bucket per gram) agg;
    * gram extraction is the native codegen'd WordGrams scan. The
    * bucket index is floor((id−min)·B/span) in IEEE double on BOTH
    * engines (identical rounding; exact while (id−min)·B < 2^53, which
    * the op asserts). Points with zero cumulative grams are excluded;
    * the OLS is the t36 recipe (6-dp-floored lns, exact DECIMAL
    * moments, one final double expression).
    * Output: one row (n_pts, beta6, lnk6) — lnk6 = ln K, the
    * intercept, reported instead of K so no exp() runs anywhere. */
  def heapsLaw(df: DataFrame, id: Column, text: Column, n: Int = 2,
      buckets: Int = 64): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(buckets >= 3, s"buckets must be >= 3 to fit a line: $buckets")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val r6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val dec6 = (c: Column) => c.cast(
      org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6))
    val mm = df.agg(min(id.cast("long")), max(id.cast("long"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val span = mx - mn + 1
    require(span.toDouble * buckets < (1L << 53).toDouble,
      s"id range $span too wide for exact bucket math at $buckets buckets")
    def bucket(c: Column) = floor((c.cast("long") - mn).cast("double")
      * buckets / span.toDouble).cast("long")
    val grams = when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(graft.functions.HashFunctions.wordGrams(lower(trim(text)), n))
    val base = df.select(bucket(id).as("b"), explode(grams).as("g"))
    val perB = base.groupBy(col("b")).agg(count(lit(1)).as("nt"))
    val firstB = base.groupBy(col("g")).agg(min(col("b")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nv"))
    val grid = spark.range(buckets).select(col("id").as("b"))
      .join(perB, Seq("b"), "left").join(firstB, Seq("b"), "left")
      .select(col("b"), coalesce(col("nt"), lit(0L)).as("nt"),
        coalesce(col("nv"), lit(0L)).as("nv"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = grid
      .select(sum(col("nt")).over(w).as("cn"), sum(col("nv")).over(w).as("cv"))
      .where(col("cn") > 0 && col("cv") > 0)
      .select(r6(log(col("cn").cast("double"))).as("x"),
        r6(log(col("cv").cast("double"))).as("y"))
    val m = pts.agg(count(lit(1)).as("n_pts"),
      sum(dec6(col("x"))).as("sx"), sum(dec6(col("y"))).as("sy"),
      sum(dec6(r6(col("x") * col("y")))).as("sxy"),
      sum(dec6(r6(col("x") * col("x")))).as("sxx"))
    val nD = col("n_pts").cast("double")
    val beta = (nD * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double")) /
      (nD * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
    m.select(col("n_pts"),
      (floor(beta * 1000000 + 0.5) / 1000000).as("beta6"),
      (floor((col("sy").cast("double") - beta * col("sx").cast("double"))
        / nD * 1000000 + 0.5) / 1000000).as("lnk6"))
  }

  /** Flesch-style reading-ease score per document:
    * 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word), with the
    * classic vowel-group syllable proxy (runs of [aeiouy] per token,
    * floor 1 per token — "rhythm" has no vowel-run but one spoken
    * syllable). The readability quality signal corpus filters band on:
    * very high = fragment lists, very low/negative = run-on extraction
    * failures. Sentence-less or word-less docs score 0.
    *
    * Pure scan-stage per-row array math (same [.!?]+ sentence rule as
    * [[sentenceStats]]); all three counts are exact integers, the score
    * is one identical double expression, 4-dp floored. Output:
    * (doc_id, n_words, n_sent, n_syll, fre4). */
  def readability(df: DataFrame, id: Column, text: Column): DataFrame = {
    val segs = filter(transform(split(text, "[.!?]+"), s => trim(s)),
      s => s =!= "")
    val syll = aggregate(tokens(text), lit(0L), (acc, t) =>
      acc + greatest(size(split(t, "[aeiouy]+")) - 1, lit(1)))
    val base = df.select(id.as("doc_id"), tokenCount(text).as("n_words"),
      size(segs).as("n_sent"), syll.as("n_syll"))
    base.withColumn("fre4",
      when(col("n_sent") === 0 || col("n_words") === 0, lit(0.0))
        .otherwise(floor((lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sent").cast("double"))
          - lit(84.6) * (col("n_syll").cast("double") / col("n_words").cast("double")))
          * 10000 + 0.5) / 10000))
  }

  /** PMI collocation mining: adjacent token pairs whose joint frequency
    * beats independence — pmi = ln(p(w1,w2) / (p(w1)·p(w2))) — the
    * phrase/multi-word-expression detector tokenizer vocabularies and
    * "New York"-style merge lists are built from. Pairs below `minCount`
    * drop (PMI is unstable at tiny counts — a hapax pair maxes the
    * score by construction).
    *
    * Scale shape: two map-side-combined aggregates over the exploded
    * token/bigram streams (vocab- and bigram-vocab-sized outputs), one
    * join per side against the unigram table, two broadcast 1-row
    * total joins. pmi4 is one identical double expression over exact
    * integer counts: ln((n·T·T)/(B·c1·c2)), 4-dp floored.
    * Output: (w1, w2, n, pmi4). */
  def collocations(df: DataFrame, text: Column, minCount: Long): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2 (PMI is noise at 1): $minCount")
    val tks = df.select(tokens(text).as("tk")).filter(size(col("tk")) >= 1)
    val uni = tks.select(explode(col("tk")).as("w"))
    val c1 = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tTot = uni.agg(count(lit(1)).as("t"))
    val bi = tks.filter(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("tk")) - 1),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bTot = bi.agg(count(lit(1)).as("bt"))
    bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .join(c1.select(col("w").as("w1"), col("c").as("c1a")), "w1")
      .join(c1.select(col("w").as("w2"), col("c").as("c1b")), "w2")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(bTot))
      .select(col("w1"), col("w2"), col("n"),
        (floor(log((col("n").cast("double") * col("t").cast("double")
            * col("t").cast("double"))
          / (col("bt").cast("double") * col("c1a").cast("double")
            * col("c1b").cast("double"))) * 10000 + 0.5) / 10000).as("pmi4"))
  }

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords: _*)))

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /** Composite quality score in [0,1]:
    * 0.4·stopword-ratio + 0.3·min(ntok/100, 1) + 0.3·(1 − punct-ratio),
    * rounded to 4 dp. Deterministic double arithmetic (same expression
    * shape as the DuckDB oracle). */
  def qualityScore(text: Column): Column = {
    val ntok = tokenCount(text).cast("double")
    val stopRatio = when(ntok === 0, 0.0)
      .otherwise(stopwordCount(text).cast("double") / ntok)
    val lenScore = least(ntok / 100.0, lit(1.0))
    val punctRatio = when(length(text) === 0, 0.0)
      .otherwise(punctCount(text).cast("double") / length(text).cast("double"))
    val score = lit(0.4) * stopRatio + lit(0.3) * lenScore + lit(0.3) * (lit(1.0) - punctRatio)
    // floor-based half-up rounding: round() is half-up in Spark but can
    // land half-even in other engines at exact .5 boundaries
    floor(score * 10000 + 0.5) / 10000
  }

  /** Per-language function-word lists for the n-gram/stopword-vote
    * language-ID heuristic. */
  private val LangWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "uno", "una"))

  /** Language ID by function-word voting: argmax of per-language hit
    * counts (ties broken by list order above), "und" when no hits. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val counts = LangWords.map { case (lang, ws) =>
      lang -> size(filter(toks, t => t.isin(ws: _*)))
    }
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldRight(lit("und"): Column) { case ((lang, c), els) =>
      when(c === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  /** Corpus document frequency: for each distinct token, the number of
    * documents containing it (classic IDF numerator; one explode + one
    * count-distinct-free aggregation). */
  def documentFrequency(df: org.apache.spark.sql.DataFrame, text: Column): org.apache.spark.sql.DataFrame =
    df.select(explode(array_distinct(tokens(text))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))

  /** Per-document charset profile: fraction of ASCII and of lowercase
    * alphabetic characters — the cheap encoding-health / language-prior
    * signal (mojibake and binary-spill pages crater ascii_ratio long
    * before a language model sees them). Pure codegen'd regexp counts,
    * zero shuffle; 4-dp rounded, null for empty text. */
  def charsetProfile(text: Column): Column = {
    def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val n = length(text).cast("double")
    val ascii = length(regexp_replace(text, "[^\\x00-\\x7F]", "")).cast("double")
    val alpha = length(regexp_replace(lower(text), "[^a-z]", "")).cast("double")
    when(n > 0, struct(r4(ascii / n).as("ascii_ratio"),
      r4(alpha / n).as("alpha_ratio")))
  }

  /** Corpus-wide n-gram INSTANCE counts with minimum support — the
    * count-collection step of n-gram LM training (KenLM's first pass)
    * and the raw material for collocation mining. Unlike
    * [[documentFrequency]] (distinct-per-doc) this counts every
    * occurrence; unlike [[graft.ops.Dedup]]'s shingles the grams are NOT
    * per-doc-deduplicated. One explode → map-side-combined count — the
    * single corpus-sized shuffle carries (gram, partial count) pairs —
    * and the support filter prunes the long singleton tail before any
    * further stage sees it.
    *
    * Output: (ngram, cnt), cnt ≥ minCount. */
  def ngramCounts(df: DataFrame, text: Column, n: Int,
      minCount: Long = 1L): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    // native WordGrams expression, not a transform() HOF — the HOF
    // evaluates its lambda interpreted per window and was the dominant
    // cost of this scan (same finding as the WordShingles migration);
    // empty-text guard mirrors tokens()'s
    val grams = when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(graft.functions.HashFunctions.wordGrams(
        lower(trim(text)), n))
    df.select(explode(grams).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Corpus vocabulary cardinality, exact and sketched side by side:
    * `n_terms` via a real distinct aggregation, `n_terms_approx` via
    * HyperLogLog++ (`approx_count_distinct`, deterministic — no RNG).
    * At 100 TB the sketch is the one you run (fixed ~kilobytes of state
    * per partition, one pass, no distinct shuffle of the full term set);
    * the exact twin exists so the gate can measure the sketch's error on
    * data where exact is still computable. */
  def distinctTermStats(df: DataFrame, text: Column,
      rsd: Double = 0.02): DataFrame =
    df.select(explode(array_distinct(tokens(text))).as("term"))
      .agg(count_distinct(col("term")).as("n_terms"),
        approx_count_distinct(col("term"), rsd).as("n_terms_approx"))

  /** Vocabulary coverage cutoff: the smallest frequency-ranked
    * vocabulary covering ≥ `coverage` of total token mass — the
    * tokenizer-budget / OOV-rate planning number (a 32k vocab covering
    * 99.5% of mass means 1 in 200 tokens falls back to bytes).
    *
    * Rank order is (count DESC, term ASC) — fully deterministic under
    * ties, so the cutoff is a pure corpus function. Scale shape: the
    * token explode collapses to the VOCABULARY-sized term table via one
    * map-side-combined count; the cumulative sum then runs over terms,
    * not tokens (the BPE distinct-word argument). The single-partition
    * window over the vocabulary is the documented trade: at web scale
    * (10⁸ raw terms) pre-prune the singleton tail with a support filter
    * first — singletons can never be part of a ≤99.9% covering prefix
    * unless the target needs them, in which case the window cost is the
    * answer's cost.
    *
    * Output: one row (total_tokens, n_terms, cover_size,
    * actual_coverage 4 dp). */
  def vocabCoverage(df: DataFrame, text: Column, coverage: Double): DataFrame = {
    require(coverage > 0 && coverage <= 1, s"coverage out of (0,1]: $coverage")
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(explode(tokens(text)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val ordered = Window.orderBy(col("cnt").desc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .select(sum(col("cnt")).over(ordered).as("cum"),
        row_number().over(ordered).as("rk"),
        sum(col("cnt")).over(whole).as("total"),
        count(lit(1)).over(whole).as("nterms"))
      .filter(col("cum") >= ceil(col("total") * coverage))
      .agg(min(col("total")).as("total_tokens"),
        min(col("nterms")).as("n_terms"),
        min(col("rk")).as("cover_size"),
        (floor(min_by(col("cum"), col("rk")) / min(col("total")) * 10000 + 0.5)
          / 10000).as("actual_coverage"))
  }

  /** Document-length distribution quantiles, exact (`percentile`, full
    * sort semantics) and sketched (`percentile_approx`, Greenwald-Khanna
    * — bounded state, one pass, mergeable across partitions: the 100 TB
    * form). Both deterministic. */
  def lengthQuantiles(df: DataFrame, text: Column, qs: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    val qArr = s"array(${qs.mkString(",")})"
    df.select(tokenCount(text).cast("double").as("ntok"))
      .agg(expr(s"percentile(ntok, $qArr)").as("exact"),
        expr(s"percentile_approx(ntok, $qArr, $accuracy)").as("approx"))
  }

  /** Content fingerprint: md5 hex of the normalized text (exact-dup key;
    * cross-engine reproducible). */
  def fingerprintMd5(text: Column): Column = md5(Dedup.normText(text).cast("binary"))

  /** PII scrubbing for training corpora: emails → `<EMAIL>`, URLs →
    * `<URL>`, long digit runs (9+, the id/phone/ssn shape) → `<NUM>`.
    * A pure `regexp_replace` chain — codegen'd, scan-bound at corpus
    * scale, and every pattern is RE2-safe so cross-engine twins replace
    * the same spans. Email runs first: addresses contain digit runs and
    * can appear inside URLs, so the more specific pattern must win. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "https?://[!-~]+", "<URL>"),
      "[0-9]{9,}", "<NUM>")

  /** Within-document repetition metrics (the Gopher-style quality
    * filters):
    *  - `dup_token_frac`: 1 − distinct/total tokens — per-row arithmetic
    *    on the token array, no shuffle;
    *  - `top_bigram_frac`: share of the most frequent bigram among all
    *    bigrams — explode + (doc, bigram) count + per-doc max/sum, two
    *    shuffles both keyed and map-side-combined. The explode path (vs a
    *    per-row higher-order loop) is deliberate: a single pathological
    *    100 M-token document costs O(n) distributed work here, not O(n²)
    *    inside one task.
    * Fractions are 4-dp half-up rounded (cross-engine stable). */
  def repetitionMetrics(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.select(id.as("doc_id"), tokens(text).as("toks"), text.as("__t"))
    // bigram strings via the native WordGrams scan, NOT a transform()
    // HOF — HOF lambdas evaluate interpreted per element (~50 µs each;
    // this column was 14 s/pass at sf0.1 as a HOF, the t23/t49 finding)
    val perDoc = base.select(col("doc_id"),
      when(size(col("toks")) === 0, 0.0)
        .otherwise(lit(1.0) - size(array_distinct(col("toks"))) / size(col("toks")).cast("double"))
        .as("dup_raw"),
      when(length(trim(col("__t"))) === 0, array().cast("array<string>"))
        .otherwise(graft.functions.HashFunctions.wordGrams(
          lower(trim(col("__t"))), 2))
        .as("bigrams"))
    val topFrac = perDoc
      .select(col("doc_id"), explode(col("bigrams")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg((max(col("n")).cast("double") / sum(col("n"))).as("top_raw"))
    perDoc.select(col("doc_id"), col("dup_raw"))
      .join(topFrac, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (floor(col("dup_raw") * 10000 + 0.5) / 10000).as("dup_token_frac"),
        (floor(coalesce(col("top_raw"), lit(0.0)) * 10000 + 0.5) / 10000).as("top_bigram_frac"))
  }

  /** Gopher-style document-quality rules (Rae et al. 2021, appendix A1.1
    * — the public rule family used by most LLM corpus pipelines): word
    * count, mean word length, symbol-to-word ratio (#/…), fraction of
    * words with an alphabetic character, fraction of lines starting with
    * a bullet / ending with an ellipsis, distinct stopword hits, and the
    * conjunctive pass flag. Every metric is a per-row codegen'd Column —
    * no UDF, no shuffle — so the full rule pass over a 100 TB corpus is
    * scan-bound and pipelines into the same stage as the parquet read.
    * Metrics are 4-dp rounded BEFORE the flag comparisons so the
    * pass/fail decision is bit-stable across engines; thresholds are
    * parameters (defaults scaled to be discriminative on short docs —
    * production corpora would use Gopher's 50-word minimum). */
  def gopherQuality(df: DataFrame, id: Column, text: Column,
      minWords: Int = 10, meanWlenRange: (Double, Double) = (3.0, 10.0),
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minDistinctStop: Int = 2): DataFrame = {
    val toks = tokens(text)
    val ntok = size(toks)
    def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val meanW = when(ntok === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / ntok)
    val nsym = length(text) - length(translate(text, "#…", ""))
    val symR = when(ntok === 0, 0.0).otherwise(nsym.cast("double") / ntok)
    val alphaF = when(ntok === 0, 0.0).otherwise(
      size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / ntok)
    val lns = split(text, "\n")
    val bulletF = size(filter(lns, l => l.rlike("^\\s*[-*•]"))).cast("double") / size(lns)
    val ellF = size(filter(lns, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double") / size(lns)
    val nstopD = size(array_distinct(filter(toks, t => t.isin(Stopwords: _*))))
    df.select(id.as("doc_id"), ntok.as("n_words"), r4(meanW).as("mean_wlen"),
        r4(symR).as("symbol_ratio"), r4(alphaF).as("alpha_frac"),
        r4(bulletF).as("bullet_frac"), r4(ellF).as("ellipsis_frac"),
        nstopD.as("n_stop_distinct"))
      .withColumn("gopher_pass",
        col("n_words") >= minWords &&
          col("mean_wlen").between(meanWlenRange._1, meanWlenRange._2) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("alpha_frac") >= minAlphaFrac &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_frac") <= maxEllipsisFrac &&
          col("n_stop_distinct") >= minDistinctStop)
  }

  /** Compressibility quality signal: raw-deflate size over UTF-8 byte
    * length, 4-dp rounded (empty text → 0). Boilerplate/templated spam
    * compresses far below prose; high-entropy noise sits near (or just
    * above) 1. One codegen'd static call per row into a thread-local
    * native deflater ([[graft.functions.DeflateWorker]]) — no per-row
    * allocation, no shuffle; the corpus pass is scan-bound. zlib byte
    * counts are deterministic within a JVM but not a cross-engine
    * contract, so gates assert ratio properties, not exact bytes. */
  def compressionRatio(text: Column): Column = {
    val nbytes = octet_length(text)
    when(nbytes === 0, 0.0).otherwise(
      floor(graft.functions.HashFunctions.deflateSize(text).cast("double")
        / nbytes * 10000 + 0.5) / 10000)
  }

  /** Polynomial rolling hash of the normalized text (base 257 mod 2^31−1)
    * — the streaming-friendly fingerprint for shingling/windowed hashing.
    * One codegen'd byte loop ([[graft.functions.PolyHash]]); bit-identical
    * to the HOF `aggregate(transform(split(...)))` formulation. */
  def rollingHash(text: Column): Column =
    graft.functions.HashFunctions.polyHash(Dedup.normText(text), 257, 2147483647L)

  /** C4-style line-level boilerplate cleaning (Raffel et al. 2020 §2.2 —
    * the public rule family behind C4/mC4): a line survives iff it ends
    * in terminal punctuation, has at least `minLineWords` words, and
    * contains none of the `banned` phrases (case-insensitive) nor a curly
    * brace (the "code/JSON leaked into prose" tell). Emits the cleaned
    * text (kept lines re-joined), per-doc line counts, and a document
    * keep flag (≥ `minKeptLines` surviving lines). Entirely array-HOF
    * Columns over one `split(text, "\n")` — no UDF, no shuffle, no
    * explode — so the 100 TB cleaning pass is scan-bound and fuses into
    * the parquet read's codegen stage. */
  def c4LineClean(df: DataFrame, id: Column, text: Column,
      minLineWords: Int = 3, minKeptLines: Int = 2,
      banned: Seq[String] = Seq("javascript", "lorem ipsum", "cookie")): DataFrame = {
    val lns = split(text, "\n")
    def words(l: Column): Column =
      when(length(trim(l)) === 0, 0).otherwise(size(split(trim(l), "\\s+")))
    def keepLine(l: Column): Column = {
      val lower = org.apache.spark.sql.functions.lower(l)
      l.rlike("[.!?\"]\\s*$") &&
        words(l) >= minLineWords &&
        !lower.contains("{") &&
        banned.map(b => !lower.contains(b)).reduce(_ && _)
    }
    val kept = filter(lns, keepLine _)
    df.select(id.as("doc_id"),
        size(lns).as("n_lines"), size(kept).as("n_kept"),
        array_join(kept, "\n").as("clean_text"))
      .withColumn("c4_keep", col("n_kept") >= minKeptLines)
  }

  /** Hashed-feature linear text classifier (the fastText / Vowpal-Wabbit
    * family every production quality filter uses): each token is hashed
    * into one of `weights.length` slots with the portable polynomial
    * hash, and the document margin is `bias + Σ weights(h(tok))`. The
    * weight vector rides the plan as a LITERAL array — a trained model of
    * any dimension ships inside the expression tree, broadcast free, and
    * the whole scoring pass is one codegen'd fold per row (no UDF, no
    * shuffle, no model join): at 100 TB the classifier adds zero stages
    * to the scan. Margin-fold order is left-to-right over the token list,
    * so the IEEE double sum is bit-reproducible cross-engine. */
  def hashedLinearMargin(text: Column, weights: Seq[Double], bias: Double = 0.0): Column = {
    require(weights.nonEmpty, "hashedLinearMargin: empty weight vector")
    // one native pass per row ([[graft.functions.HashedMargin]]) — same
    // doubles added in the same token order as the HOF fold below, which
    // paid an interpreted lambda + element_at per token
    graft.functions.HashFunctions.hashedMargin(tokens(text), weights, bias)
  }

  /** The higher-order-function formulation hashedLinearMargin replaced;
    * private to the bit-equality spec (the wordShinglesHof discipline). */
  private[graft] def hashedLinearMarginHof(text: Column, weights: Seq[Double],
      bias: Double = 0.0): Column = {
    val w = typedLit(weights)
    val slot = (t: Column) =>
      graft.functions.HashFunctions.polyHash(t, 257, 2147483647L) % weights.length
    aggregate(tokens(text), lit(bias),
      (acc, t) => acc + element_at(w, (slot(t) + 1).cast("int")))
  }

  /** Logistic probability of a margin: 1/(1+e^−z). `exp` is not a
    * bit-level cross-engine contract — gate on the margin, use the
    * probability for thresholding in application code. */
  def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Intra-document repeated-line removal: keep only the FIRST
    * occurrence of each line (order preserved) — the within-doc
    * complement of the cross-corpus paragraph dedup, catching templated
    * repetition (headers, nav bars, chorus spam) inside one document.
    * Pure HOF: for each index i, the line survives iff no earlier index
    * holds the same line — O(lines²) per doc on an array that lives in
    * one row, zero shuffle, fused into the scan. */
  def dedupLinesInDoc(df: DataFrame, id: Column, text: Column): DataFrame = {
    val lns = split(text, "\n")
    val kept = filter(lns, (l, i) =>
      size(filter(slice(lns, lit(1), i), prev => prev === l)) === 0)
    df.select(id.as("doc_id"),
      size(lns).as("n_lines"), size(kept).as("n_kept"),
      array_join(kept, "\n").as("dedup_text"))
  }

  /** CCNet-style language-model quality scoring: a bigram LM with add-α
    * smoothing is fit on `reference` (conditional P(w₂|w₁) =
    * (c(w₁,w₂)+α)/(c(w₁)+α·V)), and each document scores the MEAN LOG
    * PROBABILITY of its bigrams under that LM — low scores mark
    * out-of-distribution text (the perplexity filter every web-corpus
    * pipeline runs; CCNet, Wenzek et al. 2020). Defaults to self-scoring
    * (reference = the corpus itself).
    *
    * Determinism: a float sum over shuffled bigram rows is
    * order-dependent, so each bigram's ln-prob is 4-dp rounded and
    * summed as DECIMAL (exact, order-independent — the a01 trick);
    * the mean then rounds once more. Cross-engine ln() last-bit
    * differences are absorbed by the per-term rounding.
    *
    * Plan at 100 TB: reference bigram/unigram counts are map-side
    * combined aggregates (pair-sized); documents explode to bigrams
    * once, join the LM tables on (w₁,w₂)/(w₁) — skew-splittable hash
    * joins — and re-aggregate per doc. Nothing but pair counts ever
    * shuffles. */
  def bigramLogProb(df: DataFrame, id: Column, text: Column,
      alpha: Double = 0.1, reference: Option[DataFrame] = None,
      refText: Column = col("text")): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ref = reference.getOrElse(df)
    val refBg = bigramPairs(ref, lit(0L), refText)
    val c12 = refBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = refBg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = ref.select(explode(tokens(refText)).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    val docBg = bigramPairs(df, id, text)
    val lp = docBg
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .select(col("doc_id"),
        // unseen w1 (possible when reference ≠ corpus) → c1 = 0: the
        // smoothed backoff α/(α·V) still applies
        (floor(log((coalesce(col("c12"), lit(0L)) + alpha) /
          (coalesce(col("c1"), lit(0L)) + alpha * v)) * 10000 + 0.5) / 10000)
          .cast(DecimalType(28, 4)).as("lp4"))
    df.select(id.as("doc_id")).join(
        lp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp4")).as("sum4")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull, 0.0)
          .otherwise(floor(col("sum4").cast("double") / col("n_bigrams")
            * 10000 + 0.5) / 10000).as("avg_logprob"))
  }

  /** Per-document Unicode-script histogram — the multilingual-corpus
    * triage pass next to [[charsetProfile]]'s ascii/alpha ratios and
    * t03's Latin-alphabet language ID: counts of Latin, Cyrillic, CJK,
    * Arabic, Hangul, Greek, and digit characters plus each share of the
    * doc (4-dp floored). Mixed-script docs (injected spam, wrong-field
    * scrapes) show up as no script holding a majority.
    *
    * Counts are `len(s) − len(regexp_replace(s, class, ""))` over BMP
    * codepoint ranges — identical regex semantics in Java and RE2, and
    * BMP-only keeps Spark's UTF-16 length and an oracle's codepoint
    * length in agreement (astral chars would differ by design; this is
    * a histogram, not a validator). One scan-stage projection, no
    * shuffle. Output: (doc_id, n_chars, latin, cyrillic, cjk, arabic,
    * hangul, greek, digit + *_r4 shares). */
  def scriptProfile(df: DataFrame, id: Column, text: Column): DataFrame = {
    val classes = Seq(
      "latin" -> "[A-Za-z]",
      "cyrillic" -> "[\\u0400-\\u04FF]",
      "cjk" -> "[\\u4E00-\\u9FFF]",
      "arabic" -> "[\\u0600-\\u06FF]",
      "hangul" -> "[\\uAC00-\\uD7AF]",
      "greek" -> "[\\u0370-\\u03FF]",
      "digit" -> "[0-9]")
    val n = length(text)
    val counts = classes.map { case (nm, cls) =>
      (n - length(regexp_replace(text, cls, ""))).cast("long").as(nm)
    }
    val base = df.filter(length(text) > 0)
      .select(id.as("doc_id") +: n.cast("long").as("n_chars") +: counts: _*)
    base.select(col("doc_id") +: col("n_chars") +:
      (classes.map(c => col(c._1)) ++ classes.map { case (nm, _) =>
        (floor(col(nm).cast("double") / col("n_chars").cast("double")
          * 10000 + 0.5) / 10000).as(s"${nm}_r4")
      }): _*)
  }

  /** Per-document average log-probability under an interpolated
    * Kneser-Ney bigram LM fit on the corpus itself — the smoothing real
    * LM-based quality filters use where [[bigramLogProb]] uses add-α:
    * P(w₂|w₁) = (c(w₁w₂) − δ)/c(w₁·) + δ·N₁₊(w₁·)/c(w₁·) · P_cont(w₂),
    * with the continuation probability P_cont(w₂) = N₁₊(·w₂)/B counting
    * how many distinct CONTEXTS a word follows (B = distinct bigram
    * types) — the "San Francisco" correction: frequent-but-bound words
    * score low as continuations. Scoring the training corpus keeps
    * every bigram seen, so c₁₂ ≥ 1 > δ and the discounted term stays
    * positive (no max(·,0) branch to disagree on).
    *
    * Determinism: each bigram's ln-prob is 4-dp floored and DECIMAL-
    * summed (order-free, the t18 discipline); P itself is a fixed IEEE
    * chain over exact integer counts, identical both engines.
    *
    * Plan at 100 TB: the bigram TYPE table (LM-vocab-sized, orders of
    * magnitude below corpus bytes) is localCheckpoint'ed once, every LM
    * statistic (left totals, left/right continuation fan-outs, B)
    * derives from it without re-exploding the corpus, and the per-type
    * ln-prob is computed ON the type table — so the corpus-sized bigram
    * stream shuffles through exactly ONE scoring join, not one per LM
    * table (the first cut joined bg against three tables and ran 4×
    * slower). Output: (doc_id, n_bigrams, avg_kn_logprob). */
  def kneserNeyLogProb(df: DataFrame, id: Column, text: Column,
      delta: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(delta > 0 && delta < 1, s"delta must be in (0,1): $delta")
    val bg = bigramPairs(df, id, text)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint() // LM-vocab-sized; every statistic derives from it
    val b = c12.count() // distinct bigram types — reads the checkpoint
    // left totals + continuation fan-outs from the TYPE table (passes
    // over pair counts, never over raw bigrams)
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1pl"))
    val right = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1pr"))
    val p = (col("c12").cast("double") - delta) / col("c1").cast("double") +
      lit(delta) * col("n1pl").cast("double") / col("c1").cast("double") *
        (col("n1pr").cast("double") / b.toDouble)
    val scored = c12.join(left, Seq("w1")).join(right, Seq("w2"))
      .select(col("w1"), col("w2"),
        (floor(log(p) * 10000 + 0.5) / 10000)
          .cast(DecimalType(28, 4)).as("lp4"))
    // shuffle-hash, build on the type table: Catalyst's size estimate
    // for bg is the (tiny) parquet bytes BEHIND the explode, so left to
    // itself it broadcasts the corpus-sized bigram stream — 20 s/query
    // at sf0.1 and a driver OOM at scale
    val lp = bg.join(scored.hint("shuffle_hash"), Seq("w1", "w2"))
      .select(col("doc_id"), col("lp4"))
    df.select(id.as("doc_id")).join(
        lp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp4")).as("sum4")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull, 0.0)
          .otherwise(floor(col("sum4").cast("double") / col("n_bigrams")
            * 10000 + 0.5) / 10000).as("avg_kn_logprob"))
  }

  /** Per-document top-`k` terms by TF-IDF (smoothed: tf · ln((N+1)/(df+1)))
    * — the classic keyword/feature-extraction pass. The score is 4-dp
    * rounded BEFORE ranking (ties broken by term asc): mathematically
    * equal scores reached through different ln() call sequences — e.g.
    * 2·ln(10) vs ln(100) — can differ in the last bit across engines,
    * and rounding first collapses those to one equality class so the
    * ranking is reproducible cross-engine.
    *
    * Plan at 100 TB: explode → map-side-combined (doc,term) count (the
    * one corpus-sized shuffle), doc-frequency aggregated FROM those
    * pairs (distinct-pair-sized, far below corpus bytes), a term-keyed
    * join of pair counts with df, and a doc-keyed window over ≤ |doc
    * vocab| rows per doc — every post-explode stage operates on pair
    * counts, never on raw text. */
  def tfIdfTopTerms(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count()
    val tf = df.select(id.as("doc_id"), explode(tokens(text)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .withColumn("score", floor(col("tf") * log((lit(n) + 1.0) / (col("df") + 1.0))
        * 10000 + 0.5) / 10000)
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Count-Min-Sketch heavy-hitter verification: build ONE mergeable CMS
    * over every token instance (Spark's codegen'd `count_min_sketch`
    * aggregate — fixed `ceil(2/eps) × ceil(ln(1/(1-confidence)))`
    * counter grid per partition, merged by counter-wise addition, so the
    * corpus pass is scan-bound with ~1 MB of state at the defaults no
    * matter the corpus size), then probe it for the exact top-k terms
    * and emit the CMS guarantee as a verdict column:
    * `true_count ≤ estimate ≤ true_count + eps·N` (N = total token
    * instances). Deterministic for a fixed seed. The k-row probe happens
    * driver-side on the single merged sketch — result-sized, not a
    * distributed-work collect.
    *
    * Output: (term, n_true, within_bound). */
  def cmsHeavyHitters(df: DataFrame, text: Column, k: Int,
      eps: Double = 1e-4, confidence: Double = 0.999,
      seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    val terms = df.select(explode(tokens(text)).as("term"))
    val (sketchBytes, total) = {
      val r = terms.agg(
        expr(s"count_min_sketch(term, ${eps}d, ${confidence}d, $seed)").as("cms"),
        count(lit(1)).as("n")).head()
      (r.getAs[Array[Byte]](0), r.getLong(1))
    }
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(sketchBytes)
    val slack = math.ceil(eps * total).toLong
    val top = terms.groupBy(col("term")).agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("term").asc).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    import spark.implicits._
    top.toSeq.map { case (t, n) =>
      val est = cms.estimateCount(t)
      (t, n, est >= n && est <= n + slack)
    }.toDF("term", "n_true", "within_bound")
  }

  /** Suffix-stripping stemmer (Porter-LITE, deliberately tiny): the five
    * highest-yield English suffix rules applied in order — sses→ss,
    * ies→i, drop plural s (not after s), and ing/ed off stems ≥3 chars.
    * A heuristic vocabulary consolidator for retrieval/drift statistics,
    * NOT a linguistics claim — rules are plain anchored regexes chosen
    * to behave identically under Java regex and RE2, so an oracle can
    * restate them verbatim. Pure codegen'd scan-stage expression. */
  def stemLite(term: Column): Column = {
    val r1 = regexp_replace(term, "sses$", "ss")
    val r2 = regexp_replace(r1, "ies$", "i")
    val r3 = regexp_replace(r2, "([^s])s$", "$1")
    val r4 = regexp_replace(r3, "([a-z]{3,})ing$", "$1")
    regexp_replace(r4, "([a-z]{3,})ed$", "$1")
  }

  /** Unigram-distribution drift per corpus slice: total-variation
    * distance between a slice's token distribution P and the
    * rest-of-corpus distribution Q — the mixture-audit statistic
    * ("which source stopped looking like the corpus?") that needs no
    * smoothing knobs, unlike KL.
    *
    * TVD = ½·Σ_t |p_t − q_t| over the whole vocabulary, but summing only
    * slice-PRESENT terms: for t absent from the slice |0 − q_t| = q_t,
    * and Σ_{t∉slice} q_t = 1 − Σ_{t∈slice} q_t — so
    * TVD = ½·(Σ_{t∈slice} |p−q| + 1 − Σ_{t∈slice} q), no slice×vocab
    * cross join, cost ∝ Σ per-slice vocab. All inputs are exact integer
    * counts; p, q and |p−q| are single IEEE ops on them, and both
    * per-term sums are 10-dp-floored decimals — order-independent and
    * bit-restatable by any engine (the b01/t18 contract).
    *
    * Output: (slice, n_terms, tvd6). Slices that are the whole corpus
    * (rest empty) are dropped — drift against nothing is undefined. */
  def distributionDrift(df: DataFrame, slice: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pairs = df.select(slice.as("slice"), explode(tokens(text)).as("term"))
    val sc = pairs.groupBy(col("slice"), col("term")).agg(count(lit(1)).as("c"))
      .persist()
    val sliceN = sc.groupBy(col("slice")).agg(sum(col("c")).as("n_slice"))
    val termG = sc.groupBy(col("term")).agg(sum(col("c")).as("c_glob"))
    val totalN = sc.agg(sum(col("c"))).head().getLong(0)
    val p = col("c").cast("double") / col("n_slice").cast("double")
    val q = (col("c_glob") - col("c")).cast("double") /
      (lit(totalN) - col("n_slice")).cast("double")
    val d10 = (c: Column) => (floor(c * 1e10 + 0.5) / 1e10).cast(DecimalType(38, 10))
    val out = sc
      .join(broadcast(sliceN), "slice")
      .join(termG, "term")
      .filter(col("n_slice") < totalN)
      .select(col("slice"), d10(abs(p - q)).as("ad"), d10(q).as("qd"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("ad")).as("sum_ad"), sum(col("qd")).as("sum_qd"))
      .select(col("slice"), col("n_terms"),
        (floor((col("sum_ad").cast("double") + 1.0 - col("sum_qd").cast("double"))
          / 2.0 * 1000000 + 0.5) / 1000000).as("tvd6"))
    out
  }

  /** Lexical-diversity profile per slice — the dataset-card vocabulary
    * stats: type-token ratio (distinct terms / total terms; collapses
    * toward 0 on template/boilerplate text) and the hapax fraction
    * (terms occurring exactly once / distinct terms; Zipfian prose sits
    * near 0.4–0.6, machine-generated or deduplicated-to-death text
    * falls far below). All counts exact integers; the two ratios are
    * single divisions, 6-dp floored.
    *
    * Scale shape: one (slice, term) count aggregate (map-side combined
    * — the inverted-index shuffle shape, pair counts not corpus bytes),
    * then a slice-keyed reduce over the distinct-term relation.
    * Output: (slice, n_tokens, n_types, n_hapax, ttr6, hapax_frac6). */
  def lexicalDiversity(df: DataFrame, slice: Column, text: Column): DataFrame = {
    val tf = df.select(slice.as("slice"), explode(tokens(text)).as("term"))
      .groupBy(col("slice"), col("term")).agg(count(lit(1)).as("c"))
    tf.groupBy(col("slice"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("slice"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (floor(col("n_types").cast("double") / col("n_tokens") * 1000000 + 0.5)
          / 1000000).as("ttr6"),
        (floor(col("n_hapax").cast("double") / col("n_types") * 1000000 + 0.5)
          / 1000000).as("hapax_frac6"))
  }

  /** Jensen-Shannon drift per slice — the second drift metric next to
    * [[distributionDrift]]'s TVD (JSD weights the SHAPE of the
    * disagreement: a term going 1% → 0% moves JSD far more than one
    * going 11% → 10%, which is what you want when hunting vocabulary
    * collapse between corpus snapshots). For each slice, the JSD (log₂,
    * so ∈ [0,1]) between the slice's term distribution P and the
    * complement-of-slice distribution Q:
    * JSD = ½ Σ [p·log₂(2p/(p+q)) + q·log₂(2q/(p+q))].
    *
    * Terms ABSENT from the slice fold algebraically — each contributes
    * exactly ½q, so their total is ½(1 − Σ_present q) and the sum runs
    * over slice-present terms only (same absent-mass folding as the TVD
    * op — no full-vocabulary grid is ever materialized). Per-term
    * contributions are 10-dp floored and DECIMAL-summed, so the result
    * is addition-order-free; every log argument is a ratio of exact
    * integer-derived doubles.
    *
    * Scale shape: identical to the TVD op — one (slice, term) count
    * aggregate (map-side combined), slice totals broadcast, global term
    * counts joined on the term key. Output: (slice, n_terms, jsd6). */
  def jsDivergenceDrift(df: DataFrame, slice: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pairs = df.select(slice.as("slice"), explode(tokens(text)).as("term"))
    val sc = pairs.groupBy(col("slice"), col("term")).agg(count(lit(1)).as("c"))
      .persist()
    val sliceN = sc.groupBy(col("slice")).agg(sum(col("c")).as("n_slice"))
    val termG = sc.groupBy(col("term")).agg(sum(col("c")).as("c_glob"))
    val totalN = sc.agg(sum(col("c"))).head().getLong(0)
    val p = col("c").cast("double") / col("n_slice").cast("double")
    val q = (col("c_glob") - col("c")).cast("double") /
      (lit(totalN) - col("n_slice")).cast("double")
    val log2 = (c: Column) => log(c) / log(lit(2.0))
    val term = p * log2(lit(2.0) * p / (p + q)) +
      when(col("c_glob") > col("c"), q * log2(lit(2.0) * q / (p + q)))
        .otherwise(lit(0.0))
    val d10 = (c: Column) => (floor(c * 1e10 + 0.5) / 1e10).cast(DecimalType(38, 10))
    sc.join(broadcast(sliceN), "slice")
      .join(termG, "term")
      .filter(col("n_slice") < totalN)
      .select(col("slice"), d10(term).as("td"), d10(q).as("qd"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("td")).as("sum_td"), sum(col("qd")).as("sum_qd"))
      .select(col("slice"), col("n_terms"),
        (floor((col("sum_td").cast("double") + 1.0 - col("sum_qd").cast("double"))
          / 2.0 * 1000000 + 0.5) / 1000000).as("jsd6"))
  }

  /** HTML → text extraction: the first transform of any web-crawl corpus
    * pass (the CommonCrawl WARC→WET step). Drops `<script>`/`<style>`
    * subtrees and comments FIRST (their bodies may contain bare `<` that
    * tag-stripping would otherwise mis-eat), then strips remaining tags,
    * decodes the six ubiquitous entities (`&amp;` last, per the spec, so
    * `&amp;lt;` yields the literal `&lt;`), and collapses whitespace
    * runs to single spaces.
    *
    * Pure codegen'd `regexp_replace`/`replace` chain — scan-stage at
    * 100 TB. Patterns are RE2-compatible (no lookaround/backreferences,
    * explicit `[ \t\n\r\f]` class instead of `\s` whose definition
    * differs between Java and RE2), so an oracle engine restates the
    * identical pipeline. */
  def htmlToText(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?is)<(?:script|style)[^>]*>.*?</(?:script|style)[ \\t\\n\\r\\f]*>", " ")
    val noComments = regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "(?s)<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
  }

  /** [[htmlToText]] over a corpus: (doc_id, text) of the extracted prose. */
  def stripHtml(df: DataFrame, id: Column, html: Column): DataFrame =
    df.select(id.as("doc_id"), htmlToText(html).as("text"))

  /** Tokenizer-fertility profile per group (language, script, source):
    * characters-per-token and tokens-per-doc from one scan — the
    * multilingual budget sanity check. A token budget split by raw
    * token counts silently over-serves scripts the tokenizer fragments
    * (high chars/token ≈ high subword fertility downstream) and
    * under-serves compact ones; this report is where that skew shows
    * up BEFORE a mixture is planned on top of it.
    *
    * One scan, one group-cardinality shuffle. Counts are exact
    * integers; the two ratios are single double divisions of exact
    * sums, 4-dp floored — identical IEEE in both engines. Empty-text
    * docs contribute 0 tokens but still count as docs (they dilute
    * tokens/doc — that is the point of the report). */
  def fertilityProfile(df: DataFrame, group: Column, text: Column): DataFrame = {
    def f4(c: Column) = floor(c * 10000 + 0.5) / 10000
    df.select(group.as("grp"), tokenCount(text).cast("long").as("__ntok"),
      length(text).cast("long").as("__nch"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens"),
        sum(col("__nch")).as("n_chars"))
      .select(col("grp"), col("n_docs"), col("n_tokens"), col("n_chars"),
        f4(col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("tok_per_doc4"),
        when(col("n_tokens") > 0,
          f4(col("n_chars").cast("double") / col("n_tokens").cast("double")))
          .as("chars_per_tok4"))
  }
}
