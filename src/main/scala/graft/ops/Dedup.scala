package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus pipelines. All operators
  * are single declarative plans (shuffle on the dedup key only, map-side
  * partial aggregation free from Catalyst) and are written to survive a
  * 1000-executor / 100 TB corpus:
  *  - exact dedup shuffles (key, id) only;
  *  - MinHash/SimHash candidate generation is LSH-bucketed so the pair
  *    space never materializes n²;
  *  - verification joins carry shingle-set arrays, not raw text.
  */
object Dedup {

  /** Normalized text key used by the exact dedup operators. */
  def normText(text: Column): Column = lower(trim(text))

  /** Small local inputs arrive as one scan partition, serializing the
    * heavy per-row work (shingling, 64 hash lanes, pair loops). Widen to
    * the session's shuffle parallelism when the scan would be narrower; a
    * no-op for big inputs that already scan wide (the 100 TB case).
    *
    * The width estimate comes from logical-plan statistics
    * (sizeInBytes / files.maxPartitionBytes ≈ scan partitions), NOT from
    * `df.rdd.getNumPartitions` — the latter forces physical planning of
    * the upstream plan before the caller's cache point. */
  private[graft] def ensureParallelism(df: DataFrame): DataFrame = {
    // register against the df's OWN session, not SparkSession.active —
    // the two differ whenever a caller builds plans for a session that
    // never became thread-active (exposed by DeterminismSpec's
    // newSession runs), and every shingle/gram op funnels through here
    graft.functions.VectorFunctions.register(df.sparkSession)
    val conf = df.sparkSession.sessionState.conf
    val target = conf.numShufflePartitions
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    val estScanParts = bytes / math.max(1L, conf.filesMaxPartitionBytes) + 1
    if (estScanParts < target) df.repartition(target) else df
  }

  /** Exact dedup: one surviving (minimum) id per distinct key. */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"))
      .select(col("keep_id"))

  /** Exact dedup keeping the full surviving rows (min id per key wins) —
    * a single window pass, no self-join back. */
  def exactRows(df: DataFrame, key: Column, id: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(key).orderBy(id)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Distinct word n-gram shingles of a text column (lowercased,
    * whitespace-tokenized). Empty/short texts yield their full token join
    * so no document silently disappears. One native pass per row
    * ([[graft.functions.WordShingles]]); the HOF formulation below is
    * kept for the bit-equality spec. */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.HashFunctions.wordShingles(normText(text), n)

  /** The higher-order-function formulation wordShingles replaced;
    * private to the bit-equality spec. */
  private[graft] def wordShinglesHof(text: Column, n: Int): Column = {
    val toks = split(normText(text), "\\s+")
    val count = greatest(size(toks) - (n - 1), lit(1))
    array_distinct(transform(sequence(lit(0), count - 1),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** doc -> (id, shingles array). */
  private def shingled(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    // registration must precede the select — Dataset analysis is EAGER,
    // so the graft_word_shingles lookup happens inside df.select, not
    // at execution (DeterminismSpec's never-active session caught this)
    graft.functions.VectorFunctions.register(df.sparkSession)
    ensureParallelism(df.select(id.as("sid"), wordShingles(text, n).as("shingles")))
  }

  /** Inputs estimated above this size default to the rarity-ordered
    * prefix (the extra DF join pays for itself once a corpus-hot shingle
    * could fan out quadratically inside its candidate bucket). The
    * crossover is LOW — measured steady-state (5-rep MicroBench,
    * local[32]): at 65 KB of parquet hash wins by ~0.4 s (pure shuffle
    * round-trip constants), at 594 KB rarity already wins 2.1 s vs
    * 3.4 s, at 5.4 MB it wins 7.6 s vs 10 s — hot-shingle fan-out grows
    * with corpus size while the rarity DF-join cost stays near-linear,
    * so any real corpus wants rarity and only interactive-tiny inputs
    * want the zero-shuffle hash order. */
  private val RarityAutoBytes = BigInt(1L << 18)

  /** All-pairs exact n-gram Jaccard with ppjoin-style prefix filtering:
    * shingles are globally ordered; a pair with jaccard ≥ t must share a
    * shingle within each side's first |S| − ⌈t·|S|⌉ + 1 shingles under
    * that order (prefix-filter theorem), so only prefix shingles are
    * indexed for the candidate join. Exact verification on the full sets
    * follows; output = naive all-pairs result, cost ≪ n².
    *
    * Two global orders, selected by `rarityPrefix`:
    *  - hash order (small inputs): computed per-row (sort + slice inside
    *    codegen), no extra joins. Scale caveat: a corpus-hot shingle
    *    (boilerplate header, license text) that lands in short documents'
    *    prefixes fans out quadratically inside its bucket.
    *  - rarity order (default for large inputs): shingles ordered by
    *    ascending corpus document frequency, so globally hot shingles
    *    land in suffixes and never enter the candidate index. Costs one
    *    DF aggregation + join + per-doc window; identical output (the
    *    theorem holds for any global total order — spec-asserted).
    * `rarityPrefix = None` picks by input size statistics. */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double, rarityPrefix: Option[Boolean] = None): DataFrame = {
    // shingle sets feed both candidate generation and verification — cache
    // instead of recomputing the tokenize+shingle scan twice
    val sh = shingled(df, id, text, n).cache()
    val useRarity = rarityPrefix.getOrElse(
      df.queryExecution.analyzed.stats.sizeInBytes > RarityAutoBytes)
    val cands = if (useRarity) rarityPrefixCandidates(sh, threshold)
      else hashPrefixCandidates(sh, threshold)
    verifyJaccard(cands, sh, threshold)
  }

  /** Candidate pairs only (pre-verification) — exposed for the prefix-
    * order specs, which assert identical final pairs and a reduced
    * candidate count under skew. */
  private[graft] def candidatePairs(df: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double, rarity: Boolean): DataFrame = {
    val sh = shingled(df, id, text, n)
    if (rarity) rarityPrefixCandidates(sh, threshold)
    else hashPrefixCandidates(sh, threshold)
  }

  /** Hash-ordered prefixes: global order = (xxhash64(shingle), shingle),
    * selected per row by the native [[graft.functions.PrefixByHash]]
    * expression — zero extra shuffles (each doc sorts only its own
    * shingles). Two slower formulations are retired under spec/bench
    * evidence: a per-row `array_sort(transform(struct(...)))` HOF
    * (interpreted lambda per shingle, ~4 s of d02's 6 s at sf0.1) and an
    * explode + per-doc row_number window (all-codegen but shuffles the
    * entire exploded shingle relation — 2× slower at sf1, where the
    * shuffle dominates). */
  private def hashPrefixCandidates(sh: DataFrame, threshold: Double): DataFrame = {
    val prefLen =
      (size(col("shingles")) - ceil(size(col("shingles")) * threshold) + 1).cast("int")
    val prefix = sh.select(col("sid"), size(col("shingles")).as("nsh"),
        explode(graft.functions.HashFunctions.prefixByHash(col("shingles"), prefLen)).as("sh"))
      .select(col("sid"), col("sh"), col("nsh"))
    joinPrefixes(prefix, threshold)
  }

  /** Rarity-ordered prefixes: global order = (document frequency asc,
    * shingle asc) — a total order, so the prefix-filter theorem applies
    * unchanged. The DF table reuses the exploded shingle relation (one
    * map-side-combined aggregation); the per-doc window is bounded by the
    * doc's shingle count. */
  private def rarityPrefixCandidates(sh: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = sh.select(col("sid"), size(col("shingles")).as("nsh"),
      explode(col("shingles")).as("sh"))
    val dfTab = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val prefLen = (col("nsh") - ceil(col("nsh") * threshold) + 1).cast("int")
    val prefix = ex.join(dfTab, "sh")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("sid")).orderBy(col("df"), col("sh"))))
      .filter(col("__rn") <= prefLen)
      .select(col("sid"), col("sh"), col("nsh"))
    joinPrefixes(prefix, threshold)
  }

  /** Prefix self-join with the ppjoin length filter:
    * jaccard ≥ t forces t·|A| ≤ |B| ≤ |A|/t. */
  private def joinPrefixes(prefix: DataFrame, threshold: Double): DataFrame =
    prefix.as("a")
      .join(prefix.as("b"), col("a.sh") === col("b.sh") && col("a.sid") < col("b.sid") &&
        col("b.nsh") >= col("a.nsh") * threshold && col("a.nsh") >= col("b.nsh") * threshold)
      .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
      .distinct()

  /** Exact-Jaccard verification of candidate pairs against full shingle
    * sets (array_intersect is codegen'd; arrays ride the joins once). */
  private def verifyJaccard(cands: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    cands
      .join(sh.select(col("sid").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col("sid").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("shared") / (size(col("sh_a")) + size(col("sh_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** MinHash signature: for each of `numHashes` seeds, the minimum
    * xxhash64(seed, shingle) over the document's shingles. One codegen'd
    * pass over the shingle array computing every lane
    * ([[graft.functions.MinHashLanes]]) — zero shuffles, and each
    * shingle's bytes are hashed k times without k interpreted array
    * traversals (the HOF formulation below, kept for the bit-equality
    * spec, was the dominant cost of the signature stage). */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.HashFunctions.minHashLanes(shingles, numHashes)

  /** The higher-order-function formulation minHashSignature replaced;
    * private to the bit-equality spec. */
  private[graft] def minHashSignatureHof(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map(s =>
      array_min(transform(shingles, sh => xxhash64(lit(s), sh)))): _*)

  def minHashSignatures(df: DataFrame, id: Column, text: Column, n: Int,
      numHashes: Int): DataFrame =
    shingled(df, id, text, n)
      .select(col("sid"), minHashSignature(col("shingles"), numHashes).as("sig"))

  /** (sid, band, bhash) rows — the LSH bucket table. This is ALSO the
    * persistable index artifact of the incremental path: write it once
    * per corpus snapshot and arrival batches join against it. */
  private def bandedTable(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("sid"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band", "bhash")))

  /** LSH banding: emit (band index, hash of the band's signature slice) per
    * doc, self-join per bucket → candidate pairs (each pair may surface in
    * several bands; distinct). Never materializes non-colliding pairs. */
  def minHashCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedTable(sigs, bands, rowsPerBand)
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bhash") === col("r.bhash") &&
        col("l.sid") < col("r.sid"))
      .select(col("l.sid").as("id_a"), col("r.sid").as("id_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline with exact-Jaccard verification of
    * the LSH candidates (estimate generates, exact confirms — no
    * probabilistic output). Returns (id_a, id_b, jaccard ≥ threshold). */
  def minHashNearDups(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sh = shingled(df, id, text, n).cache()
    val sigDf = sh.select(col("sid"), minHashSignature(col("shingles"), numHashes).as("sig"))
    val cands = minHashCandidates(sigDf, bands, rowsPerBand)
    verifyJaccard(cands, sh, threshold)
  }

  /** Incremental MinHash-LSH maintenance: given an already-deduped base
    * corpus and a batch of arrivals, return EXACTLY the near-dup pairs
    * that involve at least one arrival — unioned with the base run's own
    * pairs this reconstructs the full-corpus pair set (spec-asserted), so
    * a nightly 1% ingest probes the index instead of re-deduping 100 TB.
    *
    * Cost shape: signatures/bands are computed only for the arrivals plus
    * one pass over the base to rebuild its bucket table — and that table
    * ([[bandedTable]]'s (sid, band, bhash) rows) is the persistable index
    * artifact: write it at snapshot time and this method's base-side scan
    * disappears entirely. The candidate join keys on (band, bhash) with
    * the SMALL arrival side probing, so candidate volume scales with the
    * batch, never the corpus².
    *
    * Output: (id_a, id_b, jaccard), id_a < id_b, exact-Jaccard verified
    * like [[minHashNearDups]]. */
  def minHashNearDupsIncremental(base: DataFrame, arrivals: DataFrame,
      id: Column, text: Column, n: Int, threshold: Double,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    val shBase = shingled(base, id, text, n)
    val shNew = shingled(arrivals, id, text, n).cache()
    def sigs(sh: DataFrame) =
      sh.select(col("sid"), minHashSignature(col("shingles"), numHashes).as("sig"))
    val bAll = bandedTable(sigs(shBase).unionByName(sigs(shNew)), bands, rowsPerBand)
    val bNew = bandedTable(sigs(shNew), bands, rowsPerBand)
    val cands = bNew.as("l").join(bAll.as("r"),
        col("l.band") === col("r.band") && col("l.bhash") === col("r.bhash") &&
          col("l.sid") =!= col("r.sid"))
      .select(least(col("l.sid"), col("r.sid")).as("id_a"),
        greatest(col("l.sid"), col("r.sid")).as("id_b"))
      .distinct()
    verifyJaccard(cands, shBase.unionByName(shNew), threshold)
  }

  /** Public (sid, band, bhash) LSH bucket rows straight from raw text —
    * the stateless prefix of the MinHash pipeline (shingle → signature →
    * band hash is per-row Column work, no shuffle), exposed so a
    * STREAMING plan can key its state store by (band, bhash) with the
    * exact same bucketing the batch path joins on
    * ([[graft.streaming.CorpusStreams.nearDupCandidatesPlan]]). */
  def lshBucketRows(df: DataFrame, id: Column, text: Column, n: Int,
      numHashes: Int = 64, bands: Int = 16): DataFrame =
    bandedTable(df.select(id.as("sid"),
        minHashSignature(wordShingles(text, n), numHashes).as("sig")),
      bands, numHashes / bands)

  /** Maintain a persisted banded-LSH index ([[lshBucketRows]]' (sid,
    * band, bhash) artifact) under a merge batch: drop every bucket row
    * of a TOUCHED id (upserted or erased), append fresh rows for the
    * upserts — the point where the lake story (e07 upsert / e09
    * erasure) and the dedup story (d03/e06) meet. The maintained index
    * is row-identical to rebuilding [[lshBucketRows]] over the
    * post-merge corpus (spec-asserted), so a nightly merge maintains
    * the dedup index at batch cost instead of re-signing 100 TB.
    *
    * Scale shape: one anti-join keyed on sid (broadcast when the touch
    * set is batch-sized) + signature work for the upserts only; the
    * surviving index rows are never recomputed or shuffled beyond the
    * anti-join. An id in both inputs is treated as upserted (the fresh
    * rows win — erasure of a re-written doc is a contradiction callers
    * should resolve upstream). */
  def lshIndexMaintain(index: DataFrame, upserts: DataFrame,
      upId: Column, upText: Column, erasures: DataFrame, eId: Column,
      n: Int, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val up = upserts.select(upId.as("sid"), upText.as("__t"))
    val touched = erasures.select(eId.as("sid"))
      .unionByName(up.select(col("sid"))).distinct()
    val kept = index.join(touched, Seq("sid"), "left_anti")
    val fresh = lshBucketRows(up, col("sid"), col("__t"), n, numHashes, bands)
    kept.unionByName(fresh)
  }

  /** Candidate pairs straight from a persisted (sid, band, bhash) index
    * — the bucket self-join of [[minHashCandidates]] exposed for
    * index-maintenance consumers ([[lshIndexMaintain]]): candidates
    * come from the index artifact, verification joins the corpus via
    * [[verifyCandidatePairs]]. */
  def lshIndexCandidates(index: DataFrame): DataFrame = {
    val l = index.as("l"); val r = index.as("r")
    l.join(r, col("l.band") === col("r.band") &&
        col("l.bhash") === col("r.bhash") && col("l.sid") < col("r.sid"))
      .select(col("l.sid").as("id_a"), col("r.sid").as("id_b"))
      .distinct()
  }

  /** Exact-Jaccard verification of an externally produced candidate-pair
    * set (id_a, id_b) against the corpus — the confirm step shared by
    * the batch and streaming LSH paths. */
  def verifyCandidatePairs(cands: DataFrame, df: DataFrame, id: Column,
      text: Column, n: Int, threshold: Double): DataFrame =
    verifyJaccard(cands, shingled(df, id, text, n), threshold)

  /** SEMANTIC decontamination: flag corpus vectors whose max cosine
    * against an eval/benchmark embedding set reaches `threshold` — the
    * embedding-space complement of the n-gram [[contaminated]] family
    * (paraphrased benchmark leakage that shares no 13-gram).
    *
    * Scale shape: eval sets are result-sized by definition (a benchmark
    * is 10²–10⁵ items), so the eval matrix is collected once and rides
    * the plan AS A LITERAL — the corpus pass is one codegen'd
    * [[graft.functions.TopClusters]] scan (nearest eval per row, zero
    * shuffles, the IVF-routing primitive reused), followed by a
    * broadcast join against the eval-id table only to attach the match
    * id and exact cosine. No corpus-sized shuffle anywhere; cost is
    * |corpus|·|eval|·dim multiply-adds inside whole-stage codegen.
    *
    * Output: (vec_id, eval_id, cosine) for contaminated rows only —
    * eval_id is the nearest eval vector (ties by eval position asc). */
  def semanticDecontam(corpus: DataFrame, id: Column, vec: Column,
      evalSet: DataFrame, evalId: Column, evalVec: Column,
      threshold: Double): DataFrame = {
    val evals = evalSet
      .select(evalId.cast("long").as("eid"), evalVec.cast("array<double>").as("ev"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    require(evals.nonEmpty, "semanticDecontam needs a non-empty eval set")
    val matrix = evals.map(_._2.toSeq).toSeq
    val spark = corpus.sparkSession
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    // position order == eval-id order, so TopClusters' (cos desc, id asc)
    // tie-break is an (cos desc, eval_id asc) tie-break
    val idx = evals.zipWithIndex
      .map { case ((eid, ev), pos) => (pos, eid, ev) }.toSeq
      .toDF("__pos", "eval_id", "__ev")
    corpus.select(id.as("vec_id"), vec.cast("array<double>").as("__cv"))
      .withColumn("__pos", element_at(
        graft.functions.VectorFunctions.topClusters(col("__cv"), matrix, 1), 1))
      .join(broadcast(idx), "__pos")
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosine(col("__cv"), col("__ev")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id"), col("eval_id"), col("cosine"))
  }

  /** Cross-engine-reproducible 62-bit token hash: two independent
    * polynomial hashes over the char codes (base 31 mod 1e9+7 in the high
    * 32 bits, base 131 mod 998244353 in the low). Unlike xxhash64 this is
    * expressible in any SQL engine (list_reduce in DuckDB), which is what
    * makes the SimHash gate oracle-checkable; bits 62–63 carry no entropy
    * (identically 0 for every input) so they never affect Hamming
    * distances. Computed by the codegen'd
    * [[graft.functions.PolyHash]] loop (bit-identical to the
    * `aggregate(transform(split(...)))` HOF formulation, which evaluated
    * its lambdas interpreted per char and dominated the SimHash stage). */
  def portableTokenHash(tok: Column): Column =
    graft.functions.HashFunctions.polyHash(tok, 31, 1000000007L) * lit(4294967296L) +
      graft.functions.HashFunctions.polyHash(tok, 131, 998244353L)

  /** 64-bit SimHash over whitespace tokens: per bit, sign of the sum of
    * ±1 token-hash bit contributions (explode + 64 codegen'd sum-
    * aggregates; one shuffle). A per-row formulation with higher-order
    * `aggregate` lanes was measured ~3× slower — HOF lambdas evaluate
    * interpreted per element, codegen'd hash aggregates don't.
    * `tokenHash` defaults to xxhash64 (fastest); pass
    * [[portableTokenHash]] for cross-engine-verifiable signatures. */
  def simHash(df: DataFrame, id: Column, text: Column,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val ex = ensureParallelism(df.select(id.as("sid"),
      explode(split(normText(text), "\\s+")).as("tok")))
      .withColumn("th", tokenHash(col("tok")))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("th"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    val agged = ex.groupBy(col("sid")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    agged.select(col("sid"), sim.as("simhash"))
  }

  /** Portable-hash SimHash signatures computed PER ROW by the native
    * [[graft.functions.SimHashPortable]] expression — bit-identical to
    * `simHash(df, id, text, portableTokenHash)` (integer bit-count sums
    * are order-independent; spec-asserted), but ONE scan-stage pass:
    * no token explode through a shuffle, no 64-column hash aggregate.
    * The r17 before-run measured the aggregate formulation at 7.5 s
    * (sf1, 32c) for d04; the signature stage is now scan-bound, the
    * same shape as the MinHash lanes. Rows whose text is NULL drop out
    * (explode-of-null semantics, preserved by the isNotNull filter). */
  def simHashPortableSignatures(df: DataFrame, id: Column, text: Column): DataFrame = {
    ensureParallelism(df.select(id.as("sid"),
        graft.functions.HashFunctions.simHashPortable(
          split(normText(text), "\\s+")).as("simhash")))
      .filter(col("simhash").isNotNull)
  }

  /** SimHash near-dups with Hamming distance ≤ maxHamming, candidates by
    * 16-bit chunk banding (pigeonhole: ≤3 differing bits over 4 chunks ⇒
    * ≥1 identical chunk), verified with bit_count(xor).
    *
    * `tokenHash = None` (default) rides the native per-row portable
    * signature ([[simHashPortableSignatures]]); passing an explicit hash
    * keeps the aggregate formulation (the spec's equality twin and the
    * xxhash64 variant). */
  def simHashNearDups(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, tokenHash: Option[Column => Column] = None): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for hamming <= 3")
    val hashed = tokenHash match {
      case Some(h) => simHash(df, id, text, h)
      case None => simHashPortableSignatures(df, id, text)
    }
    val banded = hashed.select(col("sid"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFF)): _*))
        .as(Seq("chunk", "cval")))
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r, col("l.chunk") === col("r.chunk") && col("l.cval") === col("r.cval") &&
        col("l.sid") < col("r.sid"))
      .select(col("l.sid").as("id_a"), col("r.sid").as("id_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair relation: every id in
    * `ids` labeled with the smallest id reachable through `pairs` (its
    * cluster canonical; singletons label themselves). This is the step
    * that turns pairwise near-dup output into corpus-level clusters —
    * near-dup similarity is not transitive, but dedup policy treats the
    * transitive closure as one duplicate group (one kept doc per
    * component).
    *
    * Each round combines min-label propagation over the symmetric edge
    * list with pointer jumping (label ← label of one's own label), so
    * convergence is O(log n) rounds even on a path graph — neighbor
    * propagation alone needs O(component diameter). Per round: two
    * keyed shuffle-joins + one aggregation over (node, label) pairs
    * only — no row data rides the iteration. The driver loop is control
    * flow only (one bounded emptiness probe per round); labels are
    * `localCheckpoint`ed so round N's plan doesn't replay rounds
    * 1..N−1's lineage. Exhausting `maxRounds` before the fixpoint
    * throws rather than returning a partial (wrong) labeling. */
  def connectedComponents(pairs: DataFrame, idA: Column, idB: Column,
      ids: DataFrame, id: Column, maxRounds: Int = 25): DataFrame = {
    val edges = pairs.select(idA.as("src"), idB.as("dst"))
      .union(pairs.select(idB.as("src"), idA.as("dst")))
      .localCheckpoint()
    // The iteration runs over the EDGE ENDPOINT set only, not the full
    // `ids` table (round-17 optimization, guide §2.3 — shuffle fewer
    // bytes): a node outside `pairs` is a singleton whose label can
    // never change, so carrying it through every round's three
    // endpoint-sized shuffles is pure waste — near-dup pair sets are
    // typically ~1% of the corpus (Lee et al.), so the loop tables
    // shrink ~100×. Singletons are attached at the END by one left
    // join + coalesce(label, node) — row-identical output (label = min
    // reachable id; a singleton's min reachable id is itself), asserted
    // by the existing CC specs and every CC-consuming oracle gate.
    // Labels of endpoints only ever point at endpoint ids (min over
    // self ∪ neighbors), so the pointer-jumping self-join stays closed
    // over the endpoint set.
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("label")).as("nbr_label"))
      val propagated = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jumping: follow one's label to ITS label — roughly
      // halves the distance to the component minimum every round, so a
      // path graph converges in O(log n) rounds where neighbor
      // propagation alone needs O(diameter) (a long duplicate chain —
      // page-per-page near-dups of a book — would blow the round cap)
      val next = propagated
        .join(propagated.select(col("node").as("l_node"), col("label").as("l_label")),
          propagated("label") === col("l_node"), "left")
        .select(col("node"), col("old_label"),
          least(col("label"), coalesce(col("l_label"), col("label"))).as("label"))
        .localCheckpoint()
      converged = next.filter(col("label") < col("old_label")).isEmpty
      // next's eager checkpoint consumed the superseded label table —
      // release it (Ckpt ladder; the final round's checkpoint IS the
      // returned labeling and stays persisted)
      Ckpt.release(labels)
      labels = next.select(col("node"), col("label"))
      round += 1
    }
    // a partial labeling silently merges/splits clusters downstream —
    // refuse instead
    require(converged,
      s"connectedComponents did not converge within $maxRounds rounds")
    // the returned labeling no longer references the edge checkpoint
    Ckpt.release(edges)
    // singletons (ids outside the pair graph) label themselves; the
    // endpoint labeling is tiny next to `ids`, so this join broadcasts
    ids.select(id.as("node"))
      .join(labels.withColumnRenamed("node", "__ep"),
        col("node") === col("__ep"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** Benchmark decontamination: training documents sharing at least one
    * word n-gram with any document of an evaluation set (the standard
    * n-gram-overlap contamination test). The eval shingle set is tiny
    * next to a training corpus, so it is deduplicated and broadcast —
    * the train side streams through a broadcast-hash semi join inside
    * its scan stage, no shuffle of the training corpus. */
  def contaminated(train: DataFrame, trainId: Column, trainText: Column,
      eval: DataFrame, evalText: Column, n: Int): DataFrame = {
    val evalShingles = eval
      .select(explode(wordShingles(evalText, n)).as("sh")).distinct()
    train
      .select(trainId.as("doc_id"), explode(wordShingles(trainText, n)).as("sh"))
      .join(broadcast(evalShingles), Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** [[contaminated]] with the eval set as a BLOOM BITSET instead of a
    * broadcast hash table — the 100 TB spelling of decontamination. The
    * distinct eval shingle hashes build a full-width double-hashing
    * bitset ([[graft.functions.BloomSet]], sized at `fpp`); the train
    * side then filters inside its scan stage with a codegen'd probe
    * against the bitset riding the plan as one binary literal. NO join
    * operator at all — where [[contaminated]] builds a broadcast hash
    * relation of every distinct eval shingle STRING (gigabytes at a
    * large eval suite), the bitset is ~1.44·n·log₂(1/fpp) BITS (≈ 4.8 MB
    * for 10⁶ shingles at 1e-8), and the probe is one splitmix64 remix +
    * k bit tests per shingle.
    *
    * Approximate by construction, ONE-SIDED: contaminated docs are NEVER
    * missed (the safe direction for decontamination); an uncontaminated
    * doc is falsely flagged with probability ≈ `fpp` per distinct train
    * shingle. The default 1e-9 puts the expected false flags of a 10⁸-
    * shingle corpus below 0.1 — and unlike spark-sketch's filter, whose
    * 32-bit hashing floors the real rate near 3e-6 no matter the bits
    * (measured, see [[graft.functions.BloomSet]]), the full-width construction
    * actually delivers it.
    *
    * The eval hash set is collected to the driver to build the bitset —
    * bounded by the decontamination premise itself (an eval/benchmark
    * suite, not a corpus; 10⁷ shingles = 80 MB), the same boundedness
    * class as [[graft.ops.Similarity.knnJoinBroadcast]]'s corpus. */
  def contaminatedBloom(train: DataFrame, trainId: Column, trainText: Column,
      eval: DataFrame, evalText: Column, n: Int, fpp: Double = 1e-9): DataFrame = {
    require(fpp > 0 && fpp < 0.1, s"fpp must be in (0, 0.1), got $fpp")
    val spark = train.sparkSession
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val hashes = eval
      .select(explode(wordShingles(evalText, n)).as("sh"))
      .select(xxhash64(col("sh")).as("h")).distinct()
      .as[Long].collect()
    val nItems = math.max(1L, hashes.length.toLong)
    val m = graft.functions.BloomSet.optimalNumBits(nItems, fpp)
    val k = graft.functions.BloomSet.optimalNumProbes(nItems, m)
    val bits = graft.functions.BloomSet.build(hashes, m, k)
    train
      .select(trainId.as("doc_id"), explode(wordShingles(trainText, n)).as("sh"))
      .filter(call_function("graft_bloom_contains",
        lit(bits), xxhash64(col("sh")), lit(k)))
      .select(col("doc_id")).distinct()
  }

  /** Per-document contamination REPORT — not just the boolean flag of
    * [[contaminated]] but (n_shingles, n_hits, frac) per contaminated
    * train doc: the numbers a pipeline needs to decide drop vs trim vs
    * keep (e.g. "drop above 5% overlap, flag above 0.1%"). Cost shape:
    * the eval shingle set broadcasts exactly as in [[contaminated]];
    * the train side explodes its (already distinct) shingles, tags hits
    * via the broadcast left join, and ONE keyed shuffle with map-side
    * combine folds everything back to a single row per contaminated doc
    * — the exploded rows never cross the wire unreduced. */
  def contaminationReport(train: DataFrame, trainId: Column, trainText: Column,
      eval: DataFrame, evalText: Column, n: Int): DataFrame = {
    val evalShingles = eval
      .select(explode(wordShingles(evalText, n)).as("sh")).distinct()
      .withColumn("__hit", lit(1L))
    train
      .select(trainId.as("doc_id"), wordShingles(trainText, n).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"),
        explode(col("shs")).as("sh"))
      .join(broadcast(evalShingles), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_shingles")).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .filter(col("n_hits") > 0)
      .withColumn("frac", col("n_hits").cast("double") / col("n_shingles"))
  }

  /** [[contaminationReport]] through the Bloom bitset — ZERO shuffles:
    * the per-doc hit count folds inside the scan stage via a
    * higher-order `aggregate` over the shingle array probing the
    * plan-literal bitset ([[graft.functions.BloomSet]]), so each train
    * row produces its report row in place — no explode, no join, no
    * aggregation exchange. Same one-sided error as [[contaminatedBloom]]:
    * n_hits can only OVERcount (by ≈ fpp per distinct shingle), so no
    * contaminated doc is missed and no true hit is dropped. */
  def contaminationReportBloom(train: DataFrame, trainId: Column,
      trainText: Column, eval: DataFrame, evalText: Column, n: Int,
      fpp: Double = 1e-9): DataFrame = {
    require(fpp > 0 && fpp < 0.1, s"fpp must be in (0, 0.1), got $fpp")
    val spark = train.sparkSession
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val hashes = eval
      .select(explode(wordShingles(evalText, n)).as("sh"))
      .select(xxhash64(col("sh")).as("h")).distinct()
      .as[Long].collect()
    val nItems = math.max(1L, hashes.length.toLong)
    val m = graft.functions.BloomSet.optimalNumBits(nItems, fpp)
    val k = graft.functions.BloomSet.optimalNumProbes(nItems, m)
    val bits = graft.functions.BloomSet.build(hashes, m, k)
    train
      .select(trainId.as("doc_id"), wordShingles(trainText, n).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"),
        aggregate(col("shs"), lit(0L), (acc, sh) =>
          acc + when(call_function("graft_bloom_contains",
            lit(bits), xxhash64(sh), lit(k)), 1L).otherwise(0L)).as("n_hits"))
      .filter(col("n_hits") > 0)
      .withColumn("frac", col("n_hits").cast("double") / col("n_shingles"))
  }

  /** CORPUS-level n-gram overlap between two document sets — one row:
    * (n_a, n_b, n_inter, n_union, jaccard) over the corpora's DISTINCT
    * shingle sets. The corpus-pair analogue of the per-doc report:
    * "how much of snapshot B is already in snapshot A", dataset
    * redundancy between two crawls, eval-suite overlap across versions.
    *
    * Cost shape: both sides explode into (shingle, side) rows, ONE
    * hash shuffle on the shingle groups them (map-side combine folds
    * each partition's duplicate shingles first), and a global aggregate
    * of the per-shingle membership bits is metadata-scale. Never a
    * join, never a driver-side set. */
  def corpusOverlap(a: DataFrame, aText: Column, b: DataFrame, bText: Column,
      n: Int): DataFrame = {
    val sa = a.select(explode(wordShingles(aText, n)).as("sh"))
      .withColumn("__side", lit(1))
    val sb = b.select(explode(wordShingles(bText, n)).as("sh"))
      .withColumn("__side", lit(2))
    sa.unionByName(sb)
      .groupBy(col("sh"))
      .agg(max(when(col("__side") === 1, 1L).otherwise(0L)).as("in_a"),
        max(when(col("__side") === 2, 1L).otherwise(0L)).as("in_b"))
      .agg(sum(col("in_a")).as("n_a"), sum(col("in_b")).as("n_b"),
        sum(col("in_a") * col("in_b")).as("n_inter"),
        count(lit(1)).as("n_union"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
  }

  /** Bottom-k (KMV) shingle sketch of a corpus: the k smallest DISTINCT
    * xxhash64 shingle hashes, collected to the driver (k longs — 32 KB
    * at the 4096 default). Sketch each corpus ONCE (one distinct
    * shuffle + a TakeOrdered), then compare any number of corpus PAIRS
    * driver-side for free via [[kmvJaccard]] — the right shape when
    * overlap matrices over many snapshots/shards are needed and
    * [[corpusOverlap]]'s per-pair shuffle would be rerun O(pairs)
    * times. Deterministic: same corpus → same sketch, any engine. */
  def shingleSketch(df: DataFrame, text: Column, n: Int,
      k: Int = 4096): Array[Long] = {
    require(k > 0, s"sketch size k must be positive, got $k")
    import df.sparkSession.implicits._
    df.select(explode(wordShingles(text, n)).as("sh"))
      .select(xxhash64(col("sh")).as("h")).distinct()
      .orderBy(col("h").asc).limit(k).as[Long].collect()
  }

  /** KMV Jaccard estimate from two [[shingleSketch]] bottom-k sketches
    * (pass the SAME k the sketches were built with): the bottom-k of
    * the sketch union is a uniform sample of the union of the two
    * shingle sets (the hash order is item-independent), and any sampled
    * hash belonging to a side is guaranteed present in that side's
    * sketch, so the fraction present in BOTH estimates the true Jaccard
    * with RMSE ≈ 1/√k (~1.6% at k=4096). Exact — not an estimate —
    * whenever the union of distinct shingles fits in k. */
  def kmvJaccard(a: Array[Long], b: Array[Long], k: Int = 4096): Double = {
    require(k >= a.length && k >= b.length,
      s"k=$k smaller than a sketch (${a.length}/${b.length}) — pass the build-time k")
    if (a.isEmpty && b.isEmpty) return 0.0
    val union = (a.toSet ++ b.toSet).toArray.sorted.take(k)
    val (aSet, bSet) = (a.toSet, b.toSet)
    union.count(h => aSet(h) && bSet(h)).toDouble / union.length
  }

  /** EXACT shared-substring detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": verbatim n-token
    * spans shared across documents — the signal their suffix-array
    * pipeline extracts, here as a distributed span-hash join): every
    * distinct word n-gram per doc keys a (doc, span) relation; spans
    * seen in 2..`maxDocsPerSpan` docs generate pairs, aggregated to
    * (id_a, id_b, n_shared) counts of distinct shared spans. The join
    * key is `xxhash64(span)` (64-bit; 2⁻⁶⁴-scale collisions accepted at
    * corpus scale), spans above `maxDocsPerSpan` are dropped BEFORE the
    * pair join — a boilerplate span in a million docs would otherwise
    * fan out 10¹² pairs; the cap keeps candidates ∝ output, the same
    * guard as d02's rarity prefix. */
  def sharedSpanPairs(df: DataFrame, id: Column, text: Column, n: Int = 8,
      maxDocsPerSpan: Int = 1000): DataFrame = {
    val sh = df.select(id.as("doc_id"), explode(wordShingles(text, n)).as("sp"))
      .select(col("doc_id"), xxhash64(col("sp")).as("h")).distinct()
    val ok = sh.groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs").between(2, maxDocsPerSpan))
      .select(col("h"))
    val cand = sh.join(ok, "h")
    val a = cand.select(col("h"), col("doc_id").as("id_a"))
    val b = cand.select(col("h"), col("doc_id").as("id_b"))
    a.join(b, Seq("h")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
  }

  /** Asymmetric shingle CONTAINMENT pairs:
    * |A∩B| / min(|A|,|B|) ≥ threshold — quote/excerpt/subset detection,
    * the relation Jaccard structurally misses (a 12-word excerpt of a
    * 400-word document has containment 1.0 and Jaccard ≈ 0.03).
    *
    * Same candidate discipline as [[sharedSpanPairs]]: shingles hashed
    * to 64 bits, shingles in more than `maxDocsPerShingle` docs dropped
    * BEFORE the pair join (boilerplate would fan out quadratically), the
    * pair aggregation counts shared shingles, and sizes join in at
    * pair-count granularity. Exactness caveat: a 2⁻⁶⁴ hash collision can
    * overcount one shared shingle — the [[Pipeline.snapshotDiff]]-class
    * tradeoff, documented there.
    *
    * Output: (id_a, id_b, n_shared, containment 4-dp), id_a < id_b. */
  def containmentPairs(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double, maxDocsPerShingle: Int = 1000): DataFrame = {
    val base = df.select(id.as("sid"), wordShingles(text, n).as("shingles"))
    val sh = base.select(col("sid"), explode(col("shingles")).as("sp"))
      .select(col("sid"), xxhash64(col("sp")).as("h"))
    val byH = sh.groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
    // pair candidates: shared (ndocs >= 2, pure optimization — singleton
    // shingles cannot contribute to n_shared) and under the boilerplate cap
    val ok = byH.filter(col("ndocs").between(2, maxDocsPerShingle)).select(col("h"))
    // sizes over the SAME cap-filtered universe as n_shared: counting
    // na/nb on the raw universe while n_shared excludes capped-hot
    // shingles biases containment downward whenever a genuinely shared
    // shingle is corpus-hot. Singletons stay in the denominator (they
    // are in the metric's universe, just never shared), so on a corpus
    // with no shingle over the cap this is exactly the uncapped metric.
    val sizes = sh
      .join(byH.filter(col("ndocs") <= maxDocsPerShingle).select(col("h")), "h")
      .groupBy(col("sid")).agg(count(lit(1)).as("nsh"))
    val cand = sh.join(ok, "h")
    cand.select(col("h"), col("sid").as("id_a"))
      .join(cand.select(col("h"), col("sid").as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("sid").as("id_a"), col("nsh").as("na")), "id_a")
      .join(sizes.select(col("sid").as("id_b"), col("nsh").as("nb")), "id_b")
      .withColumn("containment",
        floor(col("n_shared") / least(col("na"), col("nb")) * 10000 + 0.5) / 10000)
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("containment"))
  }

  /** End-to-end fuzzy corpus dedup: MinHash near-dup pairs → connected
    * components → keep one document per cluster (the minimum id). Returns
    * the surviving rows of `df`. */
  def fuzzyDedupCorpus(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double): DataFrame = {
    val pairs = minHashNearDups(df, id, text, n, threshold)
    val clusters = connectedComponents(pairs, col("id_a"), col("id_b"), df, id)
    df.join(clusters.filter(col("node") === col("label")).select(col("node")),
      id === col("node"))
      .drop("node")
  }

  /** Paragraph-level exact dedup (the exact-substring regime of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", at paragraph granularity — the form most public corpus
    * pipelines ship): split each document on newlines, keep only the
    * FIRST occurrence (by (doc_id, position) order) of each normalized
    * paragraph corpus-wide, and reassemble documents from their
    * surviving paragraphs in original order. Boilerplate that repeats
    * across documents (footers, nav bars, license blocks) disappears
    * from every document but its first.
    *
    * Paragraphs shorter than `minChars` after normalization always
    * survive — deduping "" or "---" globally would strip formatting, not
    * boilerplate. Returns (doc_id, text); a document whose every
    * paragraph first occurred elsewhere drops out entirely.
    *
    * Scale shape: posexplode (no shuffle) → first-occurrence window
    * keyed by the paragraph hash (one shuffle, hash-distributed — a
    * boilerplate paragraph repeated 10⁹× lands in ONE task's sort, which
    * is why the key is the 64-bit hash and the carried payload is just
    * (doc_id, pos, text)) → reassembly agg keyed by doc_id (second
    * shuffle, map-side combined). Two keyed shuffles total, both on
    * high-cardinality keys. */
  def dedupParagraphs(df: DataFrame, id: Column, text: Column,
      minChars: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val paras = df.select(id.as("doc_id"),
        posexplode(split(text, "\n")).as(Seq("pos", "para")))
      .withColumn("norm", normText(col("para")))
    val firstWin = Window.partitionBy(col("norm"))
      .orderBy(col("doc_id"), col("pos"))
    val kept = paras
      .withColumn("rn",
        when(length(col("norm")) < minChars, lit(1L))
          .otherwise(row_number().over(firstWin).cast("long")))
      .filter(col("rn") === 1L)
    kept.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("para")))).as("ps"))
      .select(col("doc_id"),
        array_join(transform(col("ps"), p => p.getField("para")), "\n").as("text"))
  }

  /** Duplicated-substring spans — the token-level exact-substring regime
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), which that paper implements with a suffix array on
    * a single machine; here as the Spark-friendly k-gram equivalent:
    * every k-token window whose text occurs more than once corpus-wide
    * (at distinct (doc, pos) — cross-doc boilerplate AND intra-doc
    * self-repetition both count, as in the paper) is duplicated, and
    * per document the overlapping/abutting duplicated windows
    * [pos, pos+k) merge into maximal spans. Any duplicated substring of
    * ≥ k tokens is covered exactly (all its k-windows repeat); nothing
    * shorter can trigger. Returns (doc_id, start_tok, end_tok, ntok),
    * positions 0-based over whitespace tokens of the normalized text.
    *
    * Scale shape: posexplode (no shuffle, corpus-token-sized like an
    * inverted index) → duplicated-key agg (one shuffle; map-side combine
    * absorbs a boilerplate gram repeated 10⁹× — no single-task hot key)
    * → join back keyed on the gram (occurrence side is data-sized; AQE
    * skew-split handles a hot gram's bucket) → per-doc island merge
    * (one window keyed by doc_id, bounded by the doc's own duplicated
    * windows). The driver never sees a data-sized relation. */
  def duplicatedSpans(df: DataFrame, id: Column, text: Column,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"k must be >= 2: $k")
    val base = ensureParallelism(
      df.select(id.as("doc_id"), normText(text).as("norm")))
    // native WordGrams (positions implicit in array order) — the
    // transform() HOF it replaces ran its lambda interpreted per window
    val grams = base
      .select(col("doc_id"), posexplode(
          graft.functions.HashFunctions.wordGrams(col("norm"), k))
        .as(Seq("pos", "gram")))
    val dupKeys = grams.groupBy(col("gram")).agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > 1).select(col("gram"))
    val occ = grams.join(dupKeys, "gram")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + k).cast("long").as("e"))
    mergeSpanIslands(occ)
  }

  /** Merge per-doc overlapping/abutting [s, e) windows into maximal
    * spans (gaps-and-islands over the doc partitioning) — shared by
    * [[duplicatedSpans]] and [[contaminationSpans]]. Input: (doc_id,
    * s, e) rows; output: (doc_id, start_tok, end_tok, ntok). */
  private def mergeSpanIslands(occ: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    occ
      .withColumn("__pm",
        max(col("e")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pm").isNull || col("s") > col("__pm"), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wDoc))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("s")).as("start_tok"), max(col("e")).as("end_tok"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok")).as("ntok"))
  }

  /** Span-level cross-corpus contamination — the decontamination
    * primitive d09/d10's DOCUMENT-level n-gram overlap can't give you:
    * WHERE inside a training document the test set leaks, as maximal
    * token spans. Every k-token window of a train doc whose text occurs
    * ANYWHERE in the test corpus is flagged, overlapping windows merge
    * into maximal spans (so a verbatim 50-token test excerpt reports as
    * ONE span of 50, exactly — the Lee et al. exact-substring regime
    * pointed across corpora). Use it to surgically cut spans instead of
    * dropping whole documents.
    *
    * Scale shape: train side = the duplicatedSpans gram table; test
    * side collapses to DISTINCT gram keys (map-side combined; test sets
    * are tiny next to training corpora, so the join usually broadcasts)
    * — never a doc×doc comparison. Output: (doc_id, start_tok,
    * end_tok, ntok) over the TRAIN ids. */
  def contaminationSpans(train: DataFrame, trainId: Column, trainText: Column,
      test: DataFrame, testText: Column, k: Int = 8): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val grams = ensureParallelism(
        train.select(trainId.as("doc_id"), normText(trainText).as("norm")))
      .select(col("doc_id"), posexplode(
          graft.functions.HashFunctions.wordGrams(col("norm"), k))
        .as(Seq("pos", "gram")))
    val probe = test.select(explode(
        graft.functions.HashFunctions.wordGrams(normText(testText), k))
      .as("gram")).distinct()
    val occ = grams.join(probe, "gram")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + k).cast("long").as("e"))
    mergeSpanIslands(occ)
  }

  /** Surgical span cut — the consumer of [[contaminationSpans]] /
    * [[duplicatedSpans]]: remove the flagged token ranges from each
    * document and rejoin the survivors, keeping documents with no
    * flagged span untouched (and documents cut to nothing dropped).
    * This is the "cut the leaked excerpt, keep the document" move that
    * beats dropping whole documents when contamination is a 50-token
    * quote inside a 5000-token page.
    *
    * Tokens are the same whitespace normalization the span ops used, so
    * span positions line up by construction. Scale shape: spans explode
    * to (doc, pos) rows bounded by Σntok (flagged mass, not corpus
    * mass); the anti-join rides the doc+pos keys; reassembly is one
    * doc-keyed sort-agg — the dedupParagraphs shape.
    * Output: (doc_id, text, n_removed). */
  def cutSpans(df: DataFrame, id: Column, text: Column,
      spans: DataFrame): DataFrame = {
    val toks = df.select(id.as("doc_id"), posexplode(
        split(normText(text), "\\s+")).as(Seq("pos", "tok")))
    val cutPos = spans.select(col("doc_id"),
        explode(sequence(col("start_tok"), col("end_tok") - 1)).as("pos"))
      .distinct()
    toks.join(cutPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("__ps"),
        count(lit(1)).as("__kept"))
      .join(df.select(id.as("doc_id"),
        size(split(normText(text), "\\s+")).cast("long").as("__total")), "doc_id")
      .select(col("doc_id"),
        array_join(transform(col("__ps"), p => p.getField("tok")), " ")
          .as("text"),
        (col("__total") - col("__kept")).as("n_removed"))
  }

  /** Per-document duplicated-token budget from [[duplicatedSpans]]: the
    * fraction of a document's tokens covered by corpus-duplicated spans
    * of ≥ k tokens — the "how much of this doc is boilerplate" quality
    * signal (docs with high coverage are removal candidates; Lee et al.
    * report ~1% of C4 tokens in such spans). Documents with no
    * duplicated span report 0, not NULL, so the column averages
    * honestly. Spans are disjoint by construction, so the covered count
    * is a plain sum. */
  def duplicatedTokenFraction(df: DataFrame, id: Column, text: Column,
      k: Int = 8): DataFrame = {
    val spans = duplicatedSpans(df, id, text, k)
      .groupBy(col("doc_id")).agg(sum(col("ntok")).as("dup_toks"))
    val totals = df.select(id.as("doc_id"),
      size(split(normText(text), "\\s+")).cast("long").as("total_toks"))
    totals.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dup_toks"), lit(0L)).as("dup_toks"),
        col("total_toks"),
        (floor(coalesce(col("dup_toks"), lit(0L)) / col("total_toks")
          * 1000000 + 0.5) / 1000000).as("dup_frac"))
  }

  /** TRUE longest-duplicated-substring spans — the exact-substring
    * criterion of Lee et al. 2022, which [[duplicatedSpans]]' k-gram
    * islands only approximate (islands merge at shingle granularity, so
    * two distinct repeated sources that abut report as one span that is
    * not itself a duplicated substring). Here, for every token position
    * p of every document, L(p) = the exact length of the longest
    * substring starting at p that occurs at ≥ 2 distinct (doc, pos)
    * locations corpus-wide (intra-doc self-repetition counts, as in the
    * paper), and the emitted spans are the maximal ones: [p, p+L(p))
    * with L(p) ≥ minLen, suppressed when the predecessor span covers it
    * (L(p−1) = L(p)+1 — always the exact cover test, since
    * L(p−1) ≤ L(p)+1 by definition). L is capped at maxLen; inside a
    * longer-than-maxLen duplicated run only the first position reports,
    * with `capped` = true (raise maxLen for exact ends).
    *
    * Construction — a distributed suffix-grouping (Manber–Myers
    * doubling), NOT a hash sketch: level j holds every position whose
    * 2^j-token window is duplicated, classed by an equality-exact class
    * id (the class's minimum (doc, pos) member — no hashing anywhere,
    * so no collision caveat at any scale). Level j+1 classes come from
    * (class(p), class(p+2^j)) pairs; a position absent from a level is
    * PROVEN non-duplicated there, because any duplicated 2^(j+1)-window
    * has both half-windows duplicated. After the ladder, each
    * position's exact L is found by parallel binary search inside
    * (2^t, 2^(t+1)]: length-m equality for 2^j < m ≤ 2^(j+1) is the
    * OVERLAPPING pair (class_j(p), class_j(p+m−2^j)) — two length-m
    * strings are equal iff their pairs are — and the occurrence count
    * for a tested m only needs positions in level j (any occurrence of
    * a duplicated m-string has duplicated prefix and suffix windows),
    * so refinement never rescans the corpus. Refinement is ONE wave,
    * not a driver-paced binary search: every level-j position explodes
    * over its whole m-range (2^j, 2^(j+1)] at once — a measured 5×
    * win at moderate scale, where per-round job latency dominates the
    * modest extra row volume.
    *
    * Scale shape: the corpus is touched once (the g0-gram scan); every
    * later table is bounded by the DUPLICATED position set, which
    * shrinks per level (Lee et al. measure ~1% duplicated tokens on
    * C4-class corpora). Cost: log2(maxLen) doubling shuffles + one
    * refinement wave of ≤ 2·maxLen·|duplicated positions| rows (linear
    * in duplicated mass with a maxLen constant — the same bound as the
    * k-gram table [[duplicatedSpans]] already pays, times the window
    * constant). Nothing data-sized reaches the driver.
    *
    * Output: (doc_id, start_tok, end_tok, ntok, capped), positions
    * 0-based over whitespace tokens of the normalized text. */
  def longestDuplicatedSpans(df: DataFrame, id: Column, text: Column,
      minLen: Int = 8, maxLen: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minLen >= 2, s"minLen must be >= 2: $minLen")
    require(maxLen >= minLen, s"maxLen ($maxLen) must be >= minLen ($minLen)")
    val j0 = 31 - Integer.numberOfLeadingZeros(minLen) // floor log2
    val bigJ = 31 - Integer.numberOfLeadingZeros(maxLen)
    def pw(j: Int): Long = 1L << j
    // intermediates are localCheckpoint'ed, NOT persist'ed: the columnar
    // InMemoryRelation cache reads these struct-keyed tables ~10× slower
    // than their own parquet round-trip (measured at sf0.1 — 11.6 s vs
    // 0.84 s for the identical aggregate), while checkpointed UnsafeRow
    // scans are cheap; checkpointing also truncates the ladder lineage.
    // Handles collected for release at the end (the kCore discipline).
    val ckpts = scala.collection.mutable.ListBuffer.empty[org.apache.spark.rdd.RDD[_]]
    def ck(d: DataFrame): DataFrame = {
      val c = d.localCheckpoint() // eager: materializes now
      checkpointRdd(c).foreach(ckpts += _)
      c
    }
    val base = ensureParallelism(
      df.select(id.as("doc_id"), normText(text).as("norm")))
    val toks = ck(base.select(col("doc_id"),
        size(split(col("norm"), "\\s+")).cast("long").as("n"),
        posexplode(graft.functions.HashFunctions.wordGrams(col("norm"), 1 << j0))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("n"),
        col("gram")))
    // duplicated-class membership: keep positions whose key occurs > 1
    // time; the class id is the minimum (doc, pos) member — exact,
    // deterministic, layout-independent
    def classed(tbl: DataFrame, keys: Seq[String]): DataFrame = {
      val cl = tbl.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__c"),
          min(struct(col("doc_id"), col("pos"))).as("cls"))
        .filter(col("__c") > 1)
        .select(keys.map(col) :+ col("cls"): _*)
      tbl.join(cl, keys)
        .select(col("doc_id"), col("pos"), col("n"), col("cls"))
    }
    // doubling ladder: levels j0..bigJ of (doc_id, pos, n, cls)
    var levels = List.empty[(Int, DataFrame)] // descending by level
    var r = ck(classed(toks, Seq("gram")))
    var j = j0
    levels ::= (j, r)
    var laddering = r.count() > 0
    while (laddering && j < bigJ) {
      val right = r.select(col("doc_id").as("bd"), col("pos").as("bp"),
        col("cls").as("c2"))
      val pairs = r.join(right,
          col("doc_id") === col("bd") && col("bp") === col("pos") + lit(pw(j)))
        .select(col("doc_id"), col("pos"), col("n"), col("cls").as("c1"),
          col("c2"))
      val nxt = ck(classed(pairs, Seq("c1", "c2")))
      if (nxt.count() == 0) laddering = false
      else { j += 1; r = nxt; levels ::= (j, r) }
    }
    val pow2 = (c: Column) => levels.map(_._1).foldLeft(lit(0L)) {
      (acc, lv) => when(c === lv, lit(pw(lv))).otherwise(acc) }
    val allRanks = levels.map { case (lv, t) =>
        t.select(col("doc_id"), col("pos"), col("n"), col("cls"),
          lit(lv).as("lvl")) }
      .reduce(_.unionByName(_)) // union of checkpoints — cheap to rescan
    // ONE refinement wave: every level-j position explodes over the m
    // values decomposable at its level — m ∈ (2^j, min(2^(j+1), maxLen,
    // n−pos)] — forming the OVERLAPPING pair with the level-j class at
    // pos+m−2^j (inner join: a missing suffix class proves the m-window
    // non-duplicated). A (lvl, m, c1, c2) group with > 1 member means
    // the length-m string is duplicated; every occurrence q of such a
    // string has L(q) ≥ m > 2^j, so q sits in level j and contributes
    // its row — counts are exact by the same suffix argument as the
    // ladder.
    // the explode below is the wave's heavy map work and runs BEFORE the
    // join's exchange, i.e. on allRanks' own partitioning — which is the
    // checkpoints' (often 1–3 size-coalesced partitions a checkpoint
    // scan can never re-widen, AQE only re-plans shuffles). Widen HERE,
    // once, with one narrow position-table-sized exchange, so the
    // explode+join-key map stage uses every core (jstack-sampled r17:
    // 31 of 32 executor threads idle through this stage before the fix).
    val exploded = allRanks
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__hi", least(pow2(col("lvl")) * 2, lit(maxLen.toLong),
        col("n") - col("pos")))
      // sequence() DESCENDS when start > stop — guard the empty range
      .withColumn("m", explode(when(col("__hi") > pow2(col("lvl")),
        sequence(pow2(col("lvl")) + 1, col("__hi")))
        .otherwise(array().cast("array<bigint>"))))
      .select(col("doc_id"), col("pos"), col("lvl"), col("m"),
        col("cls").as("c1"))
    val vSide = allRanks.select(col("doc_id").as("vd"), col("pos").as("vp"),
      col("lvl").as("vl"), col("cls").as("vc"))
    val w = ck(exploded.join(vSide,
        col("doc_id") === col("vd") && col("vl") === col("lvl") &&
          col("vp") === col("pos") + col("m") - pow2(col("lvl")))
      .select(col("doc_id"), col("pos"), col("lvl"), col("m"), col("c1"),
        col("vc")))
    val dupW = w.groupBy(col("lvl"), col("m"), col("c1"), col("vc"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select(col("lvl"), col("m"), col("c1"), col("vc"))
    val refined = w.join(dupW, Seq("lvl", "m", "c1", "vc"))
      .groupBy(col("doc_id"), col("pos")).agg(max(col("m")).as("__lr"))
    // L(p) = max(2^top(p), longest duplicated refinement length)
    val top = allRanks.groupBy(col("doc_id"), col("pos"))
      .agg(max(col("lvl")).as("t"))
    val settled = top.join(refined, Seq("doc_id", "pos"), "left")
      .select(col("doc_id"), col("pos"),
        greatest(pow2(col("t")), coalesce(col("__lr"), lit(0L))).as("L"))
      .filter(col("L") >= minLen.toLong)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val out = settled
      .withColumn("__pv", lag(struct(col("pos"), col("L")), 1).over(wd))
      .filter(col("__pv").isNull ||
        col("__pv.pos") =!= col("pos") - 1 ||
        !(col("__pv.L") === col("L") + 1 ||
          (col("__pv.L") === lit(maxLen.toLong) &&
            col("L") === lit(maxLen.toLong))))
      .select(col("doc_id"), col("pos").as("start_tok"),
        (col("pos") + col("L")).as("end_tok"), col("L").as("ntok"),
        (col("L") === lit(maxLen.toLong)).as("capped"))
      .localCheckpoint() // eager: materialize before releasing the ladder
    ckpts.foreach(_.unpersist(blocking = false))
    out
  }

  /** Handle on a localCheckpoint'ed DataFrame's persisted RDD (Dataset
    * .unpersist is a no-op for checkpoint storage) — the kCore release
    * discipline, shared by the iterative ops in this file. */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic dedup at the
    * embedding level — cluster the corpus, form candidate pairs only
    * WITHIN a cluster, verify with exact cosine ≥ `threshold`, close
    * transitively, keep the minimum id per duplicate set. Returns the
    * surviving (id) rows joined back to `df`.
    *
    * Scale shape: clustering reuses the IVF k-means build (seeded,
    * sample-able); the within-cluster self-join is ONE shuffle keyed on
    * the cluster id and costs Σᵢ cᵢ² pairs — at 100 TB pick
    * `nClusters ≈ n / targetClusterSize` so per-cluster pair work stays
    * bounded and the whole pass is linear-ish in n (the paper's regime:
    * tens of thousands of clusters over billions of embeddings).
    * Approximate by construction: a near-dup pair split across two
    * clusters is missed — the trade that makes semantic dedup tractable
    * where all-pairs cosine is n². Near-identical vectors land in the
    * same cluster (their centroid distances differ by at most the
    * perturbation), so recall loss concentrates on BORDERLINE pairs near
    * the threshold, not on the near-exact duplicates the operator
    * exists to drop. */
  def semDedup(df: DataFrame, id: Column, vec: Column, nClusters: Int,
      threshold: Double, seed: Long = 42L): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    val ivf = Similarity.buildIvf(df, id, vec, nClusters, seed)
    val a = ivf.assigned.select(col("cluster"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = ivf.assigned.select(col("cluster"), col("vec_id").as("id_b"), col("v").as("vb"))
    val pairs = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val clusters = connectedComponents(pairs, col("id_a"), col("id_b"),
      ivf.assigned, col("vec_id"))
    df.join(clusters.filter(col("node") === col("label")).select(col("node")),
      id === col("node"))
      .drop("node")
  }

  /** Embedding near-dups: exact cosine ≥ threshold over candidate pairs,
    * using the codegen'd [[graft.functions.CosineSimilarity]] inner loop.
    *
    * Default mode is banded random-hyperplane LSH: each vector gets
    * `bands` small signatures (one per band of `rowsPerBand`
    * hyperplanes); candidates are pairs colliding in ≥1 band, verified
    * with exact cosine. Pair recall for a pair at angle θ is 1−(1−p^r)^b
    * with p = 1−θ/π; the 32×4 default gives >0.99 at cosine 0.45 and ~1
    * above 0.7.
    *
    * KNOB DEFAULTS ARE THE SCALE PATH: when the caller passes no
    * explicit (bands, rowsPerBand), they are derived per-corpus via
    * [[autoLshParams]] from (n, threshold) — bounding expected
    * random-pair candidates to O(n) and REFUSING thresholds where
    * sign-bit banding cannot be selective (route those through
    * [[semDedup]]/[[fuzzyDedupCorpus]] or explicit knobs/exact mode).
    * Passing explicit knobs opts into a fixed configuration: e.g. the
    * recall-first 32×4 the d07 exactness gate uses, where a 4-plane
    * band has 16 signatures so a RANDOM pair collides in ≥1 of 32
    * bands with probability 1−(15/16)³² ≈ 0.87 — near-all-pairs
    * candidates at any n (measured t ∝ n^1.85 on d07), the right trade
    * only when the oracle demands every qualifying pair on a bounded
    * corpus.
    *
    * `exact = true` switches to brute all-pairs (sid < sid cross join) —
    * exact recall, O(n²) cost: verification/oracle mode for bounded
    * inputs only. */
  def embeddingNearDups(df: DataFrame, id: Column, vec: Column,
      threshold: Double, exact: Boolean = false,
      bands: Int = 0, rowsPerBand: Int = 0, seed: Long = 42L): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    // pre-cast once and widen partitions: the pair join multiplies every
    // per-row cost by n, and a single-partition left side serializes the
    // per-bucket loops
    val base = ensureParallelism(
      df.select(id.as("sid"), vec.cast("array<double>").as("v")))
    val paired =
      if (exact) {
        val l = base.as("l"); val r = base.as("r")
        l.join(r, col("l.sid") < col("r.sid"))
          .select(col("l.sid").as("id_a"), col("r.sid").as("id_b"),
            col("l.v").as("v_a"), col("r.v").as("v_b"))
      } else {
        val cached = base.cache()
        // plane dimensionality = the corpus's majority vector length (one
        // narrow map-side-combined aggregation over the cached input, not
        // a first-row sample — the first row could be a ragged outlier,
        // which would null out the whole corpus's signatures). Rows of any
        // other length get NULL signatures and drop out of candidate
        // generation (see PlaneSignatures). The same tiny grouped result
        // also yields n for the knob auto-derivation — no extra pass.
        val lenCounts = cached.groupBy(size(col("v")).as("d")).count().collect()
        val dim = lenCounts.maxBy(r => (r.getLong(1), -r.getInt(0))).getInt(0)
        val n = lenCounts.map(_.getLong(1)).sum
        val (b, rpb) =
          if (bands > 0 && rowsPerBand > 0) (bands, rowsPerBand)
          else autoLshParams(n, threshold)
        val planes = Similarity.randomPlanes(b * rpb, dim, seed)
        val bandSigs = Similarity.bandSignatures(col("v"), planes, rpb)
        // vectors ride along into the band buckets so the cosine verify
        // runs INSIDE the band join (codegen, scan-side). The alternative
        // — distinct the candidate id-pairs first, then re-fetch both
        // vectors — re-shuffles the whole corpus twice and runs a
        // wide distinct over the raw candidate set; on cluster-dense
        // data (many colliding bands per true pair) that was measured
        // 10× slower at sf1 than re-scoring each collision. Dedup of
        // multi-band collisions happens AFTER the threshold filter, when
        // only true pairs (ids, not vectors) remain.
        val banded = cached.select(col("sid"), col("v"),
          posexplode(bandSigs).as(Seq("band", "bsig")))
        banded.as("l")
          .join(banded.as("r"), col("l.band") === col("r.band") &&
            col("l.bsig") === col("r.bsig") && col("l.sid") < col("r.sid"))
          .select(col("l.sid").as("id_a"), col("r.sid").as("id_b"),
            col("l.v").as("v_a"), col("r.v").as("v_b"))
      }
    val scored = paired
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
    // LSH mode scores a pair once per colliding band — dedupe the
    // surviving (small) pair set; exact mode emits each pair once
    if (exact) scored else scored.distinct()
  }

  /** Majority-label propagation over near-dup clusters: given labels on
    * a SUBSET of documents (human review, a trusted classifier), assign
    * every cluster its labeled members' majority label (ties → smallest
    * label; wholly unlabeled clusters stay NULL) and propagate it to
    * every member — the semi-supervised step that turns a 1% labeling
    * budget into corpus-wide quality/topic labels, sound exactly because
    * near-duplicates share the label by construction.
    *
    * Plan: one (cluster, label) count aggregate over the labeled subset,
    * a per-cluster argmax (window over cluster — rows ∝ distinct labels
    * per cluster), one join back to members. All keyed on the cluster
    * id. Output: (id, cluster, label, n_votes — NULL for unlabeled
    * clusters). */
  def propagateLabels(clusters: DataFrame, id: Column, cluster: Column,
      labels: DataFrame, lId: Column, lLabel: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mem = clusters.select(id.as("id"), cluster.as("cl"))
    val votes = mem.join(labels.select(lId.as("id"), lLabel.as("lab")), "id")
      .groupBy(col("cl"), col("lab")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cl")).orderBy(col("n").desc, col("lab").asc)
    val winner = votes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cl"), col("lab").as("label"), col("n").as("n_votes"))
    mem.join(winner, Seq("cl"), "left")
      .select(col("id"), col("cl").as("cluster"), col("label"), col("n_votes"))
  }

  /** Canonical-document selection within near-dup clusters: rank every
    * cluster member by (metric desc, id asc) and flag rank 1 as the
    * survivor — the curation policy AFTER clustering decides WHICH copy
    * of each near-duplicate family enters the training mix (keep the
    * longest / highest-quality variant, not the arbitrary
    * smallest-id one that [[connectedComponents]]' label happens to
    * name). Emits every member with its verdict, not just survivors, so
    * the drop set is auditable — including members with no metrics row,
    * which carry a NULL metric and rank last (nulls-last ordering), so a
    * metric-less member only survives when its whole cluster is
    * metric-less (then smallest id wins deterministically).
    *
    * One shuffle: the metric join rides into the cluster-partitioned
    * ranking window; clusters are near-dup-family-sized, so the window
    * state is tiny per key. Output: (cluster, id, metric, kept). */
  def keepBestPerCluster(clusters: DataFrame, id: Column, cluster: Column,
      metrics: DataFrame, mId: Column, metric: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__cl"))
      .orderBy(col("__m").desc_nulls_last, col("__id").asc)
    clusters.select(id.as("__id"), cluster.as("__cl"))
      .join(metrics.select(mId.as("__id"), metric.as("__m")), Seq("__id"), "left")
      .withColumn("__rk", row_number().over(w))
      .select(col("__cl").as("cluster"), col("__id").as("id"),
        col("__m").as("metric"), (col("__rk") === 1).as("kept"))
  }

  /** Edit-distance-1 term pairs over a vocabulary via DELETION-
    * NEIGHBORHOOD blocking (FastSS): every term keys on itself plus each
    * single-character deletion; two terms within edit distance 1 share
    * at least one key (equal deletions cover substitutions, the term
    * itself covers the insert/delete cases), so candidates come from a
    * key-grouped self-join — cost ∝ Σ term-length, never vocab² — and
    * are verified with the exact codegen'd `levenshtein`. The typo-
    * clustering primitive for query normalization and OCR cleanup.
    * Output: (term_a, term_b) with distance ≤ 1, term_a < term_b. */
  def typoPairs(vocab: DataFrame, term: Column): DataFrame = {
    val t = vocab.select(term.as("t")).distinct()
    val keyed = t.select(col("t"), explode(concat(array(col("t")),
      transform(sequence(lit(0), length(col("t")) - 1),
        i => concat(col("t").substr(lit(1), i),
          col("t").substr(i + 2, length(col("t")))))))
      .as("k")).distinct()
    keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.t") < col("b.t"))
      .select(col("a.t").as("term_a"), col("b.t").as("term_b")).distinct()
      .filter(levenshtein(col("term_a"), col("term_b")) <= 1)
  }

  /** Scale-aware LSH knobs for [[embeddingNearDups]]: the (bands,
    * rowsPerBand) pair that holds expected RANDOM-pair candidates to
    * ≈`candidatesPerRow`·n while keeping per-pair recall ≥ `targetRecall`
    * AT the threshold (recall is higher above it). Derivation, from
    * collision probability p = 1−acos(threshold)/π per plane:
    *  - selectivity: a random pair (p₀ = 1/2) must collide rarely —
    *    n·b·2^−r ≤ candidatesPerRow fixes r ≈ log₂(n·b/c);
    *  - recall: 1−(1−p^r)^b ≥ targetRecall fixes b ≈
    *    ln(1−recall)/ln(1−p^r);
    * the two couple through b, so iterate the pair to a fixpoint (r
    * moves logarithmically in b — three rounds settle it).
    *
    * REFUSES (require) when no configuration under `maxPlanes` total
    * hyperplanes achieves both — which happens exactly when the
    * threshold sits too close to random (e.g. cosine 0.45 at n = 10⁵:
    * p = 0.65 vs p₀ = 0.5 is too narrow a gap for sign-bit banding).
    * That refusal is the honest contract: at such thresholds the
    * qualifying pair set itself is typically Ω(n²) on clustered data,
    * and the caller should route through IVF/cluster dedup
    * ([[Similarity.buildIvf]], [[fuzzyDedupCorpus]]) or explicit
    * `exact = true` on a bounded input instead of silently burning an
    * all-pairs pass. */
  def autoLshParams(n: Long, threshold: Double, targetRecall: Double = 0.9,
      candidatesPerRow: Int = 32, maxPlanes: Int = 8192): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1), got $threshold")
    require(targetRecall > 0 && targetRecall < 1, s"targetRecall must be in (0,1), got $targetRecall")
    val p = 1.0 - math.acos(threshold) / math.Pi
    var b = 32; var r = 4
    for (_ <- 1 to 3) {
      r = math.max(4, math.ceil(
        math.log(n.toDouble * b / candidatesPerRow) / math.log(2)).toInt)
      val pr = math.pow(p, r)
      require(pr > 1e-12 && math.log1p(-pr) < 0,
        s"autoLshParams: threshold $threshold indistinguishable from random at n=$n")
      b = math.max(8, math.ceil(math.log(1 - targetRecall) / math.log1p(-pr)).toInt)
    }
    require(b * r <= maxPlanes,
      f"autoLshParams: no selective banding at threshold=$threshold%.2f, n=$n " +
        f"(needs $b bands × $r planes > $maxPlanes); the qualifying pair set at " +
        "this threshold is likely Ω(n²) — use IVF routing, fuzzyDedupCorpus, or exact mode")
    (b, r)
  }
}
