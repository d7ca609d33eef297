package graft.streaming

import graft.engine.SourceRegistry
import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming over the `documents` corpus shape: the
  * scan-stage text operators (C4 line cleaning, hashed linear
  * classification, deterministic sampling) are all stateless per-row
  * Columns, so the SAME plan compiles batch or streaming with no
  * operator changes — this is what lets one filtering codebase serve
  * both the backfill (batch over the lake) and the live ingest tail
  * (readStream over the landing dir) without semantic drift. */
object CorpusStreams {

  /** The streaming corpus-filter plan: C4-clean each document, drop
    * docs with no surviving line, score the CLEANED text with the
    * hashed linear classifier (4-dp margin). Stateless — append mode,
    * no watermark, no state store; at scale this runs as pure per-file
    * map work on whatever micro-batch cadence the ingest produces. */
  def filterPlan(docs: DataFrame, weights: Seq[Double], bias: Double): DataFrame =
    TextOps.c4LineClean(docs, col("doc_id"), col("text"),
        minLineWords = 3, minKeptLines = 1)
      .filter(col("c4_keep"))
      .withColumn("margin",
        floor(TextOps.hashedLinearMargin(col("clean_text"), weights, bias)
          * 10000 + 0.5) / 10000)
      .select(col("doc_id"), col("n_kept"), col("margin"))

  /** Run [[filterPlan]] as a real AvailableNow streaming query over the
    * documents parquet (file source → memory sink) and return the
    * collected result — the batch-equivalence gate entry point. `prep`
    * is applied to the STREAMING frame before the filter (stateless
    * per-row transforms only — e.g. the gate's planted test lines). */
  def runFilterBatch(spark: SparkSession, docsPath: String,
      weights: Seq[Double], bias: Double,
      prep: DataFrame => DataFrame = identity): DataFrame =
    EventStreams.runToMemory(
      filterPlan(prep(EventStreams.streamParquet(spark, docsPath, "docs_stream")),
        weights, bias),
      "corpus_filter", docsPath, "append")

  final case class BucketRow(band: Int, bhash: Long, sid: Long)
  final case class CandPair(id_a: Long, id_b: Long)

  /** STREAMING MinHash-LSH near-duplicate candidate detection: each
    * arriving document is checked against EVERYTHING seen so far on the
    * stream, with state bounded by signature bytes — never raw text.
    *
    * The stateless prefix (shingle → minhash signature → band hashes) is
    * the same per-row Column work as the batch path
    * ([[graft.ops.Dedup.lshBucketRows]] — identical bucketing, so batch
    * and stream agree on candidates by construction). The stateful core
    * keys `flatMapGroupsWithState` by (band, bhash): state per bucket is
    * the doc_id list of prior members, and a new arrival emits one
    * candidate pair per prior member of any shared bucket. State cost is
    * `bands` bucket memberships per document — ids only, ~128 B/doc at
    * the defaults — and the hot-bucket guard caps any single bucket at
    * `maxBucket` members (a stopword-template bucket would otherwise
    * accumulate O(corpus) state and emit O(n²) pairs; beyond the cap new
    * members neither pair nor join the bucket, mirroring the batch
    * path's rarity/posting caps).
    *
    * Emits candidate pairs (id_a < id_b), possibly once per shared band
    * — `.distinct()` downstream; confirm with
    * [[graft.ops.Dedup.verifyCandidatePairs]] (estimate generates, exact
    * confirms — the d03 contract, now incremental over a stream). */
  def nearDupCandidatesPlan(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxBucket: Int = 1024): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val buckets = Dedup.lshBucketRows(docs, col("doc_id"), col("text"), n,
        numHashes, bands)
      .select(col("band"), col("bhash"), col("sid")).as[BucketRow]
    buckets.groupByKey(b => (b.band, b.bhash))
      .flatMapGroupsWithState[List[Long], CandPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), it: Iterator[BucketRow], state: GroupState[List[Long]]) =>
          val prior = state.getOption.getOrElse(Nil)
          // sorted + deduped so emission order (and the cap's cutoff) is
          // deterministic however the micro-batch iterates
          val arrivals = it.map(_.sid).toList.distinct.sorted
            .filterNot(prior.contains)
          val out = List.newBuilder[CandPair]
          var members = prior
          for (sid <- arrivals if members.size < maxBucket) {
            for (o <- members)
              out += CandPair(math.min(sid, o), math.max(sid, o))
            members = sid :: members
          }
          state.update(members)
          out.result().iterator
      }.toDF()
  }

  /** [[nearDupCandidatesPlan]] run as a real AvailableNow streaming
    * query, candidates deduped across bands and exact-Jaccard-confirmed
    * against the static corpus — the st11 gate entry point. A
    * single-file source is ONE micro-batch, so the confirmed pairs must
    * equal the batch [[graft.ops.Dedup.minHashNearDups]] result (and
    * d03's exact oracle); the cross-batch state path is spec-covered
    * with a two-file source. */
  def runNearDupBatch(spark: SparkSession, docsPath: String, n: Int,
      threshold: Double, maxBucket: Int = 1 << 20): DataFrame = {
    val cands = EventStreams.runToMemory(
      nearDupCandidatesPlan(
        EventStreams.streamParquet(spark, docsPath, "docs_neardup"),
        n = n, maxBucket = maxBucket),
      "stream_neardup", docsPath, "append").distinct()
    Dedup.verifyCandidatePairs(cands,
      SourceRegistry.parquet(spark, docsPath), col("doc_id"), col("text"), n, threshold)
  }
}
