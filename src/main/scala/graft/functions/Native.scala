package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one table of graft's native Catalyst functions: each SQL name
  * with its usage line and its expression builder. Three readers, one
  * list:
  *   - `Native(name, args*)` builds a Scala helper's Column straight from
  *     the builder. The Column carries the expression itself, so it
  *     resolves in whichever session analyzes the plan, with nothing
  *     registered anywhere and no session needed to build it;
  *   - [[VectorFunctions.register]] adds every name to one session's
  *     function registry, for SQL text;
  *   - [[graft.GraftExtensions]] injects every name into each session
  *     built with the extension. */
object Native {

  final case class Fn(name: String, usage: String, build: Seq[Expression] => Expression)

  /** [[WordPieceEncode]] takes its `prettyName` from this entry. */
  val wordPiece: Fn = Fn("graft_wordpiece",
    "_FUNC_(word, vocab) - greedy longest-match WordPiece pieces",
    es => WordPieceEncode(es.head, es(1)))

  val table: Seq[Fn] = Seq(
    Fn("graft_cosine", "_FUNC_(array<double>, array<double>) - cosine similarity",
      es => CosineSimilarity(es.head, es(1))),
    Fn("graft_plane_sigs",
      "_FUNC_(vec, planes, rowsPerBand, dim) - banded hyperplane LSH signatures",
      es => PlaneSignatures(es.head, es(1), es(2), es(3))),
    Fn("graft_top_clusters",
      "_FUNC_(vec, centroidsFlat, dim, nProbe) - ids of the nProbe nearest centroids by cosine",
      es => TopClusters(es.head, es(1), es(2), es(3))),
    Fn("graft_pq_encode",
      "_FUNC_(vec, codebooksFlat, dsub, k) - product-quantization codes",
      es => PqEncode(es.head, es(1), es(2), es(3))),
    Fn("graft_pq_adc",
      "_FUNC_(codes, lutFlat, k) - asymmetric-distance score over PQ codes",
      es => PqAdc(es.head, es(1), es(2))),
    Fn("graft_sq8_encode", "_FUNC_(vec) - int8 scalar-quantized codes of the L2-normalized vector",
      es => Sq8Encode(es.head)),
    Fn("graft_sq8_dot", "_FUNC_(codes, query) - asymmetric int8 dot product (approximate cosine)",
      es => Sq8Dot(es.head, es(1))),
    Fn("graft_hilbert", "_FUNC_(x, y, bits) - Hilbert-curve index of (x, y)",
      es => HilbertIndex(es.head, es(1), es(2))),
    Fn("graft_keyword_tags",
      "_FUNC_(text, keywords) - sorted distinct keywords contained in text, case-insensitive",
      es => KeywordTags(es.head, es(1))),
    Fn("graft_md5_prefix52", "_FUNC_(str) - top 52 bits of md5(str) as a bigint",
      es => Md5Prefix52(es.head)),
    Fn("graft_poisson_mults",
      "_FUNC_(id, reps, salt) - Poisson(1) bootstrap multiplicity per replicate",
      es => PoissonMults(es.head, es(1), es(2))),
    wordPiece,
    Fn("graft_bpe_encode", "_FUNC_(word, mergesFlat) - BPE symbols after the ranked merges",
      es => BpeEncode(es.head, es(1))),
    Fn("graft_polyhash", "_FUNC_(str, base, mod) - portable polynomial hash",
      es => PolyHash(es.head, es(1), es(2))),
    Fn("graft_slot_counts", "_FUNC_(tokens, dim) - hashed bag-of-words slot counts",
      es => SlotCounts(es.head, es(1))),
    Fn("graft_hashed_margin", "_FUNC_(tokens, weights, bias) - hashed linear margin",
      es => HashedMargin(es.head, es(1), es(2))),
    Fn("graft_minhash_lanes", "_FUNC_(array<string>, k) - MinHash signature lanes",
      es => MinHashLanes(es.head, es(1))),
    Fn("graft_word_shingles", "_FUNC_(text, n) - distinct word n-gram shingles",
      es => WordShingles(es.head, es(1))),
    Fn("graft_word_grams", "_FUNC_(text, n) - all word n-gram windows in position order",
      es => WordGrams(es.head, es(1))),
    Fn("graft_prefix_by_hash",
      "_FUNC_(array<string>, prefLen) - ppjoin prefix under (xxhash64, value) order",
      es => PrefixByHash(es.head, es(1))),
    // full-width double-hashing Bloom probe against a plan-literal bitset
    // (see BloomSet for why spark-sketch's 32-bit-floored filter is not used)
    Fn("graft_bloom_contains", "_FUNC_(bitset, hash, k) - Bloom-filter membership probe",
      es => BloomSetContains(es.head, es(1), es(2))),
    Fn("graft_deflate_size",
      "_FUNC_(text) - raw-deflate byte count (compressibility quality signal)",
      es => DeflateSize(es.head)),
    Fn("graft_nfc", "_FUNC_(text) - Unicode NFC normalization", es => NfcNormalize(es.head)),
    Fn("graft_jaro_winkler", "_FUNC_(a, b) - Jaro-Winkler similarity in [0, 1]",
      es => JaroWinklerSim(es.head, es(1))),
    Fn("graft_simhash_portable", "_FUNC_(tokens) - portable 64-bit SimHash signature",
      es => SimHashPortable(es.head)))

  private val byName: Map[String, Fn] = table.map(f => f.name -> f).toMap

  /** Column of native function `name` over `args`, the arguments of its
    * SQL form. */
  def apply(name: String, args: Column*): Column =
    GraftColumns.column(byName(name).build(args.map(GraftColumns.expression)))
}
