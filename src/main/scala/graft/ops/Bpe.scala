package graft.ops

import graft.functions.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

/** Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
  * tokenizer-training pass of an LLM data pipeline, run where the corpus
  * lives instead of streaming it to a single-node trainer.
  *
  * Scale shape: the classic BPE reduction applies — all work after the
  * first scan runs on the DISTINCT-WORD frequency table (vocabulary-
  * sized, orders of magnitude below corpus bytes; Zipf makes this ratio
  * grow with corpus size). Each merge iteration is ONE map-side-combined
  * pair-count aggregation over that table plus a driver argmax of a
  * single row; the merge application is a fold over each word's symbol
  * array (`aggregate` higher-order function — no UDF, no shuffle). The
  * word table is checkpointed per iteration ([[Ckpt]]) so the plan does
  * not grow with the merge count.
  *
  * Determinism: pair counts are exact integers and ties break by
  * (count DESC, left ASC, right ASC), so the merge sequence is a pure
  * function of the corpus — reproducible cross-engine, which is what
  * lets a SQL oracle re-derive every merge independently.
  *
  * Caveat (documented, shared with every character-split tokenizer
  * stage here): symbols start as UTF-16 code units of the word, so
  * astral-plane characters split into surrogate halves; normalize or
  * pre-filter such rows upstream if they matter.
  */
object Bpe {

  /** One greedy left-to-right application of merge (l, r) to a symbol
    * array: scan left to right, replace each non-overlapping adjacent
    * (l, r) with the concatenated symbol — "aaa" under (a,a) becomes
    * ["aa","a"], "aaaa" becomes ["aa","aa"]. A fold with a one-symbol
    * lookbehind: `p` holds the pending unmerged symbol. */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column = {
    val init = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("p"))
    aggregate(
      syms,
      init,
      (acc, x) => struct(
        when(acc("p").isNull, acc("out"))
          .when(acc("p") === l && x === r, concat(acc("out"), array(lit(l + r))))
          .otherwise(concat(acc("out"), array(acc("p")))).as("out"),
        when(acc("p").isNull, x)
          .when(acc("p") === l && x === r, lit(null).cast("string"))
          .otherwise(x).as("p")),
      acc => when(acc("p").isNull, acc("out"))
        .otherwise(concat(acc("out"), array(acc("p")))))
  }

  /** Learn `numMerges` BPE merges from the corpus' token stream.
    * Returns (rank, lhs, rhs, pair_count): the rank-ordered merge table
    * (the artifact a tokenizer ships). Stops early if no adjacent pair
    * remains. Pair counting is per POSITION (a word with "aaa" counts
    * (a,a) twice per occurrence), the standard BPE statistic. */
  def learnMerges(df: DataFrame, text: Column, numMerges: Int): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    mergeLoop(df, text, numMerges) { (words, rank) =>
      pairCounts(words)
        .orderBy(col("pc").desc, col("l").asc, col("r").asc)
        .head(1).headOption.map { b =>
          val (l, r) = (b.getString(0), b.getString(1))
          (l, r, (rank, l, r, b.getLong(2)))
        }
    }.toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** Learn WordPiece merges: the same greedy loop as [[learnMerges]]
    * but ranked by the WordPiece LIKELIHOOD score
    * pc / (count(lhs)·count(rhs)) instead of raw pair count — the
    * merge that most increases corpus likelihood under a unigram
    * model, which prefers gluing symbols that rarely occur apart
    * (BERT's vocabulary construction; Schuster & Nakajima 2012).
    * The score is integer-quantized — (pc·10⁹) div (c_l·c_r) — so the
    * argmax (ties by lhs, rhs) is bit-identical in any engine; the
    * quantization IS the contract. Per round: one pair count + one
    * symbol count (both map-side combined) + a 1-row argmax.
    * Output: (rank, lhs, rhs, pair_count, score9). */
  def learnWordPieceMerges(df: DataFrame, text: Column,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    mergeLoop(df, text, numMerges) { (words, rank) =>
      val syms = words
        .select(col("cnt"), explode(col("syms")).as("s"))
        .groupBy(col("s")).agg(sum(col("cnt")).as("sc"))
      pairCounts(words)
        .join(syms.select(col("s").as("l"), col("sc").as("cl")), Seq("l"))
        .join(syms.select(col("s").as("r"), col("sc").as("cr")), Seq("r"))
        .select(col("l"), col("r"), col("pc"),
          expr("pc * 1000000000L div (cl * cr)").as("score9"))
        .orderBy(col("score9").desc, col("l").asc, col("r").asc)
        .head(1).headOption.map { b =>
          val (l, r) = (b.getString(0), b.getString(1))
          (l, r, (rank, l, r, b.getLong(2), b.getLong(3)))
        }
    }.toDF("rank", "lhs", "rhs", "pair_count", "score9")
  }

  /** (l, r, pc): every adjacent symbol pair of the (cnt, syms) word
    * table with its count weighted by word count. The zip of the array
    * with its own tail keeps this a scan-stage expression. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"), explode(arrays_zip(
        slice(col("syms"), lit(1), greatest(size(col("syms")) - 1, lit(0))),
        slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))))).as("pr"))
      .groupBy(col("pr.0").as("l"), col("pr.1").as("r"))
      .agg(sum(col("cnt")).as("pc"))

  /** The greedy loop both learners share, over the (cnt, syms) table of
    * distinct words. Round `rank` asks `best` for the next merge
    * (lhs, rhs, its output row), None when no adjacent pair remains,
    * and re-checkpoints the word table with the merge applied. Returns
    * the output rows as a local frame, which reads none of the loop's
    * checkpoints. */
  private def mergeLoop[M <: Product : TypeTag](df: DataFrame, text: Column,
      numMerges: Int)(best: (DataFrame, Int) => Option[(String, String, M)]): DataFrame =
    Ckpt.run { loop =>
      val init = loop.checkpoint(df.select(explode(TextOps.tokens(text)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("cnt"), split(col("w"), "").as("syms")))._1
      val ((_, merges), _) = loop.iterate((init, Vector.empty[M]), numMerges) {
        case ((words, merges), rank) =>
          best(words, rank) match {
            case None => ((words, merges), 0L)
            case Some((l, r, m)) =>
              ((loop.checkpoint(words
                .select(col("cnt"), applyMerge(col("syms"), l, r).as("syms")))._1,
                merges :+ m), 1L)
          }
      }
      df.sparkSession.createDataFrame(merges)
    }

  /** Encode a text column with a learned merge table: tokenize, split
    * each word to characters, and apply every merge in rank order via
    * the native codegen'd [[graft.functions.BpeEncode]] expression
    * (`mergeTable` is collected — vocabulary-sized, bounded by
    * numMerges — and planted as the plan literal; the previous
    * formulation chained one interpreted `aggregate` fold per merge
    * and cost ~9 s/pass at sf0.1 where the expression costs 0.3 s).
    * Output: original columns + `bpe_tokens` (array of subword strings,
    * word boundaries discarded). */
  def encode(df: DataFrame, text: Column, mergeTable: DataFrame): DataFrame = {
    val ms = mergeTable.select(col("rank"), col("lhs"), col("rhs"))
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val flat: Seq[String] = ms.toSeq.flatMap { case (l, r) => Seq(l, r) }
    df.withColumn("bpe_tokens",
      flatten(transform(TextOps.tokens(text),
        w => Native("graft_bpe_encode", w, typedLit(flat)))))
  }

  /** WordPiece INFERENCE against a fixed vocabulary (`##`-prefixed
    * continuations, `[UNK]` for unmatchable words) — greedy longest-
    * match-first per word via the codegen'd
    * [[graft.functions.WordPieceEncode]] expression, a pure scan-stage
    * pass (the vocabulary hash-indexes once per executor off the plan
    * literal). The learning half is [[learnWordPieceMerges]]; this is
    * the deploy half every serving/feature pipeline runs per row.
    * Output: original columns + `wp_tokens` (array of subword strings,
    * word boundaries discarded). */
  def wordPieceEncode(df: DataFrame, text: Column, vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "wordPieceEncode needs a non-empty vocab")
    df.withColumn("wp_tokens",
      flatten(transform(TextOps.tokens(text),
        w => Native("graft_wordpiece", w, typedLit(vocab)))))
  }
}
