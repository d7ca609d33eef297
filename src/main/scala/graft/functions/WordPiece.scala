package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece greedy longest-match-first encoding of ONE word against a
  * fixed vocabulary — the BERT-family tokenizer's inference step (Wu et
  * al. 2016; the merge LEARNING half is `Bpe.learnWordPieceMerges`):
  * repeatedly take the longest vocabulary entry that prefixes the
  * remaining suffix, continuation pieces spelled with the `##` prefix;
  * if any position has no match (or the word exceeds `MaxInputChars`),
  * the WHOLE word encodes as `[UNK]` — the reference WordPiece contract,
  * not a partial emit.
  *
  * The vocabulary must be a foldable array<string> literal: it is
  * hash-indexed once per executor (lazy, off the plan literal), never
  * per row. Codegen calls the prebuilt index via a reference object —
  * the greedy loop is JIT-compiled Scala; only null plumbing is
  * generated, so the op rides whole-stage codegen over a 100 TB scan.
  * Cost is O(len²) hash probes per word worst-case (the standard
  * WordPiece bound); `MaxInputChars` caps the quadratic term exactly as
  * the reference implementations do. The cap counts CODEPOINTS
  * (`codePointCount`), matching the DuckDB oracle's `len()`; piece
  * boundaries, however, advance by UTF-16 code units — a BMP-only
  * contract for astral-plane text, same as `TextOps.scriptProfile` (t51):
  * an astral word can in principle split a surrogate pair into pieces
  * the oracle would not, but the cap itself can no longer disagree.
  */
case class WordPieceEncode(first: Expression, second: Expression)
    extends BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = Native.wordPiece.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string word column, got ${first.dataType}")
    else if (!second.dataType.isInstanceOf[ArrayType] ||
        second.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string> vocab, got ${second.dataType}")
    else if (!second.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName vocab must be a literal")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val vocab: java.util.HashSet[String] = {
    val arr = second.eval().asInstanceOf[ArrayData]
    val s = new java.util.HashSet[String](arr.numElements() * 2)
    (0 until arr.numElements()).foreach(i => s.add(arr.getUTF8String(i).toString))
    s
  }

  /** Greedy longest-match pieces of `word` (codegen entry point). */
  def encodeWord(word: UTF8String): ArrayData = {
    val w = word.toString
    if (w.isEmpty || w.codePointCount(0, w.length) > WordPieceEncode.MaxInputChars)
      return WordPieceEncode.Unknown
    val pieces = scala.collection.mutable.ArrayBuffer.empty[Any]
    var start = 0
    while (start < w.length) {
      var end = w.length
      var found: String = null
      while (found == null && start < end) {
        val sub = w.substring(start, end)
        val cand = if (start > 0) "##" + sub else sub
        if (vocab.contains(cand)) found = cand else end -= 1
      }
      if (found == null) return WordPieceEncode.Unknown
      pieces += UTF8String.fromString(found)
      start = end
    }
    new GenericArrayData(pieces.toArray)
  }

  override def nullSafeEval(wordAny: Any, vocabAny: Any): Any =
    encodeWord(wordAny.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftWordPiece", this,
      classOf[WordPieceEncode].getName)
    nullSafeCodeGen(ctx, ev, (word, _) =>
      s"${ev.value} = $ref.encodeWord($word);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

object WordPieceEncode {
  /** Reference cap on per-word length before bailing to [UNK]. */
  val MaxInputChars = 100

  val UnknownToken = "[UNK]"

  private val Unknown: ArrayData =
    new GenericArrayData(Array[Any](UTF8String.fromString(UnknownToken)))
}
