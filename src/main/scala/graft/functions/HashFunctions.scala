package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the polynomial string hash
  * h = fold(codes, 7, (a, c) => (a·base + c) mod m) used by the portable
  * token hash (SimHash gate) and the rolling-hash fingerprint.
  *
  * Exactly reproduces the higher-order-function formulation
  * `aggregate(transform(split(s, ''), ch -> ascii(ch)), 7, ...)` — per
  * char, Spark's `ascii` yields the full Unicode code point (probed:
  * é→233, €→8364), and `split('', '')` yields a single empty string
  * whose `ascii` is 0, so the empty input folds one 0 code — but as ONE
  * codegen'd loop over the UTF8String's bytes: no per-char UTF8String
  * array, no interpreted lambda per element. The HOF form evaluated
  * interpreted per element and dominated the SimHash stage's cost; this
  * loop stays inside whole-stage codegen, so the 100 TB corpus pass is
  * scan-bound.
  *
  * Intermediates stay < 2^41 for base ≤ 257, mod ≤ 2^31, code points
  * ≤ 0x10FFFF: 64-bit arithmetic never overflows (same argument as the
  * HOF version).
  */
case class PolyHash(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == LongType &&
        third.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_polyhash expects (string, bigint, bigint), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")

  override def nullSafeEval(s: Any, baseAny: Any, modAny: Any): Any =
    PolyHash.hashUtf8(s.asInstanceOf[UTF8String],
      baseAny.asInstanceOf[Long], modAny.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, base, mod) => {
      val n = ctx.freshName("n"); val h = ctx.freshName("h")
      val i = ctx.freshName("i"); val b0 = ctx.freshName("b0")
      val cp = ctx.freshName("cp"); val len = ctx.freshName("len")
      s"""
         |int $n = $s.numBytes();
         |long $h = 7L;
         |if ($n == 0) $h = ($h * $base) % $mod;
         |int $i = 0;
         |while ($i < $n) {
         |  int $b0 = $s.getByte($i) & 0xFF;
         |  // length first + bounds clamp: truncated/malformed sequences
         |  // degrade to one code unit per byte, never read past numBytes
         |  int $len = $b0 < 0x80 ? 1 : (($b0 & 0xE0) == 0xC0 ? 2 : (($b0 & 0xF0) == 0xE0 ? 3 : 4));
         |  int $cp;
         |  if ($i + $len > $n) { $cp = $b0; $len = 1; }
         |  else if ($len == 1) { $cp = $b0; }
         |  else if ($len == 2) { $cp = (($b0 & 0x1F) << 6) | ($s.getByte($i + 1) & 0x3F); }
         |  else if ($len == 3) { $cp = (($b0 & 0x0F) << 12) | (($s.getByte($i + 1) & 0x3F) << 6) | ($s.getByte($i + 2) & 0x3F); }
         |  else { $cp = (($b0 & 0x07) << 18) | (($s.getByte($i + 1) & 0x3F) << 12) | (($s.getByte($i + 2) & 0x3F) << 6) | ($s.getByte($i + 3) & 0x3F); }
         |  $h = ($h * $base + $cp) % $mod;
         |  $i += $len;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PolyHash {
  /** The polynomial code-point hash as a plain static — shared by the
    * PolyHash expression's interpreted path and the batched consumers
    * ([[SlotCounts]], [[HashedMargin]]) that hash every token of a row
    * inside one call. Identical logic to the codegen template above. */
  private[functions] def hashUtf8(bytes: UTF8String, base: Long, mod: Long): Long = {
    val n = bytes.numBytes()
    var h = 7L
    if (n == 0) h = (h * base) % mod
    var i = 0
    while (i < n) {
      val b0 = bytes.getByte(i) & 0xFF
      // sequence length from the lead byte FIRST; a truncated multi-byte
      // tail (or a stray continuation byte classified as a 4-byte lead)
      // must not read past numBytes — UTF8String.getByte is an unchecked
      // unsafe read. Malformed input degrades to one code unit per byte,
      // deterministically.
      var len =
        if (b0 < 0x80) 1
        else if ((b0 & 0xE0) == 0xC0) 2
        else if ((b0 & 0xF0) == 0xE0) 3
        else 4
      var cp = 0
      if (i + len > n) { cp = b0; len = 1 }
      else if (len == 1) { cp = b0 }
      else if (len == 2) { cp = ((b0 & 0x1F) << 6) | (bytes.getByte(i + 1) & 0x3F) }
      else if (len == 3) {
        cp = ((b0 & 0x0F) << 12) | ((bytes.getByte(i + 1) & 0x3F) << 6) | (bytes.getByte(i + 2) & 0x3F)
      } else {
        cp = ((b0 & 0x07) << 18) | ((bytes.getByte(i + 1) & 0x3F) << 12) |
          ((bytes.getByte(i + 2) & 0x3F) << 6) | (bytes.getByte(i + 3) & 0x3F)
      }
      h = (h * base + cp) % mod
      i += len
    }
    h
  }
}

/** Hashed bag-of-words slot counts in ONE pass over the token array:
  * count[j] = |{t : polyHash(t, 257, 2^31−1) mod dim = j}| — bit-identical
  * to the HOF spelling `transform(sequence(0, dim−1), j ->
  * size(filter(toks, t -> hash(t) % dim = j)))` (counts are exact
  * integers, emitted as doubles), which hashed every token dim times
  * through interpreted lambdas: dim×ntok interpreted evals per row was
  * the dominant cost of classifier training AND of the t17 gate's
  * deploy-consistency check. Here each token is hashed once. */
case class SlotCounts(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_slot_counts"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!left.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        left.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_slot_counts expects array<string> tokens, got ${left.dataType}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("graft_slot_counts expects a literal int dim")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val dim: Int = {
    val d = right.eval().asInstanceOf[Int]
    require(d >= 1 && d <= (1 << 20), s"dim out of [1, 2^20]: $d")
    d
  }

  def counts(toksAny: Any): Any = {
    val toks = toksAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val out = new Array[Double](dim)
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      // null tokens cannot come out of TextOps.tokens (split never emits
      // them); skipping matches the HOF filter's null-predicate drop
      if (!toks.isNullAt(i)) {
        val slot = (PolyHash.hashUtf8(toks.getUTF8String(i), 257L, 2147483647L)
          % dim).toInt
        out(slot) += 1.0
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(toksAny: Any, dimAny: Any): Any = counts(toksAny)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftSlotCounts", this,
      classOf[SlotCounts].getName)
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.counts($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Hashed linear margin in ONE pass over the token array:
  * bias + Σ_t w[polyHash(t, 257, 2^31−1) mod |w|], accumulated in token
  * order — bit-identical to the HOF spelling `aggregate(toks, bias,
  * (acc, t) -> acc + element_at(w, slot(t)+1))` (same doubles added in
  * the same order), which paid an interpreted lambda + array element_at
  * per token. This is the scan-stage scorer of every quality-classifier
  * gate; the weights ride as a plan literal. */
case class HashedMargin(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_hashed_margin"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!first.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        first.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_hashed_margin expects array<string> tokens, got ${first.dataType}")
    else if (!second.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        second.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType != DoubleType || !second.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_hashed_margin expects a literal array<double> weight vector")
    else if (third.dataType != DoubleType || !third.foldable)
      TypeCheckResult.TypeCheckFailure("graft_hashed_margin expects a literal double bias")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val weights: Array[Double] = {
    val arr = second.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    require(arr.numElements() >= 1, "graft_hashed_margin: empty weight vector")
    arr.toDoubleArray()
  }
  @transient private lazy val bias: Double = third.eval().asInstanceOf[Double]

  def margin(toksAny: Any): Double = {
    val toks = toksAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val w = weights
    var acc = bias
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      // null tokens cannot come out of TextOps.tokens (split never emits
      // them); skipped for a defined degradation instead of a crash
      if (!toks.isNullAt(i))
        acc += w((PolyHash.hashUtf8(toks.getUTF8String(i), 257L, 2147483647L)
          % w.length).toInt)
      i += 1
    }
    acc
  }

  override def nullSafeEval(toksAny: Any, wAny: Any, bAny: Any): Any =
    margin(toksAny)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftHashedMargin", this,
      classOf[HashedMargin].getName)
    nullSafeCodeGen(ctx, ev, (t, _, _) => s"${ev.value} = $ref.margin($t);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native Catalyst expression computing all MinHash lanes in one pass:
  * lane s of the output is min over the input strings of
  * `xxhash64(s, str)` — bit-identical to the higher-order formulation
  * `array((0 until k).map(s => array_min(transform(shingles, sh =>
  * xxhash64(lit(s), sh)))))`, which traversed the shingle array k times
  * with an interpreted lambda per element (64 interpreted passes per row
  * was the dominant cost of the MinHash signature stage). Here each
  * shingle's bytes are fetched once and fed to all k lanes inside one
  * codegen'd loop, so the signature stage stays scan-bound at corpus
  * scale.
  *
  * Hash identity with Spark's `xxhash64(lit(s), sh)`: that expression
  * folds children over seed 42 — `XXH64.hashInt(s, 42)` for the int
  * literal, then `XXH64.hashUnsafeBytes(bytes, prev)` for the
  * (UTF8_BINARY) string — reproduced verbatim (spec-asserted
  * bit-identical). An empty input array yields all-NULL lanes, matching
  * `array_min(empty) = NULL`.
  */
case class MinHashLanes(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_lanes"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _)
      if right.dataType == org.apache.spark.sql.types.IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_lanes expects (array<string>, int), got " +
        s"(${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(arrAny: Any, kAny: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val arr = arrAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val k = kAny.asInstanceOf[Int]
    val n = arr.numElements()
    val seeds = new Array[Long](k)
    var s = 0
    while (s < k) { seeds(s) = XXH64.hashInt(s, 42L); s += 1 }
    val out = Array.fill(k)(Long.MaxValue)
    // null elements are skipped, matching the HOF twin (xxhash64 ignores
    // null children); the pipeline never produces them, but the function
    // is exposed to arbitrary SQL via GraftExtensions
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val sh = arr.getUTF8String(i)
        val base = sh.getBaseObject; val off = sh.getBaseOffset; val len = sh.numBytes
        s = 0
        while (s < k) {
          val h = XXH64.hashUnsafeBytes(base, off, len, seeds(s))
          if (h < out(s)) out(s) = h
          s += 1
        }
      }
      i += 1
    }
    if (!seen) // empty (or all-null) input: all-NULL lanes, = array_min(empty)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](k))
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, k) => {
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      val n = ctx.freshName("n"); val seeds = ctx.freshName("seeds")
      val out = ctx.freshName("out"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val sh = ctx.freshName("sh")
      val base = ctx.freshName("base"); val off = ctx.freshName("off")
      val len = ctx.freshName("len"); val h = ctx.freshName("h")
      val seen = ctx.freshName("seen")
      s"""
         |int $n = $arr.numElements();
         |long[] $seeds = new long[$k];
         |for (int $s = 0; $s < $k; $s++) $seeds[$s] = $xxh.hashInt($s, 42L);
         |long[] $out = new long[$k];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |boolean $seen = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($arr.isNullAt($i)) continue;
         |  $seen = true;
         |  org.apache.spark.unsafe.types.UTF8String $sh = $arr.getUTF8String($i);
         |  Object $base = $sh.getBaseObject();
         |  long $off = $sh.getBaseOffset();
         |  int $len = $sh.numBytes();
         |  for (int $s = 0; $s < $k; $s++) {
         |    long $h = $xxh.hashUnsafeBytes($base, $off, $len, $seeds[$s]);
         |    if ($h < $out[$s]) $out[$s] = $h;
         |  }
         |}
         |if (!$seen) {
         |  ${ev.value} = new $gad(new Object[$k]);
         |} else {
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit portable SimHash signature of a token array in ONE pass per
  * row — the per-row replacement for the explode + 64-sum-aggregate
  * formulation (the reference in OpsSpec): per token, the two-lane polynomial
  * hash (th = polyHash(tok, 31, 1e9+7)·2³² + polyHash(tok, 131,
  * 998244353) — [[PolyHash]]'s exact arithmetic); per bit i, the count
  * of tokens with bit i set minus the count without; signature bit i = 1
  * iff that sum is > 0. Integer sums are order-independent, so this is
  * bit-identical to the aggregate formulation (spec-asserted) while
  * removing BOTH the token explode (corpus-tokens × row width through a
  * shuffle) and the 64-column hash aggregate — at 100 TB the signature
  * pass becomes scan-bound like the MinHash lanes.
  *
  * NULL array → NULL (callers drop it, matching explode-of-null
  * producing no rows). Null ELEMENTS are skipped (split() never yields
  * them; exposed-to-SQL safety only). An EMPTY array (unreachable via
  * split, which yields [""] for the empty string) returns signature 0 —
  * callers relying on explode's drop-the-row behavior must filter
  * empties upstream. */
case class SimHashPortable(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_portable"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash_portable expects array<string>, got $t")
  }

  override def nullSafeEval(arrAny: Any): Any = {
    val arr = arrAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    SimHashPortable.compute(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr =>
      s"graft.functions.SimHashPortable.compute($arr)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashPortable {
  /** One static call per row from both eval paths (the WordShinglesImpl
    * pattern): 2 polynomial hashes + 64 sign-count updates per token. */
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = arr.numElements()
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val tok = arr.getUTF8String(i)
        val th = PolyHash.hashUtf8(tok, 31L, 1000000007L) * 4294967296L +
          PolyHash.hashUtf8(tok, 131L, 998244353L)
        var b = 0
        while (b < 64) {
          if (((th >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (cnt(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** Shared implementation of word-n-gram shingling over a UTF8String —
  * called from both [[WordShingles]].nullSafeEval and its generated code
  * (one static call per row inside whole-stage codegen; no interpreted
  * lambdas, no per-token Column machinery).
  *
  * Bit-identical to the HOF formulation
  * `array_distinct(transform(sequence(0, count−1), i =>
  * concat_ws(" ", slice(split(s, "\\s+"), i+1, n))))` including its edge
  * cases (spec-asserted):
  *  - Java-split semantics: a leading whitespace run yields an empty
  *    first token, a trailing run an empty last token (limit −1), the
  *    empty string one empty token — Spark's `trim` strips 0x20 only, so
  *    tab/newline-wrapped text reaches the tokenizer;
  *  - `slice` truncation at the array end (short docs yield their full
  *    token join);
  *  - `array_distinct`'s first-occurrence order.
  * Whitespace is Java regex `\s` = ASCII {space, \t, \n, \x0B, \f, \r},
  * all single bytes in UTF-8, so byte scanning is multibyte-safe. */
object WordShinglesImpl {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  def compute(str: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = str.getBytes
    val len = bytes.length
    // token segments [start, end): between whitespace runs, Java-split style
    val se = new java.util.ArrayList[Integer]()
    var i = 0
    var segStart = 0
    while (i < len) {
      if (isWs(bytes(i))) {
        se.add(segStart); se.add(i)
        while (i < len && isWs(bytes(i))) i += 1
        segStart = i
      } else i += 1
    }
    se.add(segStart); se.add(len)
    val nTok = se.size / 2
    val cnt = math.max(nTok - (n - 1), 1)
    val out = new java.util.LinkedHashSet[UTF8String]()
    i = 0
    while (i < cnt) {
      val endTok = math.min(i + n, nTok)
      var total = endTok - 1 - i // separators
      var t = i
      while (t < endTok) { total += se.get(2 * t + 1) - se.get(2 * t); t += 1 }
      val joined = new Array[Byte](total)
      var pos = 0
      t = i
      while (t < endTok) {
        if (t > i) { joined(pos) = ' '; pos += 1 }
        val s = se.get(2 * t); val e = se.get(2 * t + 1)
        System.arraycopy(bytes, s, joined, pos, e - s)
        pos += e - s
        t += 1
      }
      out.add(UTF8String.fromBytes(joined))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** Non-distinct sibling of [[WordShinglesImpl]]: ALL word n-gram
  * windows in position order, duplicates kept — the counting shape
  * (ngram frequency tables, duplicated-span positions) where
  * WordShingles' set semantics would be wrong. Unlike the shingle
  * variant there is no short-text fallback: fewer than n tokens yields
  * an EMPTY array (a window that does not exist must not count). */
object WordGramsImpl {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  def compute(str: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = str.getBytes
    val len = bytes.length
    val se = new java.util.ArrayList[Integer]()
    var i = 0
    var segStart = 0
    while (i < len) {
      if (isWs(bytes(i))) {
        se.add(segStart); se.add(i)
        while (i < len && isWs(bytes(i))) i += 1
        segStart = i
      } else i += 1
    }
    se.add(segStart); se.add(len)
    val nTok = se.size / 2
    val cnt = nTok - (n - 1)
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[AnyRef])
    val out = new Array[AnyRef](cnt)
    i = 0
    while (i < cnt) {
      val endTok = i + n
      var total = n - 1 // separators
      var t = i
      while (t < endTok) { total += se.get(2 * t + 1) - se.get(2 * t); t += 1 }
      val joined = new Array[Byte](total)
      var pos = 0
      t = i
      while (t < endTok) {
        if (t > i) { joined(pos) = ' '; pos += 1 }
        val s = se.get(2 * t); val e = se.get(2 * t + 1)
        System.arraycopy(bytes, s, joined, pos, e - s)
        pos += e - s
        t += 1
      }
      out(i) = UTF8String.fromBytes(joined)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native Catalyst expression for ALL word n-gram windows (duplicates
  * kept, position order) — replaces the interpreted
  * transform(sequence, slice + concat_ws) HOF that dominated
  * ngram-counting scans the same way the shingle HOF dominated dedup. */
case class WordGrams(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_grams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
        right.dataType == org.apache.spark.sql.types.IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_word_grams expects (string, int), got " +
        s"(${left.dataType}, ${right.dataType})")

  override def nullSafeEval(s: Any, n: Any): Any =
    WordGramsImpl.compute(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) =>
      s"${ev.value} = graft.functions.WordGramsImpl$$.MODULE$$.compute($s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared implementation of per-row hash-order prefix selection — the
  * smallest `prefLen` shingles under the global order
  * (xxhash64(shingle), shingle), i.e. Spark's single-arg `xxhash64`
  * (seed 42) with binary string tie-break. Used by ppjoin candidate
  * generation: selecting the prefix per row keeps the prefix stage
  * shuffle-free (an explode + per-doc window formulation was measured
  * 2× slower at sf1 — the window shuffles the entire exploded shingle
  * relation twice), and the sort here is over one doc's shingles, not
  * the corpus. */
object PrefixByHashImpl {
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      prefLen: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // compact away null elements first (skipped like xxhash64's null
    // children; the shingle pipeline never produces them but the function
    // is exposed to arbitrary SQL via GraftExtensions)
    val n0 = arr.numElements()
    val items = new Array[UTF8String](n0)
    var n = 0
    var j = 0
    while (j < n0) {
      if (!arr.isNullAt(j)) { items(n) = arr.getUTF8String(j); n += 1 }
      j += 1
    }
    val take = math.max(math.min(prefLen, n), 0)
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = items(i)
      hashes(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    if (take == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[AnyRef](0))
    // threshold-select on the primitive hash array, then box and sort
    // only the ~prefLen selected elements (a full boxed-comparator sort
    // of every shingle measured ~2× the per-row cost)
    val sorted = hashes.clone()
    java.util.Arrays.sort(sorted)
    val thr = sorted(take - 1)
    val sel = new java.util.ArrayList[Integer](take + 4)
    val ties = new java.util.ArrayList[Integer](4)
    i = 0
    while (i < n) {
      if (hashes(i) < thr) sel.add(i)
      else if (hashes(i) == thr) ties.add(i)
      i += 1
    }
    // hash collisions at the threshold: order those few by the string
    // tie-break and keep only what fits (matches the (hash, shingle)
    // total order of the HOF struct sort)
    ties.sort(new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = items(a).compareTo(items(b))
    })
    var t = 0
    while (sel.size < take && t < ties.size) { sel.add(ties.get(t)); t += 1 }
    sel.sort(new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c = java.lang.Long.compare(hashes(a), hashes(b))
        if (c != 0) c else items(a).compareTo(items(b))
      }
    })
    val out = new Array[AnyRef](take)
    i = 0
    while (i < take) { out(i) = items(sel.get(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native Catalyst expression selecting a ppjoin prefix per row: the
  * `prefLen` smallest shingles under (xxhash64, shingle) order. See
  * [[PrefixByHashImpl]]. */
case class PrefixByHash(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_prefix_by_hash"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _)
      if right.dataType == org.apache.spark.sql.types.IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_prefix_by_hash expects (array<string>, int), got " +
        s"(${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(arrAny: Any, lenAny: Any): Any =
    PrefixByHashImpl.compute(
      arrAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      lenAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, len) =>
      s"${ev.value} = graft.functions.PrefixByHashImpl$$.MODULE$$.compute($arr, $len);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for distinct word-n-gram shingles of a
  * (pre-normalized) text column. The HOF composition it replaces —
  * split + sequence + transform(slice + concat_ws) + array_distinct —
  * evaluated its lambda interpreted per shingle and rebuilt token arrays
  * per row; profiling showed it dominating every shingle-based dedup
  * operator (d02/d03/d08/c01). One pass, one static call per row. */
case class WordShingles(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
        right.dataType == org.apache.spark.sql.types.IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_word_shingles expects (string, int), got " +
        s"(${left.dataType}, ${right.dataType})")

  override def nullSafeEval(s: Any, n: Any): Any =
    WordShinglesImpl.compute(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) =>
      s"${ev.value} = graft.functions.WordShinglesImpl$$.MODULE$$.compute($s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HashFunctions {

  /** Jaro-Winkler similarity column (record-linkage scorer; DuckDB
    * `jaro_winkler_similarity` parity — see [[StringSimilarityWorker]]). */
  def jaroWinkler(a: Column, b: Column): Column =
    Native("graft_jaro_winkler", a, b)

  /** Unicode NFC normalization column (native, ASCII fast path). */
  def nfcNormalize(text: Column): Column =
    Native("graft_nfc", text)

  /** ppjoin hash-order prefix column (per-row native selection, no
    * shuffle). */
  def prefixByHash(shingles: Column, prefLen: Column): Column =
    Native("graft_prefix_by_hash", shingles, prefLen)

  /** Distinct word-n-gram shingle column (single native pass). */
  def wordShingles(text: Column, n: Int): Column =
    Native("graft_word_shingles", text, lit(n))

  /** ALL word n-gram windows (duplicates kept, position order; < n
    * tokens → empty). The counting-shape sibling of [[wordShingles]]. */
  def wordGrams(text: Column, n: Int): Column =
    Native("graft_word_grams", text, lit(n))

  /** MinHash signature column (all lanes in one codegen pass). */
  def minHashLanes(shingles: Column, numHashes: Int): Column =
    Native("graft_minhash_lanes", shingles, lit(numHashes))

  /** Polynomial hash column. */
  def polyHash(s: Column, base: Long, mod: Long): Column =
    Native("graft_polyhash", s, lit(base), lit(mod))

  /** Deflated byte count column (compressibility quality signal). */
  def deflateSize(s: Column): Column =
    Native("graft_deflate_size", s)

  /** Hashed bag-of-words slot-count column (one native pass per row). */
  def slotCounts(tokens: Column, dim: Int): Column =
    Native("graft_slot_counts", tokens, lit(dim))

  /** Hashed linear margin column (one native pass per row; weights and
    * bias ride as plan literals). */
  def hashedMargin(tokens: Column, weights: Seq[Double], bias: Double): Column =
    Native("graft_hashed_margin", tokens,
      org.apache.spark.sql.functions.typedLit(weights), lit(bias))

  /** Portable 64-bit SimHash signature column over a token array (one
    * native pass per row — see [[SimHashPortable]]). */
  def simHashPortable(tokens: Column): Column =
    Native("graft_simhash_portable", tokens)
}
