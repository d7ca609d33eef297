package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, IntegerType, LongType}

/** A Bloom membership set over 64-bit hashes with FULL-WIDTH double
  * hashing, split between a driver-side builder ([[BloomSet.build]]) and
  * a codegen'd probe expression ([[BloomSetContains]]).
  *
  * Why not `org.apache.spark.util.sketch.BloomFilter`: its put/probe
  * derives both double-hashing terms from 32-bit Murmur3 halves, which
  * floors the reachable false-positive rate around 3·10⁻⁶ REGARDLESS of
  * how many bits are allocated (measured with 500 random longs inserted
  * and 2·10⁷ random probes, each filter at its optimal sizing: asked for
  * fpp 1e-8, spark-sketch delivers ~7.8e-5 at the optimal bit count and
  * plateaus at ~3e-6 with 64× the bits). A decontamination gate that
  * must match an exact oracle needs the theoretical curve, not a
  * hash-width floor. Here probe i's position is
  * splitmix64(h + i·GOLDEN) unsigned-mod m — the splitmix64 output
  * stream seeded by the input hash, i.e. k effectively-independent
  * full-width hashes per item (measured: tracks the analytic
  * (1−e^(−kn/m))^k; the cheaper Kirsch-Mitzenmacher affine form
  * g_i = h₁+i·h₂ was measured 40× above the curve at fpp 1e-8 — its
  * known small-m degradation — and rejected).
  *
  * Layout: little-endian packed longs; bit b of the set lives at byte
  * (b >>> 3), mask (1 << (b & 7)). `build` and the probe share this
  * addressing by construction (both spelled against the byte array). */
object BloomSet {

  /** splitmix64 stream increment. */
  val Golden = 0x9E3779B97F4A7C15L

  /** splitmix64 finalizer — the probe's codegen carries the identical
    * constant sequence. */
  def mix(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Position of probe `i` for item hash `h` in an `m`-bit set. */
  def position(h: Long, i: Int, m: Long): Long =
    java.lang.Long.remainderUnsigned(mix(h + i * Golden), m)

  /** Optimal bit count for `n` items at `fpp` (−n·ln p / ln²2), rounded
    * up to a whole number of bytes and at least 64 bits. */
  def optimalNumBits(n: Long, fpp: Double): Long = {
    require(n > 0 && fpp > 0 && fpp < 1, s"need n>0, fpp in (0,1); got n=$n fpp=$fpp")
    val m = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    math.max(64L, (m + 7) / 8 * 8)
  }

  /** Optimal probe count for n items in m bits (m/n·ln2, ≥1). */
  def optimalNumProbes(n: Long, m: Long): Int =
    math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)

  /** Build the packed bitset over `hashes` (driver-side; the caller owns
    * the boundedness argument — eval/blocklist sets, not corpora). */
  def build(hashes: Array[Long], m: Long, k: Int): Array[Byte] = {
    require(m > 0 && m % 8 == 0 && k > 0, s"need m>0 (byte-aligned), k>0; got m=$m k=$k")
    require(m / 8 <= Int.MaxValue, s"bitset over 256 MB: m=$m")
    val bytes = new Array[Byte]((m / 8).toInt)
    var j = 0
    while (j < hashes.length) {
      val h = hashes(j)
      var i = 0
      while (i < k) {
        val g = position(h, i, m)
        bytes((g >>> 3).toInt) = (bytes((g >>> 3).toInt) | (1 << (g & 7L).toInt)).toByte
        i += 1
      }
      j += 1
    }
    bytes
  }
}

/** `graft_bloom_contains(bitset binary, hash long, k int)` — true iff all
  * k probe positions of `hash` are set. The bitset argument is a plan
  * literal (one copy per executor via the task binary); the probe is a
  * k-iteration codegen loop with early exit, so the filter runs inside
  * whole-stage codegen in the probing scan's stage. */
case class BloomSetContains(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == BinaryType && second.dataType == LongType &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains expects (binary, bigint, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")

  override def nullSafeEval(bsAny: Any, hAny: Any, kAny: Any): Any = {
    val bytes = bsAny.asInstanceOf[Array[Byte]]
    val h1 = hAny.asInstanceOf[Long]
    val k = kAny.asInstanceOf[Int]
    val m = bytes.length.toLong * 8
    if (m == 0) return false
    var i = 0
    while (i < k) {
      val g = BloomSet.position(h1, i, m)
      if ((bytes((g >>> 3).toInt) & (1 << (g & 7L).toInt)) == 0) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bs, h, k) => {
      val m = ctx.freshName("m"); val z = ctx.freshName("z")
      val i = ctx.freshName("i"); val g = ctx.freshName("g")
      val ok = ctx.freshName("ok")
      s"""
         |long $m = ((long) $bs.length) * 8L;
         |boolean $ok = $m > 0;
         |for (int $i = 0; $ok && $i < $k; $i++) {
         |  long $z = $h + $i * 0x9E3779B97F4A7C15L;
         |  $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |  $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |  $z = $z ^ ($z >>> 31);
         |  long $g = java.lang.Long.remainderUnsigned($z, $m);
         |  if (($bs[(int) ($g >>> 3)] & (1 << (int) ($g & 7L))) == 0) $ok = false;
         |}
         |${ev.value} = $ok;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
