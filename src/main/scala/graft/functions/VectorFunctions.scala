package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression for cosine similarity over two equal-length
  * numeric arrays. A codegen'd tight loop (no per-element lambda closures
  * like `zip_with`/`aggregate` compose to), so brute-force similarity scans
  * stay inside whole-stage codegen — this is the hot inner loop of the
  * embedding dedup/ANN operators at 100 TB scale.
  * Float arrays are implicitly cast to double (ImplicitCastInputTypes).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xv = $x.getDouble($i);
         |  double yv = $y.getDouble($i);
         |  $dot += xv * yv; $nx += xv * xv; $ny += yv * yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($nx * $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression computing banded random-hyperplane LSH
  * signatures in one pass: for each band b of `rowsPerBand` planes, bit p
  * of signature b is the sign of dot(vec, plane_{b·rowsPerBand+p}).
  * `planes` is the flattened plane matrix (band-major, each plane `dim`
  * doubles) — a literal, so codegen reads it from a reference without
  * per-row construction.
  *
  * `dim` (fourth argument) is the dimensionality the planes were built
  * for. A row whose vector length differs — ragged embeddings — yields
  * NULL rather than silently re-deriving a different band count and
  * reading plane slices at wrong offsets (the plane literal's length is
  * a multiple of dim·rowsPerBand, so all reads stay in bounds by
  * construction once dim is pinned). NULL signatures drop out of the
  * downstream posexplode: mismatched rows simply produce no candidates.
  *
  * Replaces the `zip_with` + `aggregate` HOF composition, which
  * materialized a per-plane product array and evaluated its lambdas
  * interpreted per element — numPlanes × dim interpreted ops per row was
  * the dominant cost of the embedding-LSH candidate stage. Sum order per
  * plane is ascending-index, matching the HOF `aggregate` fold, so signs
  * (and therefore signatures) are bit-identical. */
case class PlaneSignatures(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_plane_sigs"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (arr(first.dataType) && arr(second.dataType) &&
        third.dataType == IntegerType && fourth.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_plane_sigs expects (array<double>, array<double>, int, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType}, ${fourth.dataType})")
  }

  override def nullSafeEval(vecAny: Any, planesAny: Any, rpbAny: Any, dimAny: Any): Any = {
    val v = vecAny.asInstanceOf[ArrayData]
    val pl = planesAny.asInstanceOf[ArrayData]
    val rpb = rpbAny.asInstanceOf[Int]
    val dim = dimAny.asInstanceOf[Int]
    if (v.numElements() != dim || dim == 0) return null
    val nBands = pl.numElements() / dim / rpb
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var sig = 0L; var p = 0
      while (p < rpb) {
        val base = (b * rpb + p) * dim
        var s = 0.0; var i = 0
        while (i < dim) { s += v.getDouble(i) * pl.getDouble(base + i); i += 1 }
        if (s >= 0) sig |= 1L << p
        p += 1
      }
      out(b) = sig; b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, pl, rpb, dim) => {
      val nBands = ctx.freshName("nBands")
      val out = ctx.freshName("out"); val b = ctx.freshName("b")
      val sig = ctx.freshName("sig"); val p = ctx.freshName("p")
      val base = ctx.freshName("base"); val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |if ($v.numElements() != $dim || $dim == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $nBands = $pl.numElements() / $dim / $rpb;
         |  long[] $out = new long[$nBands];
         |  for (int $b = 0; $b < $nBands; $b++) {
         |    long $sig = 0L;
         |    for (int $p = 0; $p < $rpb; $p++) {
         |      int $base = ($b * $rpb + $p) * $dim;
         |      double $s = 0.0;
         |      for (int $i = 0; $i < $dim; $i++) $s += $v.getDouble($i) * $pl.getDouble($base + $i);
         |      if ($s >= 0) $sig |= 1L << $p;
         |    }
         |    $out[$b] = $sig;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** Native Catalyst expression selecting, per input vector, the `nProbe`
  * centroids nearest by cosine — the IVF query-routing step as ONE
  * codegen'd scalar function. Arguments: (vec array<double>,
  * centroidsFlat array<double> — the row-major flattened centroid
  * matrix, dim int, nProbe int); result: array<int> of cluster ids
  * ordered (cosine desc, id asc).
  *
  * Replaces the crossJoin(queries × broadcast centroids) + row_number
  * window routing, which inflated |q|×nLists rows (each carrying the
  * full query embedding — ~25 MB shuffled PER QUERY ROW at max auto
  * knobs, nLists ≤ 4096 × 768-dim doubles) through a window exchange
  * before any candidate was scored. Here the matrix rides the plan as
  * one literal (the same bytes the broadcast centroid table shipped,
  * once per executor via the task binary), the top-nProbe selection is
  * a bounded insertion pass per row, and routing adds ZERO shuffles —
  * the explode fans each query out nProbe ways, not nLists.
  *
  * Cosine accumulation order matches [[CosineSimilarity]] exactly
  * (interleaved or not, the per-accumulator addition sequence is
  * ascending-index over min(|vec|, dim) elements), and selection order
  * matches `row_number over (cosine desc, cluster asc)` — so routing
  * decisions are bit-identical to the replaced formulation. */
case class TopClusters(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_top_clusters"
  // eval returns null for dim<=0/nProbe<=0 REGARDLESS of child
  // nullability — without this override, non-nullable children make
  // nullSafeCodeGen emit ev.isNull as the constant `false`, the
  // generated `false = true;` fails janino ("not an rvalue"), and the
  // whole Generate stage silently fell back to interpreted eval (found
  // by the round-12 DeterminismSweep's codegen-error scan; every
  // sibling expression already had it)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (arr(first.dataType) && arr(second.dataType) &&
        third.dataType == IntegerType && fourth.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_top_clusters expects (array<double>, array<double>, int, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType}, ${fourth.dataType})")
  }

  override def nullSafeEval(vecAny: Any, plAny: Any, dimAny: Any, npAny: Any): Any = {
    val v = vecAny.asInstanceOf[ArrayData]
    val pl = plAny.asInstanceOf[ArrayData]
    val dim = dimAny.asInstanceOf[Int]
    val nProbe = npAny.asInstanceOf[Int]
    if (dim <= 0 || nProbe <= 0) return null
    val nClusters = pl.numElements() / dim
    val n = math.min(v.numElements(), dim)
    var nq = 0.0; var i = 0
    while (i < n) { val x = v.getDouble(i); nq += x * x; i += 1 }
    val keep = math.min(nProbe, nClusters)
    val bestCos = new Array[Double](math.max(keep, 1))
    val bestId = new Array[Int](math.max(keep, 1))
    var count = 0; var c = 0
    while (c < nClusters) {
      val base = c * dim
      var dot = 0.0; var nc = 0.0; var j = 0
      while (j < n) {
        val x = v.getDouble(j); val y = pl.getDouble(base + j)
        dot += x * y; nc += y * y; j += 1
      }
      val cos = if (nq == 0.0 || nc == 0.0) 0.0 else dot / math.sqrt(nq * nc)
      // bounded insertion, (cos desc, id asc); strict > keeps equal-cos
      // later (larger) ids after earlier ones — row_number tie order
      if (count < keep || cos > bestCos(count - 1)) {
        var pos = if (count < keep) count else keep - 1
        while (pos > 0 && cos > bestCos(pos - 1)) {
          bestCos(pos) = bestCos(pos - 1); bestId(pos) = bestId(pos - 1); pos -= 1
        }
        bestCos(pos) = cos; bestId(pos) = c
        if (count < keep) count += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (count == bestId.length) bestId else java.util.Arrays.copyOf(bestId, count))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, pl, dim, np) => {
      val nClusters = ctx.freshName("nClusters"); val n = ctx.freshName("n")
      val nq = ctx.freshName("nq"); val i = ctx.freshName("i")
      val keep = ctx.freshName("keep")
      val bestCos = ctx.freshName("bestCos"); val bestId = ctx.freshName("bestId")
      val count = ctx.freshName("count"); val c = ctx.freshName("c")
      val base = ctx.freshName("base"); val dot = ctx.freshName("dot")
      val nc = ctx.freshName("nc"); val j = ctx.freshName("j")
      val cos = ctx.freshName("cos"); val pos = ctx.freshName("pos")
      s"""
         |if ($dim <= 0 || $np <= 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $nClusters = $pl.numElements() / $dim;
         |  int $n = java.lang.Math.min($v.numElements(), $dim);
         |  double $nq = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { double xq = $v.getDouble($i); $nq += xq * xq; }
         |  int $keep = java.lang.Math.min($np, $nClusters);
         |  double[] $bestCos = new double[java.lang.Math.max($keep, 1)];
         |  int[] $bestId = new int[java.lang.Math.max($keep, 1)];
         |  int $count = 0;
         |  for (int $c = 0; $c < $nClusters; $c++) {
         |    int $base = $c * $dim;
         |    double $dot = 0.0, $nc = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      double xv = $v.getDouble($j);
         |      double yv = $pl.getDouble($base + $j);
         |      $dot += xv * yv; $nc += yv * yv;
         |    }
         |    double $cos = ($nq == 0.0 || $nc == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($nq * $nc);
         |    if ($count < $keep || $cos > $bestCos[$count - 1]) {
         |      int $pos = ($count < $keep) ? $count : $keep - 1;
         |      while ($pos > 0 && $cos > $bestCos[$pos - 1]) {
         |        $bestCos[$pos] = $bestCos[$pos - 1]; $bestId[$pos] = $bestId[$pos - 1]; $pos--;
         |      }
         |      $bestCos[$pos] = $cos; $bestId[$pos] = $c;
         |      if ($count < $keep) $count++;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    $count == $bestId.length ? $bestId : java.util.Arrays.copyOf($bestId, $count));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object VectorFunctions {

  /** Idempotent registration of every native graft function
    * ([[Native.table]]) into `spark`'s function registry, for SQL text
    * (`SELECT graft_cosine(...)`). The Scala helpers need none: their
    * Columns carry the expressions themselves. */
  def register(spark: SparkSession): Unit = Native.table.foreach { f =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(f.name, f.build, "built-in")
  }

  /** Cosine similarity column. Float arrays are cast here (a no-copy
    * reinterpret inside codegen). */
  def cosine(a: Column, b: Column): Column =
    Native("graft_cosine", a.cast("array<double>"), b.cast("array<double>"))

  /** Banded hyperplane signatures column: array of `planes.length /
    * rowsPerBand` packed sign-bit signatures (band-major plane order).
    * Rows whose vector length differs from the planes' dimensionality
    * yield NULL (and so drop out of candidate generation) instead of
    * reading plane slices at wrong offsets. */
  def planeSignatures(vec: Column, planes: Seq[Seq[Double]], rowsPerBand: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    Native("graft_plane_sigs", vec.cast("array<double>"),
      typedLit(planes.flatten), lit(rowsPerBand), lit(planes.head.length))
  }

  /** Per-row top-`nProbe` nearest clusters by cosine (ids ordered cosine
    * desc, id asc) against the row-major flattened `centroids` matrix —
    * the IVF routing step with zero shuffles; explode the result to fan
    * each query out nProbe ways. */
  def topClusters(vec: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    require(centroids.nonEmpty && centroids.head.nonEmpty, "topClusters needs a non-empty centroid matrix")
    Native("graft_top_clusters", vec.cast("array<double>"),
      typedLit(centroids.flatten), lit(centroids.head.length), lit(nProbe))
  }

  /** PQ codes column: per subspace, the nearest (L2) codebook centroid
    * id. `codebooksFlat` is subspace-major, then centroid-major, each
    * centroid `dsub` doubles (a plan literal). */
  def pqEncode(vec: Column, codebooksFlat: Seq[Double], dsub: Int, k: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    Native("graft_pq_encode", vec.cast("array<double>"),
      typedLit(codebooksFlat), lit(dsub), lit(k))
  }

  /** Asymmetric-distance score column over PQ codes: `m` table lookups
    * per row against the query-specific `lutFlat` (m×k, plan literal). */
  def pqAdc(codes: Column, lutFlat: Seq[Double], k: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    Native("graft_pq_adc", codes, typedLit(lutFlat), lit(k))
  }

  /** Int8 scalar-quantized codes column (L2-normalize then round each
    * component to a signed byte at scale 127): one byte per dimension,
    * BinaryType — the bandwidth lever for brute-force scans. */
  def sq8Encode(vec: Column): Column =
    Native("graft_sq8_encode", vec.cast("array<double>"))

  /** Asymmetric int8 score column: full-precision `query` (plan literal)
    * against [[sq8Encode]] byte codes — approximates cosine of the
    * original vectors. */
  def sq8Dot(codes: Column, query: Seq[Double]): Column = {
    import org.apache.spark.sql.functions.typedLit
    Native("graft_sq8_dot", codes, typedLit(query))
  }
}
