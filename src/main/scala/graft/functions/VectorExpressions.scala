package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Kernels of the native vector expressions for the similarity hot path.
  *
  * The composable HOF formulation (`aggregate(zip_with(...))`, see
  * [[graft.operators.Similarity.dot]]) is evaluated interpreted — per-row
  * lambda dispatch and boxing dominate at millions of pairs (measured: 74 s
  * for the sf0.1 near-dup crossjoin). Each expression below instead runs one
  * tight loop over the underlying arrays: its `nullSafeEval` calls the
  * kernel here, and its generated code calls the same method by name (the
  * [[JaroWinklerUtil]] pattern), so the arithmetic exists once for both
  * paths. A nullable kernel returns a primitive and its NULL rule is a
  * separate predicate tested first, so generated code neither boxes nor
  * allocates per row.
  *
  * Arithmetic is kept BIT-IDENTICAL to the HOF version and the DuckDB oracle:
  * each accumulator (dot, |a|², |b|²) is summed sequentially left-to-right in
  * double precision, then cos = dot / (sqrt(na) * sqrt(nb)).
  */
object VectorKernels {

  /** NULL rule of the pair kernels (round-14 fix): a NULL ELEMENT in the
    * common prefix. The typed getter (`getFloat`/`getLong`) REINTERPRETS a
    * null slot as whatever bytes sit there (0.0 on unsafe buffers) instead
    * of erroring, so a partially-null embedding silently scored as if the
    * holes were zeros — where the HOF reference null-propagates the whole
    * sum through zip_with/aggregate to NULL. Unequal lengths keep the
    * documented common-prefix (zero-pad) semantics.
    */
  def prefixHasNull(x: ArrayData, y: ArrayData): Boolean = {
    val n = math.min(x.numElements(), y.numElements())
    ArrayNulls.hasNull(x, n) || ArrayNulls.hasNull(y, n)
  }

  /** Cosine's NULL rule: [[prefixHasNull]], or a zero norm (round-13 fix).
    * The HOF reference divides through Spark's non-ANSI `Divide`, whose
    * divide-by-zero yields NULL — a raw `0.0/0.0` yields NaN instead, and
    * Spark sorts NaN GREATER than every double, so one all-zero (dead or
    * padded) embedding became the #1 neighbor of every query. "Either
    * prefix is all zeros" equals `|a|² == 0 || |b|² == 0` exactly for
    * floats: a nonzero float squares to at least 2e-90 in double, and NaN
    * and ±Inf never square to 0. The scan stops at the first nonzero.
    */
  def cosineIsNull(x: ArrayData, y: ArrayData): Boolean = {
    val n = math.min(x.numElements(), y.numElements())
    ArrayNulls.hasNull(x, n) || ArrayNulls.hasNull(y, n) ||
      allZero(x, n) || allZero(y, n)
  }

  private def allZero(v: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) {
      if (v.getFloat(i) != 0.0f) return false
      i += 1
    }
    true
  }

  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xa = x.getFloat(i).toDouble
      val yb = y.getFloat(i).toDouble
      dot += xa * yb
      na += xa * xa
      nb += yb * yb
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def sqL2(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  def l1(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += math.abs(x.getFloat(i).toDouble - y.getFloat(i).toDouble)
      i += 1
    }
    acc
  }

  def matchFraction(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var eq = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) eq += 1
      i += 1
    }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  /** A NULL element anywhere in the dotted prefix leaves ALL bits unset
    * (round-14 fix): the HOF reference's per-plane dot null-propagates,
    * and `when(null >= 0, bit)` takes the otherwise-0 branch for every
    * plane — while the typed getter would have reinterpreted the null
    * slot's bytes into an arbitrary sign. All-zero chunks keep such
    * vectors in ONE bucket per band instead of scattering them
    * non-reproducibly.
    */
  def hyperplaneChunks(v: ArrayData, planes: Array[Array[Long]],
      bitsPerBand: Int): ArrayData = {
    val chunks = new Array[Long](planes.length / bitsPerBand)
    val nv = v.numElements()
    if (!ArrayNulls.hasNull(v, nv)) {
      var j = 0
      while (j < planes.length) {
        val p = planes(j)
        val n = math.min(nv, p.length)
        var dot = 0L
        var d = 0
        while (d < n) { dot += v.getLong(d) * p(d); d += 1 }
        if (dot >= 0) chunks(j / bitsPerBand) |= 1L << (j % bitsPerBand)
        j += 1
      }
    }
    new GenericArrayData(chunks)
  }
}

/** Shape of the pair expressions: two arrays in, a nullable double out of
  * the [[VectorKernels]] method named `kernel`, NULL when the predicate
  * named `nullRule` holds. `isNull`/`value` are the same two methods for
  * the interpreted path. (Serializable itself: Java deserialization needs
  * every non-serializable superclass to have a no-arg constructor.)
  */
sealed abstract class PairKernelExpression(kernel: String, nullRule: String)
    extends BinaryExpression with Serializable {

  protected def isNull(x: ArrayData, y: ArrayData): Boolean =
    VectorKernels.prefixHasNull(x, y)
  protected def value(x: ArrayData, y: ArrayData): Double

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (isNull(x, y)) null else value(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"if (graft.functions.VectorKernels.$nullRule($x, $y)) { ${ev.isNull} = true; } " +
        s"else { ${ev.value} = graft.functions.VectorKernels.$kernel($x, $y); }")
}

/** Cosine similarity of two array<float> columns; NULL on a zero norm or a
  * null element in the common prefix (see [[VectorKernels.cosineIsNull]]).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends PairKernelExpression("cosine", "cosineIsNull") {

  override def prettyName: String = "cosine_similarity"

  override protected def isNull(x: ArrayData, y: ArrayData): Boolean =
    VectorKernels.cosineIsNull(x, y)
  override protected def value(x: ArrayData, y: ArrayData): Double =
    VectorKernels.cosine(x, y)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance between two array<float> columns, summed
  * left-to-right in double — bit-identical to the HOF
  * `aggregate(zip_with((x-y)*(x-y)))` formulation and DuckDB's
  * `list_sum(list_transform(...))` (the k-means assignment scan runs this
  * k times per vector).
  */
case class SquaredL2Distance(left: Expression, right: Expression)
    extends PairKernelExpression("sqL2", "prefixHasNull") {

  override def prettyName: String = "sq_l2_distance"

  override protected def value(x: ArrayData, y: ArrayData): Double =
    VectorKernels.sqL2(x, y)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L1 (Manhattan) distance between two array<float> columns — same parity
  * contract as [[SquaredL2Distance]]; the second ranker of the
  * reciprocal-rank-fusion pass.
  */
case class L1Distance(left: Expression, right: Expression)
    extends PairKernelExpression("l1", "prefixHasNull") {

  override def prettyName: String = "l1_distance"

  override protected def value(x: ArrayData, y: ArrayData): Double =
    VectorKernels.l1(x, y)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fraction of positions where two long arrays agree — the MinHash-signature
  * Jaccard estimator. It runs once per LSH candidate pair, and candidate
  * sets are orders of magnitude larger than the verified output. A null
  * signature slot yields NULL rather than "matching" reinterpreted bytes.
  */
case class LongArrayMatchFraction(left: Expression, right: Expression)
    extends PairKernelExpression("matchFraction", "prefixHasNull") {

  override def prettyName: String = "match_fraction"

  override protected def value(x: ArrayData, y: ArrayData): Double =
    VectorKernels.matchFraction(x, y)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All `bands * bitsPerBand` hyperplane sign bits of a quantized vector in
  * ONE pass: input array<long> (the floor(x*1000) quantization), output
  * array<long> of `bands` packed chunks. The HOF formulation (one
  * aggregate(zip_with) per plane) dispatches interpreted lambdas 48x per
  * row; [[VectorKernels.hyperplaneChunks]] is a tight two-level integer
  * loop. Integer arithmetic keeps the result bit-identical to both the HOF
  * path and the SQL oracle.
  */
case class HyperplaneChunks(child: Expression, planeRows: Seq[Seq[Long]],
    bitsPerBand: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(planeRows.nonEmpty && planeRows.length % bitsPerBand == 0,
    "plane count must be a positive multiple of bitsPerBand")

  // Seq fields keep case-class equality STRUCTURAL (Array fields compare by
  // reference, defeating Catalyst semanticEquals/CSE); the kernel runs on
  // this materialized array form.
  @transient private lazy val planes: Array[Array[Long]] =
    planeRows.map(_.toArray).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "hyperplane_chunks"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.hyperplaneChunks(input.asInstanceOf[ArrayData], planes, bitsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "long[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VectorKernels.hyperplaneChunks($v, $planesRef, $bitsPerBand)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneChunks =
    copy(child = newChild)
}

object VectorFunctions {
  // The kernels read elements with type-specific getters (getFloat/getLong),
  // which REINTERPRET mistyped array buffers rather than erroring — an
  // array<double> embedding fed to getFloat yields silently meaningless
  // scores. Each builder therefore pins its operand type with an explicit
  // cast (round-13 fix): a correctly-typed input's identity cast is erased
  // by Catalyst's SimplifyCasts (plans unchanged), a numerically compatible
  // one is converted, and an incompatible one fails analysis loudly. The
  // Column wrappers and the SQL surface ([[GraftExtensions]]) both build
  // through these, so neither can lose the pin.
  private def floats(e: Expression): Expression = Cast(e, ArrayType(FloatType))
  private def longs(e: Expression): Expression = Cast(e, ArrayType(LongType))

  private[functions] def cosine(a: Expression, b: Expression): Expression =
    CosineSimilarity(floats(a), floats(b))
  private[functions] def sqL2(a: Expression, b: Expression): Expression =
    SquaredL2Distance(floats(a), floats(b))
  private[functions] def l1(a: Expression, b: Expression): Expression =
    L1Distance(floats(a), floats(b))
  private[functions] def matchFraction(a: Expression, b: Expression): Expression =
    LongArrayMatchFraction(longs(a), longs(b))

  private def pair(build: (Expression, Expression) => Expression,
      a: Column, b: Column): Column =
    GraftColumnBridge.column(build(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Cosine similarity over two array<float> columns. */
  def cosine_sim(a: Column, b: Column): Column = pair(cosine, a, b)

  /** Squared L2 distance over two array<float> columns. */
  def sq_l2_distance(a: Column, b: Column): Column = pair(sqL2, a, b)

  /** L1 (Manhattan) distance over two array<float> columns. */
  def l1_distance(a: Column, b: Column): Column = pair(l1, a, b)

  /** Positional match fraction over two array<long> columns. */
  def match_fraction(a: Column, b: Column): Column = pair(matchFraction, a, b)

  /** Banded hyperplane signature over an array<long> column. */
  def hyperplane_chunks(v: Column, planes: Seq[Seq[Long]], bitsPerBand: Int): Column =
    GraftColumnBridge.column(HyperplaneChunks(GraftColumnBridge.expression(v),
      planes, bitsPerBand))
}
