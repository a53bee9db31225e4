// Hosted under org.apache.spark.sql for the same private[sql] access
// reasons as VectorExpressions.
package org.apache.spark.sql.graft

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused kernels for the PORTABLE random-hyperplane LSH path
  * (q71's `cosineNearDupPairsPortable`), the decimal-cosine gates and
  * the Lloyd means, plus the exact double→DECIMAL rounding they share.
  *
  * The relational formulation derives its determinism from DECIMAL
  * aggregation: per-dimension products rounded to 12 dp, cast to
  * DECIMAL(18,12) and summed — integer arithmetic whose value no
  * partitioning can perturb, so a SQL oracle re-derives every sign
  * bit and score. That guarantee lives in the VALUES, not in the
  * relational plan shape: these kernels compute the identical scaled
  * integers with the identical roundings (`Math.addExact` over
  * unscaled longs is the decimal sum, loud on overflow) inside ONE
  * whole-stage-codegen projection per row. The 64×-row `posexplode`
  * product stream, its plane join and the (id, dim) verify joins they
  * replace are gone: the corpus never inflates and never shuffles by
  * (id, dim).
  *
  * Rounding invariant. Spark's double→DECIMAL(p, s) cast and its
  * `round(double, s)` both round `Double.toString(v)` half-up at
  * scale s. [[halfUpUnscaled]] returns that rounding's unscaled value
  * without building the string: for |v| < 10^(15−s) it forms
  * t = |v|·10^s, whose fractional part `t − floor(t)` is exact.
  * `Double.toString(v)` lies within ulp(v) of v, so its exact scaled
  * value lies within ulp(|v|)·10^s + ulp(t) of t. When t's fractional
  * part is farther than four times that from ½, no half-way point lies
  * between the two, and both round to the integer nearest t. Otherwise
  * — and for NaN, ±∞ and |v| past the bound — it answers
  * [[Undecided]], and the caller runs the `BigDecimal` chain.
  */
object RhpKernels {

  /** [[halfUpUnscaled]]'s answer when only the exact chain can decide. */
  final val Undecided = Long.MinValue

  /** Largest scale [[halfUpUnscaled]] serves; the bound at scale s is
    * 10^(MaxFastScale − s), so t < 10^15 and every rounded decimal it
    * returns has at most 15 significant digits. */
  final val MaxFastScale = 15

  private val Pow10: Array[Double] = Array.iterate(1.0, MaxFastScale + 1)(_ * 10)

  /** Half-up rounding of `Double.toString(v)` at `scale` (0 ≤ scale ≤
    * [[MaxFastScale]]) as an unscaled long, or [[Undecided]] (see the
    * rounding invariant above). */
  def halfUpUnscaled(v: Double, scale: Int): Long = {
    val a = Math.abs(v)
    if (!(a < Pow10(MaxFastScale - scale))) Undecided
    else {
      val p = Pow10(scale)
      val t = a * p
      val whole = Math.floor(t)
      val frac = t - whole
      if (Math.abs(frac - 0.5) <= 4 * (Math.ulp(a) * p + Math.ulp(t))) Undecided
      else {
        val n = whole.toLong + (if (frac > 0.5) 1L else 0L)
        if (v < 0) -n else n
      }
    }
  }

  /** Spark's `round(v, 12)` (a double) cast to DECIMAL(_, 12), done
    * literally: the rounded value round-trips through a double. Below
    * |v| < 1000 the trip is the identity (≤ 15 significant digits). */
  private def round12Exact(v: Double): JBigDecimal = {
    val rounded = JBigDecimal.valueOf(v).setScale(12, RoundingMode.HALF_UP).doubleValue()
    JBigDecimal.valueOf(rounded).setScale(12, RoundingMode.HALF_UP)
  }

  /** `round(v, 12)::DECIMAL(38,12)` as the unscaled long; throws past
    * the long range (|v| ≳ 9.2×10⁶). */
  def round12(v: Double): Long = {
    val u = halfUpUnscaled(v, 12)
    if (u != Undecided) u else round12Exact(v).unscaledValue().longValueExact()
  }

  private val Decimal18Limit = BigInteger.TEN.pow(18)

  /** round(x*c, 12) then double→DECIMAL(18,12), as the unscaled long
    * — exactly Spark's `round(col, 12).cast(DecimalType(18, 12))`.
    * Throws an ArithmeticException where that cast overflows
    * (|round(x·c, 12)| ≥ 10⁶). */
  def scaledTerm(x: Double, c: Double): Long = {
    val v = x * c
    val u = halfUpUnscaled(v, 12)
    if (u != Undecided) u
    else {
      val unscaled = round12Exact(v).unscaledValue()
      if (unscaled.abs().compareTo(Decimal18Limit) >= 0)
        throw new ArithmeticException(s"round($v, 12) overflows DECIMAL(18,12)")
      unscaled.longValue()
    }
  }

  /** DECIMAL(_,12) → double, exactly Spark's `Decimal.toDouble`. */
  def unscaledToDouble(sum: Long): Double =
    new JBigDecimal(BigInteger.valueOf(sum), 12).doubleValue()

  /** Per-table sign-bit buckets: for table t, bit k is set iff
    * Σ_d scaledTerm(vec(d), planes(t*numPlanes + k)(d)) ≥ 0 — the
    * fused equivalent of the conditional decimal plane sums. */
  def buckets(vec: ArrayData, planes: Array[Array[Double]],
      numPlanes: Int): ArrayData = {
    val numTables = planes.length / numPlanes
    val out = new Array[Long](numTables)
    val n = vec.numElements()
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var k = 0
      while (k < numPlanes) {
        val cs = planes(t * numPlanes + k)
        // bound by the plane length too: the plane matrix is sized
        // from a sampled row, and a ragged corpus (longer vectors
        // later) must degrade like the round-5 dims equi-join did —
        // extra dimensions ignored — not index out of bounds
        val dims = Math.min(n, cs.length)
        var sum = 0L
        var d = 0
        while (d < dims) {
          sum = Math.addExact(sum, scaledTerm(vec.getDouble(d), cs(d)))
          d += 1
        }
        if (sum >= 0) bucket |= (1L << k)
        k += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Σ_i round(a_i*b_i, 12) in DECIMAL(18,12), returned as double —
    * exactly `sum(round(xa*xb, 12)::DECIMAL(18,12))::DOUBLE`. */
  def decimalDot(a: ArrayData, b: ArrayData): Double = {
    val n = Math.min(a.numElements(), b.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      sum = Math.addExact(sum, scaledTerm(a.getDouble(i), b.getDouble(i)))
      i += 1
    }
    unscaledToDouble(sum)
  }

  /** The centered md5-60 plane component for (t, p, d) — exactly the
    * relational `(conv(substring(md5('t:p:d'), 1, 15), 16, 10)::LONG
    * − 2⁵⁹)::DOUBLE / 2⁵⁹` (long→double is the one IEEE rounding both
    * engines share; the division is an exponent shift, bit-exact).
    * The first 15 hex chars are read straight off the digest bytes
    * (bytes 0..6, then byte 7's high nibble — the Md5SimHashKernel
    * derivation, value-identical to hex-format + parseLong): the
    * matrix is numTables·numPlanes·vecDim components, so at 768-dim
    * the old per-component getInstance + "%02x" string build was
    * millions of allocations of driver stall before the job started. */
  def planeComponent(t: Int, p: Int, d: Int): Double = {
    val md = Md5Digest.get()
    val dig = md.digest(s"$t:$p:$d".getBytes("UTF-8"))
    var h = 0L
    var b = 0
    while (b < 7) { h = (h << 8) | (dig(b) & 0xFFL); b += 1 }
    h = (h << 4) | ((dig(7) >> 4) & 0xFL)
    (h - (1L << 59)).toDouble / 576460752303423488.0
  }

  /** All (numTables·numPlanes) plane vectors for `vecDim` dims —
    * driver-computed once (tables·planes·dim md5s) and shipped as a
    * reference object; the round-5 formulation materialized the same
    * relation with a range + md5 projection and broadcast it. */
  def planeMatrix(numTables: Int, numPlanes: Int,
      vecDim: Int): Array[Array[Double]] =
    Array.tabulate(numTables * numPlanes) { tp =>
      val t = tp / numPlanes
      val p = tp % numPlanes
      Array.tabulate(vecDim)(d => planeComponent(t, p, d))
    }
}

/** `array<double>` vector → `array<long>` of per-table sign-bit
  * buckets under the fixed centered-md5 plane matrix. */
case class RhpDecimalBuckets(child: Expression,
    planes: Array[Array[Double]], numPlanes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // Case-class equality on an Array field is REFERENCE equality, which
  // breaks semanticEquals/canonicalization: two expressions built from
  // separately computed (identical) plane matrices would never compare
  // equal, defeating common-subexpression reuse. Compare deep contents.
  override def equals(other: Any): Boolean = other match {
    case RhpDecimalBuckets(c, p, np) =>
      c == child && np == numPlanes &&
        java.util.Arrays.deepEquals(
          p.asInstanceOf[Array[AnyRef]], planes.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child,
      Integer.valueOf(java.util.Arrays.deepHashCode(
        planes.asInstanceOf[Array[AnyRef]])),
      Integer.valueOf(numPlanes))

  override def nullSafeEval(v: Any): Any =
    RhpKernels.buckets(v.asInstanceOf[ArrayData], planes, numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("rhpPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.graft.RhpKernels.buckets(" +
        s"$v, $planesRef, $numPlanes);")
  }

  override protected def withNewChildInternal(newChild: Expression): RhpDecimalBuckets =
    copy(child = newChild)
}

/** Exact rounded-product decimal dot of two `array<double>` columns,
  * as double. */
case class DecimalScaledDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    RhpKernels.decimalDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.RhpKernels.decimalDot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecimalScaledDot =
    copy(left = newLeft, right = newRight)
}

/** A double→DECIMAL(p, s) cast — `child` is a [[Cast]] — that skips
  * `Double.toString`/`BigDecimal` where [[RhpKernels.halfUpUnscaled]]
  * decides, and otherwise runs the wrapped cast unchanged, so null,
  * NaN, ±∞, overflow and ANSI errors are the cast's own. A cast of
  * `round(x, s)` at the target scale rounds x directly: below the
  * kernel's bound the rounded decimal has ≤ 15 significant digits, so
  * its trip through a double is the identity. Any other input type,
  * and p < 15 or s > 15, is the plain cast. */
case class ExactDecimalCast(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  /** The double the fast path rounds, when the wrapped expression is
    * one it serves (resolved only after analysis). */
  @transient lazy val fastInput: Option[Expression] = child match {
    case c: Cast => c.dataType match {
      // fast results are < 10¹⁵ in magnitude: any precision ≥ 15 holds them
      case dt: DecimalType if dt.precision >= RhpKernels.MaxFastScale &&
          dt.scale >= 0 && dt.scale <= RhpKernels.MaxFastScale =>
        c.child match {
          case r: Round if r.child.dataType == DoubleType && r.scale.foldable &&
              r.scale.eval() == dt.scale => Some(r.child)
          case x if x.dataType == DoubleType => Some(x)
          case _ => None
        }
      case _ => None
    }
    case _ => None
  }

  private def decimalType = dataType.asInstanceOf[DecimalType]

  override def eval(input: InternalRow): Any = {
    val u = fastInput.fold(RhpKernels.Undecided) { x =>
      val v = x.eval(input)
      if (v == null) RhpKernels.Undecided
      else RhpKernels.halfUpUnscaled(v.asInstanceOf[Double], decimalType.scale)
    }
    if (u == RhpKernels.Undecided) child.eval(input)
    else Decimal.createUnsafe(u, decimalType.precision, decimalType.scale)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    fastInput match {
      case None => child.genCode(ctx)
      case Some(x) =>
        val in = x.genCode(ctx)
        // the fallback reuses the evaluated input: emitting its code a
        // second time redefines whole-stage input variables
        val cast = child.transformDown {
          case e if e eq x => EvaluatedInput(in, x.dataType, x.nullable)
        }.genCode(ctx)
        val u = ctx.freshName("unscaled")
        val dt = decimalType
        val decimal = classOf[Decimal].getName
        ev.copy(code = code"""
          ${in.code}
          long $u = ${in.isNull} ? ${RhpKernels.Undecided}L
            : org.apache.spark.sql.graft.RhpKernels.halfUpUnscaled(${in.value}, ${dt.scale});
          boolean ${ev.isNull} = false;
          $decimal ${ev.value} = null;
          if ($u != ${RhpKernels.Undecided}L) {
            ${ev.value} = $decimal.createUnsafe($u, ${dt.precision}, ${dt.scale});
          } else {
            ${cast.code}
            ${ev.isNull} = ${cast.isNull};
            ${ev.value} = ${cast.value};
          }
          """)
    }

  override protected def withNewChildInternal(newChild: Expression): ExactDecimalCast =
    copy(child = newChild)
}

/** An input whose code [[ExactDecimalCast]] has already emitted. */
private case class EvaluatedInput(evaluated: ExprCode, dataType: DataType,
    nullable: Boolean) extends LeafExpression {
  override def eval(input: InternalRow): Any =
    throw new UnsupportedOperationException("EvaluatedInput is codegen-only")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    evaluated.copy(code = EmptyBlock)
}

object RhpExpressions {
  import org.apache.spark.sql.classic.ExpressionUtils

  def rhpDecimalBuckets(vec: Column, planes: Array[Array[Double]],
      numPlanes: Int): Column =
    ExpressionUtils.column(RhpDecimalBuckets(
      ExpressionUtils.expression(vec), planes, numPlanes))

  def decimalScaledDot(a: Column, b: Column): Column =
    ExpressionUtils.column(DecimalScaledDot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** `cast`, a `.cast(DecimalType(p, s))` column, through
    * [[ExactDecimalCast]]. */
  def exactDecimalCast(cast: Column): Column =
    ExpressionUtils.column(ExactDecimalCast(ExpressionUtils.expression(cast)))
}
