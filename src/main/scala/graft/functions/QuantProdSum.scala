package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, NullType}

/** Shared shape of the native quantized vector folds (`quant_dot`,
  * `quant_dist2`): (array<double>, array<double>, foldable double scale)
  * → double, bit-identical to the `aggregate(zip_with(...))` spelling
  * each replaces — same left-to-right accumulation in double, same
  * per-element HALF_UP rounding ([[QuantProdSum.roundHalfAway]]), same
  * null poisoning (null array, length mismatch — zip_with pads the
  * shorter side with nulls — or any null element ⇒ NULL).
  *
  * Why native: the higher-order-function spelling evaluates an
  * interpreted lambda per ELEMENT (closure dispatch + boxing + a
  * BigDecimal-based Round) — corpus × k × d steps, the entire cost of
  * the k-means / ANN / SemDeDup bench tail. These run the loop as one
  * compiled method over primitive `ArrayData` slots (whole-stage codegen
  * at top level, one compiled call when nested inside a remaining
  * higher-order lambda).
  *
  * Rounding exactness: Spark's `round(double)` is HALF_UP on the value's
  * SHORTEST-DECIMAL form; DuckDB's is half-away-from-zero on the binary
  * value. For |x| < 2^52 these agree with each other and with the binary
  * half-away-from-zero computed here, because k ± 0.5 is exactly
  * representable there (a shortest decimal ≥ k+0.5 cannot round-trip to
  * a double < k+0.5). The naive `floor(x + 0.5)` is NOT that function —
  * adding 0.5 can double-round across the tie (x = 0.49999999999999994,
  * the old JDK Math.round bug) — so [[QuantProdSum.roundHalfAway]]
  * detects the landed-exactly-on-integer case and corrects it. Scales
  * used here (1e6, 1e9) on unit-magnitude data keep |x| ≤ ~1e10 ≪ 2^52.
  * NaN/±Inf pass through like Spark's Round (and poison the sum to the
  * same NaN/Inf the HOF chain produces). */
sealed abstract class QuantFold extends TernaryExpression {
  def left: Expression
  def right: Expression
  def scale: Expression
  /** Name of the static method on [[QuantProdSum]] the compiled loop
    * lives in — called from both eval and generated code. */
  protected def staticCall: String
  protected def computeFn(l: ArrayData, r: ArrayData, s: Double): java.lang.Double

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = scale

  private def arrayish(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case NullType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (arrayish(left.dataType) && arrayish(right.dataType) &&
        scale.dataType == DoubleType && scale.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>, foldable double scale); " +
        s"got (${left.dataType}, ${right.dataType}, ${scale.dataType})")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any, s: Any): Any =
    computeFn(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r, s) => {
      val tmp = ctx.freshName("qf")
      s"""
         |java.lang.Double $tmp = graft.functions.QuantProdSum.$staticCall($l, $r, $s);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
}

/** `quant_dot(a, b, scale)` — Σᵢ round(aᵢ · bᵢ · scale); with a = b this
  * is the quantized squared norm. */
case class QuantProdSum(left: Expression, right: Expression, scale: Expression)
    extends QuantFold {
  override def prettyName: String = "quant_dot"
  override protected def staticCall: String = "compute"
  override protected def computeFn(l: ArrayData, r: ArrayData, s: Double) =
    QuantProdSum.compute(l, r, s)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): QuantProdSum =
    copy(left = newFirst, right = newSecond, scale = newThird)
}

/** `quant_dist2(a, b, scale)` — Σᵢ round((aᵢ−bᵢ)²·scale), the quantized
  * squared Euclidean distance (the PQ codebook-assignment metric). */
case class QuantDiffSum(left: Expression, right: Expression, scale: Expression)
    extends QuantFold {
  override def prettyName: String = "quant_dist2"
  override protected def staticCall: String = "computeDiff"
  override protected def computeFn(l: ArrayData, r: ArrayData, s: Double) =
    QuantProdSum.computeDiff(l, r, s)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): QuantDiffSum =
    copy(left = newFirst, right = newSecond, scale = newThird)
}

/** `int_dot(a, b)` over array<bigint> — Σᵢ aᵢ·bᵢ with EXACT long
  * arithmetic (`multiplyExact`/`addExact`: overflow raises an arithmetic
  * error exactly like the ANSI-mode `aggregate(zip_with(a, b,
  * (x, y) -> x * y), 0L, ...)` it replaces); same null/length poisoning
  * as the quant folds. The int8-quantized ANN side's dot product. */
case class IntDotSum(left: Expression, right: Expression)
    extends BinaryExpression {
  private def arrayish(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case NullType => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (arrayish(left.dataType) && arrayish(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_dot requires (array<bigint>, array<bigint>); " +
        s"got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "int_dot"
  override def nullSafeEval(l: Any, r: Any): Any =
    QuantProdSum.computeInt(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val tmp = ctx.freshName("idot")
      s"""
         |java.lang.Long $tmp = graft.functions.QuantProdSum.computeInt($l, $r);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotSum =
    copy(left = newLeft, right = newRight)
}

object QuantProdSum {

  /** Round half away from zero on the exact binary value — see the class
    * doc for why this equals Spark's and DuckDB's round for |x| < 2^52.
    * The `d == f` branch corrects `floor(x+0.5)`'s double-rounding: the
    * sum landing EXACTLY on an integer means either a true tie (x is
    * f - 0.5 exactly: keep f, away from zero) or an upcross from below
    * the tie (x < f - 0.5: the true rounding is f - 1). */
  def roundHalfAway(x: Double): Double =
    if (x != x || java.lang.Double.isInfinite(x)) x
    else if (x >= 0d) {
      val d = x + 0.5d
      val f = math.floor(d)
      if (d == f && x < f - 0.5d) f - 1.0d else f
    } else {
      val d = x - 0.5d
      val c = math.ceil(d)
      if (d == c && x > c + 0.5d) c + 1.0d else c
    }

  /** Null ⇔ the HOF spelling yields null: length mismatch (zip_with pads
    * the shorter side with nulls) or any null element. */
  def compute(l: ArrayData, r: ArrayData, scale: Double): java.lang.Double = {
    val n = l.numElements()
    if (r.numElements() != n) return null
    var s = 0d
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      s += roundHalfAway(l.getDouble(i) * r.getDouble(i) * scale)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Σ round((x−y)²·scale) with the same null/length/rounding contract. */
  def computeDiff(l: ArrayData, r: ArrayData, scale: Double): java.lang.Double = {
    val n = l.numElements()
    if (r.numElements() != n) return null
    var s = 0d
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      val d = l.getDouble(i) - r.getDouble(i)
      s += roundHalfAway(d * d * scale)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Exact long Σ x·y (overflow throws, matching ANSI long arithmetic in
    * the HOF spelling); same null/length contract. */
  def computeInt(l: ArrayData, r: ArrayData): java.lang.Long = {
    val n = l.numElements()
    if (r.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      s = Math.addExact(s, Math.multiplyExact(l.getLong(i), r.getLong(i)))
      i += 1
    }
    java.lang.Long.valueOf(s)
  }
}
