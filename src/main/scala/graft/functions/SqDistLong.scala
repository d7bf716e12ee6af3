package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd squared-L2 distance between two `array<bigint>`
  * vectors: Σ (aᵢ − bᵢ)² as BIGINT — the INTEGER-feature twin of
  * [[SqDistQuantized]], for relations whose vectors are already exact
  * longs (the media byte-histogram tier). A float detour would be
  * lossy above 2²⁴ (real payloads push per-bucket counts past float's
  * exact-integer range), and the higher-order zip_with + aggregate
  * formulation is CodegenFallback (interpreted lambdas on the N·k
  * assignment cross-probe — the measured catastrophic constant that
  * motivated [[SqDistQuantized]]).
  *
  * The same kernel also serves exact integer DOT products through the
  * polarization identity dot = (‖a‖² + ‖b‖² − ‖a−b‖²) div 2 — both
  * norms ride the fingerprint relation, so one kernel pass scores a
  * candidate. Bounds: with per-bucket counts < 2²⁸ (a 256 MB payload)
  * and 16 buckets the sum stays < 2⁶¹.
  *
  * Null semantics mirror zip_with + aggregate: NULL if either array is
  * NULL, lengths differ, or any element is NULL.
  */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sqdist_l"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"sqdist_l requires (array<bigint>, array<bigint>) inputs, got $other")
    }

  override def nullable: Boolean = true

  @transient private lazy val scan = KnownNoNullElements.mayHoldNull(left, right)

  protected override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val c = r.asInstanceOf[ArrayData]
    if (KnownNoNullElements.zipNull(a, c, scan)) null
    else SqDistLong.compute(a, c)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) => s"""
      if (graft.functions.KnownNoNullElements.zipNull($a, $c, $scan)) ${ev.isNull} = true;
      else ${ev.value} = graft.functions.SqDistLong.compute($a, $c);""")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SqDistLong =
    copy(left = newLeft, right = newRight)
}

object SqDistLong {
  /** The loop, over equal-length arrays with no NULL element
    * ([[KnownNoNullElements.zipNull]] rules those out first). */
  def compute(a: ArrayData, c: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - c.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
