package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native codegen'd quantized dot product over two `array<float>`
  * columns: Σ floor(aᵢ·scale)·floor(bᵢ·scale) as BIGINT.
  *
  * Exists because Spark's higher-order functions (`zip_with` +
  * `aggregate`, the portable formulation in [[VectorFunctions]]) are
  * CodegenFallback — every row pays interpreted-lambda overhead, which
  * dominates brute-force similarity scans. This expression generates a
  * tight primitive loop inside whole-stage codegen instead. Arithmetic
  * is bit-identical to the portable form (same float→double→floor→long
  * sequence), so oracle hashes are unchanged.
  *
  * Null semantics mirror zip_with+aggregate: NULL if either array is
  * NULL, lengths differ, or any element is NULL.
  */
case class DotQuantized(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_q"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_q requires two array<float> inputs, got $other")
    }

  override def nullable: Boolean = true

  @transient private lazy val scan = KnownNoNullElements.mayHoldNull(left, right)

  protected override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (KnownNoNullElements.zipNull(a, b, scan)) null
    else DotQuantized.compute(a, b, scale)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.functions.KnownNoNullElements.zipNull($a, $b, $scan)) ${ev.isNull} = true;
      else ${ev.value} = graft.functions.DotQuantized.compute($a, $b, $scale);""")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotQuantized =
    copy(left = newLeft, right = newRight)
}

object DotQuantized {
  /** The loop, over equal-length arrays with no NULL element
    * ([[KnownNoNullElements.zipNull]] rules those out first). */
  def compute(a: ArrayData, b: ArrayData, scale: Int): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += math.floor(a.getFloat(i).toDouble * scale).toLong *
        math.floor(b.getFloat(i).toDouble * scale).toLong
      i += 1
    }
    acc
  }
}
