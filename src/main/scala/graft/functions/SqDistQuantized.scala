package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native codegen'd quantized squared-L2 distance between an
  * `array<float>` vector and an already-quantized `array<bigint>`
  * centroid: Σ (floor(aᵢ·scale) − cᵢ)² as BIGINT.
  *
  * This is the nearest-centroid assignment kernel of the semantic tier
  * (every vector × every codebook entry — the k-knob Lloyd build and
  * [[graft.operators.Similarity]]'s `assignToBook` both sit on it).
  * The higher-order formulation (`transform` to quantize + `zip_with` +
  * `aggregate`) is CodegenFallback: measured ~10 µs/row of interpreted
  * lambda overhead, which made the codebook build scale linearly in k
  * with a catastrophic constant. Same discipline as [[DotQuantized]]:
  * arithmetic is bit-identical to the portable form (float → double →
  * floor → long, exact integer sums), so oracle hashes are unchanged.
  *
  * Null semantics mirror zip_with+aggregate: NULL if either array is
  * NULL, lengths differ, or any element is NULL.
  */
case class SqDistQuantized(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sqdist_q"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"sqdist_q requires (array<float>, array<bigint>) inputs, got $other")
    }

  override def nullable: Boolean = true

  @transient private lazy val scan = KnownNoNullElements.mayHoldNull(left, right)

  protected override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val c = r.asInstanceOf[ArrayData]
    if (KnownNoNullElements.zipNull(a, c, scan)) null
    else SqDistQuantized.compute(a, c, scale)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) => s"""
      if (graft.functions.KnownNoNullElements.zipNull($a, $c, $scan)) ${ev.isNull} = true;
      else ${ev.value} = graft.functions.SqDistQuantized.compute($a, $c, $scale);""")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SqDistQuantized =
    copy(left = newLeft, right = newRight)
}

object SqDistQuantized {
  /** The loop, over equal-length arrays with no NULL element
    * ([[KnownNoNullElements.zipNull]] rules those out first). */
  def compute(a: ArrayData, c: ArrayData, scale: Int): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = math.floor(a.getFloat(i).toDouble * scale).toLong - c.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
