package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** |A ∩ B| for two SORTED `array<bigint>` columns via a linear merge —
  * the verification kernel of prefix-filtered set-similarity joins
  * (Bayardo et al., WWW'07).
  *
  * Exists because `size(array_intersect(a, b))` allocates a hash set and
  * an output array per row; on millions of candidate pairs the
  * verification step dominates the join. The merge does zero allocation
  * and runs inside whole-stage codegen.
  *
  * Preconditions: both arrays ascending-sorted (`sort_array`), elements
  * distinct and non-null — exactly what the dedup postings pipeline
  * produces. NULL array on either side → NULL out (like array_intersect).
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    KnownNoNullElements.checkLongArrays(prettyName, "count", left, right)

  override def nullable: Boolean = true

  protected override def nullSafeEval(l: Any, r: Any): Any =
    SortedLongIntersectCount.compute(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedLongIntersectCount.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectCount {
  /** The merge: one pass over both sorted arrays, no allocation. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { acc += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    acc
  }
}
