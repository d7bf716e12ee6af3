package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Count of positions where two equal-length `array<bigint>` columns
  * agree — the MinHash similarity estimator (matching-signature
  * fraction numerator).
  *
  * Replaces `aggregate(zip_with(a, b, eq), 0, +)`, which is
  * CodegenFallback: interpreted lambdas per candidate pair dominate the
  * LSH verify stage. This generates a primitive loop inside whole-stage
  * codegen.
  *
  * Contract (STRICTER than the zip_with formulation, by design): NULL
  * if either array is NULL or the lengths differ — a length mismatch
  * means the signatures were built with different K, and zip_with's
  * behavior there (pad with NULL, count the padded tail as 0 matches)
  * would silently understate similarity; surfacing NULL makes the
  * misuse visible. Elements are assumed non-null (fixed-K signature
  * arrays never contain nulls).
  */
case class ZipLongEqualCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "zip_equal_count"

  override def checkInputDataTypes(): TypeCheckResult =
    KnownNoNullElements.checkLongArrays(prettyName, "count", left, right)

  override def nullable: Boolean = true

  // elements are non-null by type: only a length mismatch is NULL
  protected override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (KnownNoNullElements.zipNull(a, b, scan = false)) null
    else ZipLongEqualCount.compute(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.functions.KnownNoNullElements.zipNull($a, $b, false)) ${ev.isNull} = true;
      else ${ev.value} = graft.functions.ZipLongEqualCount.compute($a, $b);""")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): ZipLongEqualCount =
    copy(left = newLeft, right = newRight)
}

object ZipLongEqualCount {
  /** The loop, over two equal-length arrays. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var i = 0
    var acc = 0L
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) acc += 1
      i += 1
    }
    acc
  }
}
