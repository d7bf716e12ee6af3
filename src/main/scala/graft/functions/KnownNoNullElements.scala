package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Narrows an array column's static element nullability to
  * `containsNull = false`, validating the claim at runtime.
  *
  * Lambda-built arrays (`transform(...)`) are typed
  * `containsNull = true` because the lambda body is nullable in
  * general, even when — as with the md5-derived token-hash pipelines
  * here — the lambda can never actually produce a null. The native
  * sketch kernels ([[MinhashSigs]], [[SimhashOfHashes]],
  * [[SortedLongIntersectCount]], [[ZipLongEqualCount]]) read elements
  * with `ArrayData.getLong`, which on a null slot returns an arbitrary
  * value; they therefore REJECT `containsNull = true` inputs at
  * analysis. This wrapper is the sanctioned bridge: it asserts the
  * producer's no-null invariant per row (one null-bit test per
  * element — negligible next to the hashing it guards) and fails with
  * an actionable error instead of silently corrupting a signature.
  */
case class KnownNoNullElements(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"known_no_null_elements requires an ARRAY input, got ${other.catalogString}")
  }

  override def dataType: DataType =
    child.dataType.asInstanceOf[ArrayType].copy(containsNull = false)
  override def prettyName: String = "known_no_null_elements"

  protected override def nullSafeEval(input: Any): Any =
    KnownNoNullElements.validated(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.KnownNoNullElements.validated($c)")

  override protected def withNewChildInternal(
      newChild: Expression): KnownNoNullElements = copy(child = newChild)
}

object KnownNoNullElements {
  def validated(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw new IllegalStateException(
        s"known_no_null_elements: element $i of $n is NULL — a producer " +
          "declared no-null elements but emitted one; fix the producing " +
          "expression rather than widening the kernel input type")
      i += 1
    }
    a
  }

  /** The type gate of the kernels that read `array<bigint>` elements
    * with `getLong`: every input must be `containsNull = false`, else
    * the failure names this wrapper as the fix. */
  def checkLongArrays(kernel: String, corrupts: String,
                      inputs: Expression*): TypeCheckResult = {
    val types = inputs.map(_.dataType)
    val longs = Seq(false, true).map(ArrayType(LongType, _))
    if (types.forall(_ == longs.head)) TypeCheckResult.TypeCheckSuccess
    else if (types.forall(longs.contains)) TypeCheckResult.TypeCheckFailure(
      s"$kernel reads elements as primitive longs; a null element would " +
        s"silently corrupt the $corrupts. Wrap nullable inputs in " +
        "KnownNoNullElements (validated narrowing) first")
    else TypeCheckResult.TypeCheckFailure(
      s"$kernel requires array<bigint> inputs, got ${types.mkString(", ")}")
  }

  /** Whether any input's static type admits a NULL element. */
  def mayHoldNull(inputs: Expression*): Boolean =
    inputs.exists(_.dataType.asInstanceOf[ArrayType].containsNull)

  /** The zip kernels' NULL rule, which both evaluation modes check
    * before the kernel's loop: the lengths differ, or — scanned only
    * when `scan`, i.e. [[mayHoldNull]] — either array holds a NULL
    * element. */
  def zipNull(a: ArrayData, b: ArrayData, scan: Boolean): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return true
    var i = 0
    while (scan && i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** A kernel's `array<bigint>` result, or NULL where its loop
    * returned none. */
  def longsOrNull(r: Array[Long]): ArrayData =
    if (r == null) null else new GenericArrayData(r)
}
