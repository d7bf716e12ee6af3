package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All K MinHash signature values of an `array<bigint>` id column in ONE
  * pass: sig_k = min over ids of (a_k·id + b_k) mod prime.
  *
  * Exists because the portable form — K separate
  * `array_min(transform(ids, …))` columns — pays K interpreted lambda
  * traversals per row (higher-order functions are CodegenFallback),
  * which dominates row-local sketching. This generates one primitive
  * ids×K loop inside whole-stage codegen. Arithmetic is identical to
  * the portable form, so signatures are bit-equal.
  *
  * Precondition (same as [[graft.operators.Dedup.minhashParams]]):
  * ids < 2^40 and a_k < 2^20, so a·id + b never overflows a signed
  * long. NULL input array → NULL; empty array → NULL (array_min of an
  * empty array is NULL, and a doc with no tokens has no sketch).
  */
case class MinhashSigs(child: Expression, as_ : Seq[Long], bs: Seq[Long],
                       prime: Long) extends UnaryExpression {

  require(as_.length == bs.length && as_.nonEmpty,
    "a/b parameter arrays must be same nonempty length")

  override def checkInputDataTypes(): TypeCheckResult =
    KnownNoNullElements.checkLongArrays(prettyName, "signature", child)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs"

  @transient private lazy val aArr = as_.toArray
  @transient private lazy val bArr = bs.toArray

  protected override def nullSafeEval(input: Any): Any =
    KnownNoNullElements.longsOrNull(
      MinhashSigs.compute(input.asInstanceOf[ArrayData], aArr, bArr, prime))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("mhB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.KnownNoNullElements.longsOrNull(
        graft.functions.MinhashSigs.compute($c, $aRef, $bRef, ${prime}L));
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}

object MinhashSigs {
  /** K mins in one ids-pass; null for an empty id array. */
  def compute(ids: ArrayData, a: Array[Long], b: Array[Long],
              prime: Long): Array[Long] = {
    val n = ids.numElements()
    if (n == 0) return null
    val k = a.length
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < n) {
      val id = ids.getLong(i)
      var j = 0
      while (j < k) {
        val h = (a(j) * id + b(j)) % prime
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    out
  }
}
