package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** SimHash fingerprint of a row-local `array<bigint>` of token hashes:
  * bit b of the result is set when Σ over hashes of (±1 by hash-bit b)
  * is strictly positive.
  *
  * Exists because the aggregation formulation (explode postings, `bits`
  * conditional-sum aggregate columns, recombine) pays a shuffle and
  * `bits` aggregate buffers per document; the fingerprint is a pure
  * function of one document's token hashes, so it folds in a single
  * hashes×bits pass inside whole-stage codegen. Same tally arithmetic,
  * bit-identical fingerprints.
  *
  * NULL input → NULL; empty array → fingerprint 0 (every tally 0, no
  * strictly-positive bit — matching what the aggregate form produces
  * for a doc whose only token hash is absent entirely).
  */
case class SimhashOfHashes(child: Expression, bits: Int)
    extends UnaryExpression {

  require(bits >= 1 && bits <= 63, s"bits must be in [1,63], got $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    KnownNoNullElements.checkLongArrays(prettyName, "fingerprint", child)

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_of"

  protected override def nullSafeEval(input: Any): Any =
    SimhashOfHashes.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimhashOfHashes.compute($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashOfHashes =
    copy(child = newChild)
}

object SimhashOfHashes {
  def compute(hashes: ArrayData, bits: Int): Long = {
    val votes = new Array[Int](bits)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) fp |= 1L << b
      b += 1
    }
    fp
  }
}
