package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native codegen'd signed-random-projection sketch over one
  * `array<float>` column: all `numPlanes` sign bits in ONE pass,
  * packed into ⌈numPlanes/62⌉ long words (bit p of word ⌊p/62⌋ is the
  * sign of plane_p · floor(v·scale), an exact integer dot).
  *
  * Exists because the portable formulation (`zip_with` + `aggregate`
  * per plane, [[VectorFunctions.hyperplaneBucketQuantized]]) is
  * CodegenFallback and re-reads the vector once PER PLANE: at the
  * r11 production width (256 bits) that is 512 interpreted lambda
  * traversals per row, which made `ann_srp`/`ann_srp_rerank` the two
  * most expensive queries in the suite (7-8 s vs the ~1.2 s their
  * 32-bit ancestors cost). This kernel floors each element once,
  * then runs the planes × dim multiply-accumulate as a tight
  * primitive loop inside whole-stage codegen. Arithmetic is
  * bit-identical to the portable form (same float→double·scale→floor
  * →long per element, same long multiply-accumulate, same `≥ 0` sign
  * rule, same local bit index within each 62-plane word), so oracle
  * hashes are unchanged.
  *
  * Null semantics: NULL if the input array is NULL, any element is
  * NULL, or the length differs from the plane dimension.
  */
case class SrpCodeWords(child: Expression, planes: Seq[Long], dim: Int,
                        scale: Int) extends UnaryExpression {

  require(dim > 0 && planes.nonEmpty && planes.length % dim == 0,
    "planes must be a nonempty numPlanes x dim matrix flattened row-major")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"srp_code_words requires array<float> input, got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "srp_code_words"

  @transient private lazy val planesArr = planes.toArray

  protected override def nullSafeEval(input: Any): Any =
    KnownNoNullElements.longsOrNull(SrpCodeWords.compute(
      input.asInstanceOf[ArrayData], planesArr, dim, scale))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("srpPlanes", planesArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.KnownNoNullElements.longsOrNull(
        graft.functions.SrpCodeWords.compute($c, $pRef, $dim, $scale));
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpCodeWords =
    copy(child = newChild)
}

object SrpCodeWords {
  /** Word width: hyperplaneBucketQuantized packed at most 62 sign bits
    * per long (bit 62 would collide with the sign on `1L << p` sums),
    * and the SQL oracles replay that grouping — fixed here for both. */
  val WordBits = 62

  /** All sign bits in one vector pass; null on length mismatch or a
    * null element. */
  def compute(v: ArrayData, planes: Array[Long], dim: Int,
              scale: Int): Array[Long] = {
    if (v.numElements() != dim) return null
    val fv = new Array[Long](dim)
    var d = 0
    while (d < dim) {
      if (v.isNullAt(d)) return null
      fv(d) = math.floor(v.getFloat(d).toDouble * scale).toLong
      d += 1
    }
    val numPlanes = planes.length / dim
    val words = new Array[Long]((numPlanes + WordBits - 1) / WordBits)
    var p = 0
    while (p < numPlanes) {
      var acc = 0L
      val base = p * dim
      d = 0
      while (d < dim) {
        acc += planes(base + d) * fv(d)
        d += 1
      }
      if (acc >= 0L) words(p / WordBits) |= 1L << (p % WordBits)
      p += 1
    }
    words
  }
}
