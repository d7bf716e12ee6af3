package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused PQ assignment argmin — one subvector against its subspace's
  * WHOLE codeword table in a single codegen loop, returning the packed
  * `dist · 2²⁰ + label` of the nearest codeword ((dist asc, label asc)
  * lexicographic, the engine-exact tie-break — [[PqArgMinCode.Pack]]
  * is the packing contract the unpacking sites share).
  *
  * This replaces the explode-join-aggregate argmin for PQ
  * coding/training: that shape materializes N·m·cw joined rows (the
  * family's biggest intermediate — 256× the codes relation at the
  * declared cw) just to immediately collapse them again, where this
  * kernel streams N·m rows and runs the cw·(dim/m)-multiply scan
  * in-register — the loop a native ANN engine encodes with. Same
  * integers, same tie-break, ~cw× fewer rows through the executor.
  *
  * Inputs: `vs array<bigint>` (the quantized subvector) and `books
  * array<struct<label bigint, cs array<bigint>>>` (the subspace's
  * codeword table — broadcast, one row per subspace). NULL on null
  * inputs, an empty table, a codeword/subvector length mismatch, or
  * any null element — the [[SqDistLong]] strictness contract. A
  * distance or label that would overflow the pack FAILS LOUDLY
  * ([[PqArgMinCode.checkBounds]]) rather than mis-coding.
  */
case class PqArgMinCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "pq_argmin"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _),
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(LongType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          "pq_argmin requires (array<bigint>, " +
            s"array<struct<bigint, array<bigint>>>) inputs, got $other")
    }

  override def nullable: Boolean = true

  protected override def nullSafeEval(l: Any, r: Any): Any = {
    val best = PqArgMinCode.compute(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData])
    if (best < 0L) null else best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vs, books) => s"""
      ${ev.value} = graft.functions.PqArgMinCode.compute($vs, $books);
      if (${ev.value} < 0L) ${ev.isNull} = true;""")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqArgMinCode =
    copy(left = newLeft, right = newRight)
}

object PqArgMinCode {
  /** The argmin packing width: `dist · Pack + label` is
    * order-identical to (dist asc, label asc) while 0 ≤ label < 2²⁰
    * and 0 ≤ dist < 2⁴³ — codeword ids seed below cw (required
    * ≤ 2²⁰), and a quantized subspace squared distance is bounded by
    * dim·(2·scale·max|x|)², under 2³⁰ for unit-ish embeddings at
    * scale 1000. Unpacking sites use `% Pack` / `div Pack`. */
  val Pack: Long = 1L << 20

  /** Largest distance the pack can carry without overflowing a long
    * (2⁴³; ~8000× over the unit-embedding bound at scale 1000). */
  val DistCap: Long = Long.MaxValue / Pack

  /** The pack's validity guard, shared by the interpreted and codegen
    * paths: a distance at/over [[DistCap]] or a label outside
    * [0, [[Pack]]) would OVERFLOW the packed long and silently crown
    * a far codeword — fail loudly instead (the
    * [[KnownNoNullElements]] rule: corrupt never, error actionably).
    * The struct-min argmin this kernel replaced compared the two keys
    * separately and could not overflow. */
  def checkBounds(dist: Long, label: Long): Unit = {
    // wrapped-negative first: per-dim diffs ≳ 2³¹ overflow the d·d
    // accumulation itself, landing here NEGATIVE — which would sail
    // under the DistCap gate and silently win the argmin (the r11
    // ADVICE gap). A multiple wrap back into positive range needs
    // diffs ≳ 2³², i.e. inputs ~4·10⁶× past the unit-embedding
    // envelope AND landing in a narrow residue band — outside any
    // input this kernel's callers can produce from float32 at the
    // declared scales (|floor(v·1000)| bounds every diff ≪ 2³¹).
    if (dist < 0L) throw new IllegalStateException(
      s"pq_argmin: subspace squared-distance accumulator wrapped " +
        s"negative ($dist) — per-dim diffs exceed the 64-bit budget; " +
        "re-quantize at a smaller scale or normalize the embeddings")
    if (dist >= DistCap) throw new IllegalStateException(
      s"pq_argmin: subspace squared distance $dist >= 2^43 overflows " +
        "the (dist, label) pack — re-quantize at a smaller scale or " +
        "normalize the embeddings")
    if (label < 0L || label >= Pack) throw new IllegalStateException(
      s"pq_argmin: codeword label $label outside [0, 2^20) breaks the " +
        "(dist, label) pack — codeword ids must seed from non-negative " +
        "vec_id < cw <= 2^20")
  }

  /** The argmin loop, or −1 for NULL (an empty table, a length
    * mismatch or a NULL anywhere): [[checkBounds]] keeps every real
    * pack non-negative, so −1 is never a result. */
  def compute(vs: ArrayData, books: ArrayData): Long = {
    val nb = books.numElements()
    if (nb == 0) return -1L
    val nd = vs.numElements()
    var best = Long.MaxValue
    var i = 0
    while (i < nb) {
      if (books.isNullAt(i)) return -1L
      val b = books.getStruct(i, 2)
      if (b.isNullAt(0) || b.isNullAt(1)) return -1L
      val cs = b.getArray(1)
      if (cs.numElements() != nd) return -1L
      var acc = 0L
      var j = 0
      while (j < nd) {
        if (vs.isNullAt(j) || cs.isNullAt(j)) return -1L
        val d = vs.getLong(j) - cs.getLong(j)
        acc += d * d
        j += 1
      }
      checkBounds(acc, b.getLong(0))
      val packed = acc * Pack + b.getLong(0)
      if (packed < best) best = packed
      i += 1
    }
    best
  }
}
