package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Per-window minima of a row-local `array<bigint>` of ordered n-gram
  * hashes — the selection step of winnowing (Schleimer, Wilkerson,
  * Aiken, SIGMOD'03 "Winnowing: Local Algorithms for Document
  * Fingerprinting"): over every window of `window` consecutive hashes,
  * keep the minimum. Distinct kept values are the document's
  * fingerprint set, with the guarantee that any shared substring of
  * length ≥ window + n − 1 yields a shared fingerprint.
  *
  * Exists because the portable form —
  * `transform(sequence(...), i -> array_min(slice(hs, i, w)))` — is an
  * interpreted O(G·w) HOF chain per row (higher-order functions are
  * CodegenFallback); this kernel runs the monotonic-deque sliding
  * minimum in O(G) inside whole-stage codegen. Minima are identical to
  * the portable form (spec-asserted), so the DuckDB oracle can run the
  * naive slice form.
  *
  * Output length = max(G − window + 1, 1): a row with fewer hashes than
  * the window degenerates to the single global minimum (the SQL naive
  * form's clamped slice does the same). NULL input → NULL; empty
  * array → NULL (a document with no grams has no fingerprint).
  */
case class WinnowMins(child: Expression, window: Int)
    extends UnaryExpression {

  require(window >= 1, s"window must be >= 1, got $window")

  override def checkInputDataTypes(): TypeCheckResult =
    KnownNoNullElements.checkLongArrays(prettyName, "fingerprint", child)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "winnow_mins"

  protected override def nullSafeEval(input: Any): Any =
    KnownNoNullElements.longsOrNull(
      WinnowMins.compute(input.asInstanceOf[ArrayData], window))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.KnownNoNullElements.longsOrNull(
        graft.functions.WinnowMins.compute($c, $window));
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): WinnowMins =
    copy(child = newChild)
}

object WinnowMins {
  /** Sliding minima via a monotonic index deque: each element enters and
    * leaves the deque once, so the whole row costs O(G) regardless of
    * window width. Null for an empty input array. */
  def compute(hashes: ArrayData, w: Int): Array[Long] = {
    val g = hashes.numElements()
    if (g == 0) return null
    if (g <= w) {
      var m = hashes.getLong(0)
      var i = 1
      while (i < g) { val v = hashes.getLong(i); if (v < m) m = v; i += 1 }
      return Array(m)
    }
    val out = new Array[Long](g - w + 1)
    val deque = new Array[Int](g) // indices, values increasing front→back
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < g) {
      val v = hashes.getLong(i)
      while (tail > head && hashes.getLong(deque(tail - 1)) >= v) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = hashes.getLong(deque(head))
      i += 1
    }
    out
  }
}
