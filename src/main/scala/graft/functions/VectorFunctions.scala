package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns as pure column
  * expressions (`zip_with` + `aggregate` — codegen'd, no UDFs; the
  * north-star similarity surface, BASELINE.json).
  *
  * Two families:
  *   - `dot`/`cosine`: full double-precision, for engine use.
  *   - `*Quantized`: values floored to a fixed-point integer grid first,
  *     so sums are exact integers and therefore independent of both
  *     summation order and engine — the SURVEY.md §7 R2 discipline that
  *     makes similarity queries DuckDB-oracle-checkable.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def q(x: Column, scale: Int): Column = floor(x.cast("double") * scale)

  /** Σ floor(aᵢ·s)·floor(bᵢ·s) as BIGINT — exact, order-insensitive.
    * Uses the native codegen'd [[DotQuantized]] expression (the
    * zip_with+aggregate form is CodegenFallback — interpreted lambdas per
    * row — which dominates brute-force scans).
    *
    * Magnitude budget: each term is (s·|aᵢ|)·(s·|bᵢ|), so the Long sum
    * stays exact while dim·(s·max|component|)² < 2⁶³ — components to
    * ~380 at s=1000/dim=64. Downstream DERIVED products are the tight
    * constraint: anything multiplying two of these sums (norm·norm)
    * wraps ~2³² earlier, which is why every cosine in the engine
    * multiplies √norm·√norm in doubles instead (see
    * [[cosineQuantized]]). */
  def dotQuantized(a: Column, b: Column, scale: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(DotQuantized(
      Bridge.expression(a.cast("array<float>")),
      Bridge.expression(b.cast("array<float>")),
      scale))
  }

  /** Portable (higher-order-function) formulation of [[dotQuantized]] —
    * kept for cross-checking the native expression bit-for-bit. */
  def dotQuantizedPortable(a: Column, b: Column, scale: Int): Column =
    aggregate(zip_with(a, b, (x, y) => q(x, scale) * q(y, scale)),
      lit(0L), (acc, x) => acc + x)

  /** Quantized squared L2 norm. */
  def normSqQuantized(a: Column, scale: Int): Column = dotQuantized(a, a, scale)

  /** Σ (floor(aᵢ·s) − cᵢ)² as BIGINT between a float vector and an
    * already-quantized bigint centroid — native codegen'd
    * ([[SqDistQuantized]]); the nearest-centroid assignment kernel
    * without interpreted transform/zip_with lambdas on the N·k
    * cross-probe. */
  def sqDistQuantized(a: Column, c: Column, scale: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(SqDistQuantized(
      Bridge.expression(a.cast("array<float>")),
      Bridge.expression(c), scale))
  }

  /** Σ (aᵢ − bᵢ)² as BIGINT between two already-integer bigint arrays
    * — native codegen'd ([[SqDistLong]]); the assignment/scoring
    * kernel for integer-feature relations (media byte histograms),
    * where a float quantization detour would be lossy above 2²⁴. */
  def sqDistLong(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(SqDistLong(Bridge.expression(a), Bridge.expression(b)))
  }

  /** Packed `dist·2²⁰ + label` of the nearest codeword in a subspace's
    * whole table — the fused PQ assignment argmin ([[PqArgMinCode]]):
    * one in-register scan per (vector, subspace) row instead of the
    * explode-join-aggregate's N·m·cw materialized rows. */
  def pqArgMinCode(vs: Column, books: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(PqArgMinCode(Bridge.expression(vs),
      Bridge.expression(books)))
  }

  /** Narrows an array column's static type to `containsNull = false`
    * with per-row validation ([[KnownNoNullElements]]) — required on
    * lambda-built (`transform`) arrays before any native long-array
    * kernel, which all reject nullable-element inputs at analysis. */
  def noNullElements(a: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(KnownNoNullElements(Bridge.expression(a)))
  }

  /** |A ∩ B| over two sorted distinct `array<bigint>` columns — native
    * codegen'd merge ([[SortedLongIntersectCount]]); the zero-allocation
    * replacement for `size(array_intersect(a, b))` in set-similarity
    * verification. */
  def sortedIntersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(SortedLongIntersectCount(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** Positions where two equal-length `array<bigint>` columns agree —
    * native codegen'd ([[ZipLongEqualCount]]); the MinHash estimate
    * numerator without interpreted zip_with lambdas. */
  def zipEqualCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(ZipLongEqualCount(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** Cosine from quantized integrals: bigint dot / (√norm·√norm) —
    * exact casts, two sqrts, one multiply, one division, all
    * IEEE-deterministic. The denominator is √na·√nb with each factor
    * cast BEFORE multiplying, NEVER sqrt(na·nb): a quantized norm is
    * Σ floor(aᵢ·s)² ≈ dim·(s·max|aᵢ|)², so the Long product wraps
    * silently past components of ~7 at s=1000/dim=64 — the same
    * non-ANSI overflow class the r13 ADVICE caught in the tf·idf
    * prune, producing NaN/garbage cosines exactly on large-magnitude
    * embeddings. Every SQL oracle spells the identical √·√ form so
    * the ≥-threshold comparison stays engine-deterministic. */
  def cosineQuantized(a: Column, b: Column, scale: Int): Column =
    dotQuantized(a, b, scale).cast("double") /
      (sqrt(normSqQuantized(a, scale).cast("double")) *
        sqrt(normSqQuantized(b, scale).cast("double")))

  /** Random-hyperplane LSH bucket with integer-quantized planes and
    * vector: `planes(p)(d)` is a small driver-side matrix
    * (numPlanes × dim) broadcast as a literal; bit p of the bucket =
    * sign of Σ w_pd · floor(v_d·scale), an EXACT integer — the
    * bucket assignment is reproducible by any engine regardless of float
    * summation order. |w| ≤ ~5000, |floor(v·1000)| ≤ ~10^3·|v|, so 64-dim
    * sums sit far below 2^63. Served by the native [[SrpCodeWords]]
    * kernel (one vector pass for every plane, codegen'd) — the
    * portable per-plane zip_with/aggregate chain it replaced paid 2
    * interpreted lambda traversals per plane per row, which at the
    * 256-bit production width dominated the whole SRP query.
    *
    * NULL CONTRACT (stated, not incidental — the r11 ADVICE item): a
    * NULL vector, a NULL element, or a plane/vector length mismatch
    * yields NULL (the [[SrpCodeWords]] kernel's strictness), so such
    * rows DROP OUT of bucket equi-joins entirely. The pre-kernel
    * when/otherwise chain instead mapped them to bucket 0, silently
    * colliding malformed vectors into one bucket's candidate set —
    * strict-NULL is the deliberate contract: malformed embeddings
    * surface as missing (auditable via an `isNull` count) rather than
    * as phantom bucket-0 neighbors. Callers needing the old behavior
    * wrap with `coalesce(bucket, lit(0L))`. */
  def hyperplaneBucketQuantized(v: Column, planes: Array[Array[Long]],
                                scale: Int): Column = {
    require(planes.length <= SrpCodeWords.WordBits,
      s"${planes.length} planes exceed one ${SrpCodeWords.WordBits}-bit " +
        "bucket word; use srpCodeWords for multi-word sketches")
    srpCodeWords(v, planes, scale).getItem(0)
  }

  /** All `planes.length` SRP sign bits of a quantized vector in one
    * native pass, packed 62 per long word ([[SrpCodeWords]]); the
    * multi-word form [[hyperplaneBucketQuantized]] is a one-word view
    * of. Bit p of word ⌊p/62⌋ = sign of plane_p · floor(v·scale). */
  def srpCodeWords(v: Column, planes: Array[Array[Long]],
                   scale: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    require(planes.nonEmpty && planes.map(_.length).distinct.length == 1,
      "planes must be a nonempty rectangular matrix")
    Bridge.column(SrpCodeWords(
      Bridge.expression(v.cast("array<float>")),
      planes.flatten.toIndexedSeq, planes.head.length, scale))
  }
}
