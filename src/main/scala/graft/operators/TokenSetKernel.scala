package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The token-set similarity kernel: every decision the pair tiers
  * ([[Dedup]]'s Jaccard, containment, SNM and banded tiers) and the bag
  * fingerprints ([[TextOps]]) share, written once. Thresholds are
  * integer tenths `t`, so every compare is integral and the oracle
  * agrees bit for bit; the one IEEE step is the final division. */
private[graft] object TokenSetKernel {

  /** The distinct token bag of a doc's text, sorted and space-joined. */
  private def bagText: Column =
    concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))

  /** Bag-class key with the lang block: docs with equal keys are J = 1
    * to each other and indistinguishable to every lang-blocked tier. */
  def bagLangKey: Column = md5(concat_ws("\u0000", col("lang"), bagText))

  /** Bag-class key without lang: the "same bag of words" fingerprint. */
  def bagKey: Column = md5(bagText)

  /** The class quotient of a keyed `(doc_id, key)` relation: `members`
    * is every keyed row with its class rep (the min doc_id) and the
    * `classAggs`, `repDocs` the reps rejoined to `docs`. */
  def quotient(keyed: DataFrame, key: String, docs: DataFrame,
               classAggs: Column*): (DataFrame, DataFrame) = {
    val classes = keyed.groupBy(key).agg(min("doc_id").as("rep"), classAggs: _*)
    val members = keyed.join(classes, key)
    val repDocs = members.filter(col("doc_id") === col("rep"))
      .select("doc_id").join(docs, "doc_id")
    (members, repDocs)
  }

  /** Word-token id postings `(doc_id, lang, tid)`: [[Dedup.tokenPostings]]
    * on 64-bit xxhash ids, so every downstream shuffle, sort and
    * compare runs on primitive longs. */
  def idPostings(docs: DataFrame): DataFrame =
    Dedup.tokenPostings(docs)
      .select(col("doc_id"), col("lang"), xxhash64(col("token")).as("tid"))

  /** Per-`keys` sorted id arrays `toks` and their lengths `n`: sorted
    * so verification is a linear primitive merge. */
  def idArrays(tok: DataFrame, keys: String*): DataFrame =
    tok.groupBy(keys.head, keys.tail: _*)
      .agg(sort_array(collect_list(col("tid"))).as("toks"), count(lit(1)).as("n"))

  /** Bayardo prefix length `n − ⌈t·n⌉ + 1` (integer ceil): a pair with
    * J ≥ t (or containment ≥ t of the `n` side) shares a token among
    * these first tokens under any fixed global token order. */
  def prefixLength(n: Column, t: Int): Column =
    n - ((n * t + 9) / 10).cast("long") + 1

  /** The rare-first prefix rows of `tok`: tokens ranked per doc by
    * their per-lang frequency `tf` (ties by id), joined to the per-doc
    * `lengths` `(doc_id, n)`, kept within [[prefixLength]]. Rare-first
    * makes prefix buckets the smallest buckets. */
  def rareFirstPrefix(tok: DataFrame, lengths: DataFrame, t: Int): DataFrame = {
    val freq = tok.groupBy("lang", "tid").agg(count(lit(1)).as("tf"))
    tok.join(freq, Seq("lang", "tid"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tf"), col("tid"))))
      .join(lengths, "doc_id")
      .filter(col("pos") <= prefixLength(col("n"), t))
  }

  /** Length bound: |a∩b| ≤ min(n1, n2), so J ≥ t needs
    * t·n1 ≤ n2 and t·n2 ≤ n1. */
  def lengthBound(n1: Column, n2: Column, t: Int): Column =
    n1 * t <= n2 * 10 && n2 * t <= n1 * 10

  /** |toks1 ∩ toks2| by the native sorted merge. */
  def intersection: Column = graft.functions.VectorFunctions
    .sortedIntersectCount(col("toks1"), col("toks2"))

  /** Exact Jaccard verify of pairs carrying `toks1`/`n1`, `toks2`/`n2`:
    * `(d1, d2, inter, uni, jaccard)` for J ≥ t. `ids` names the output
    * pair columns. */
  def jaccardVerify(pairs: DataFrame, t: Int,
                    ids: Seq[Column] = Seq(col("d1"), col("d2"))): DataFrame = {
    val (inter, uni) = (col("inter"), col("uni"))
    pairs.withColumn("inter", intersection)
      .withColumn("uni", col("n1") + col("n2") - inter)
      .filter(inter * 10 >= uni * t)
      .select(ids ++ Seq(inter, uni, (inter.cast("double") / uni).as("jaccard")): _*)
  }

  /** Containment C(1→2) = inter / n1 ≥ t, integral. */
  def containmentAtLeast(inter: Column, n1: Column, t: Int): Column =
    inter * 10 >= n1 * t

  /** Exact containment verify of pairs carrying `toks1`/`n1`, `toks2`:
    * `(d1, d2, inter, n1, containment)` for C(d1→d2) ≥ t. */
  def containmentVerify(pairs: DataFrame, t: Int): DataFrame =
    pairs.withColumn("inter", intersection)
      .filter(containmentAtLeast(col("inter"), col("n1"), t))
      .select(col("d1"), col("d2"), col("inter"), col("n1"),
        (col("inter").cast("double") / col("n1")).as("containment"))

  /** Fail fast, instead of a late broadcast OOM, when a broadcast-verify
    * `side` has more than `maxRows` docs; `remedy` names the plan an
    * unbounded input takes. */
  def requireBroadcastable(docs: DataFrame, maxRows: Long, side: String,
                           remedy: String): Unit = {
    val rows = docs.count()
    require(rows <= maxRows,
      s"$side has $rows docs > maxBroadcastRows=$maxRows: the " +
        s"broadcast-verify plan must hold every $side id array in one " +
        s"executor; $remedy")
  }
}
