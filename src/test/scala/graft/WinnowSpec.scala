package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.WinnowMins
import graft.operators.TextOps

/** Winnowing fingerprint selection (Schleimer et al., SIGMOD'03): the
  * native monotonic-deque kernel must equal the naive windowed-min form
  * (which is what the DuckDB oracle runs), and the fingerprint set must
  * honor winnowing's coverage guarantee — documents sharing a long
  * enough substring share a fingerprint. */
class WinnowSpec extends SparkSpec {

  private def winnow(xs: Seq[Long], w: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    Option(WinnowMins.compute(ArrayData.toArrayData(xs.toArray), w))
      .map(_.toSeq).getOrElse(null)
  }

  test("hand-computed sliding minima") {
    assert(winnow(Seq(5L, 3L, 8L, 1L, 9L, 2L), 3) === Seq(3L, 1L, 1L, 1L))
    assert(winnow(Seq(4L, 4L, 4L), 2) === Seq(4L, 4L))
    assert(winnow(Seq(9L, 7L, 5L, 3L), 2) === Seq(7L, 5L, 3L)) // descending
    assert(winnow(Seq(1L, 2L, 3L, 4L), 2) === Seq(1L, 2L, 3L)) // ascending
  }

  test("fewer hashes than the window degenerates to the global min") {
    assert(winnow(Seq(7L, 4L), 3) === Seq(4L))
    assert(winnow(Seq(6L), 8) === Seq(6L))
    assert(winnow(Seq.empty, 4) === null)
  }

  test("kernel equals the naive slice/array_min form on real text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog repeatedly today"),
      (2L, "short"),
      (3L, "ab"),                       // shorter than the gram width
      (4L, ("abcdefghij" * 30)),        // long periodic text
      (5L, "aaaaaaaaaaaaaaaaaaaaaaaa")  // all-equal gram hashes (ties)
    ).toDF("doc_id", "text")
    val grams = transform(
      Bridge.column(graft.functions.NgramFnv(
        Bridge.expression(col("text")), 12)),
      h => h.bitwiseAND(lit((1L << 40) - 1)))
    val w = 8
    val dfBoth = docs.withColumn("hs", grams)
      .withColumn("naive", transform(
        sequence(lit(1), greatest(size(col("hs")) - (w - 1), lit(1))),
        i => array_min(slice(col("hs"), i, lit(w)))))
      .withColumn("kernel", Bridge.column(WinnowMins(
        Bridge.expression(col("hs")), w)))
    val rows = dfBoth.select("doc_id", "naive", "kernel").orderBy("doc_id")
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: naive != kernel")
    }
  }

  test("shared substring of length >= w + k - 1 yields a shared fingerprint") {
    import spark.implicits._
    val shared = "this exact sentence is long enough to guarantee overlap"
    val docs = Seq(
      (1L, s"prefix one entirely different $shared and then a distinct tail"),
      (2L, s"unrelated opening words here $shared closing with other text")
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      "docs sharing a 55-char substring must share a winnow fingerprint")
    // selection really samples: far fewer fingerprints than grams
    val gramCount = docs.select(size(Bridge.column(graft.functions.NgramFnv(
      Bridge.expression(col("text")), 12)))).collect().map(_.getInt(0)).sum
    assert(fps.values.map(_.size).sum < gramCount / 2)
  }

  test("winnowPairs pairs shared passages but drops boilerplate mass") {
    import spark.implicits._
    val header = "common license header boilerplate text appearing everywhere"
    val passage = "a genuinely shared passage long enough to leave fingerprints"
    val docs = (
      Seq((1L, s"$header alpha unique body $passage"),
          (2L, s"$header beta different body $passage")) ++
      (3L to 8L).map(i => (i, s"$header totally distinct content $i" * 3))
    ).toDF("doc_id", "text")
    // dfCap=2: header fps (df=8) are dropped; passage fps (df=2) survive
    val pairs = TextOps.winnowPairs(docs, dfCap = 2).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)),
      "only the passage-sharing pair may survive the df cap")
    assert(pairs.head.getAs[Long]("shared_fps") >= 2L)
  }

  test("winnow_mins rejects containsNull=true arrays at analysis") {
    import spark.implicits._
    val df = Seq((1L, Seq(1L, 2L, 3L))).toDF("id", "xs")
      .withColumn("nullable_xs", transform(col("xs"), x => when(x > 0L, x)))
    assert(df.schema("nullable_xs").dataType ===
      ArrayType(LongType, containsNull = true))
    val ex = intercept[AnalysisException] {
      df.select(Bridge.column(WinnowMins(
        Bridge.expression(col("nullable_xs")), 4))).collect()
    }
    assert(ex.getMessage.contains("KnownNoNullElements"))
  }
}
