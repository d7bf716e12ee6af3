package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.VectorFunctions

/** The native long-array kernels read elements as primitive longs, so a
  * null element would silently corrupt a signature/count. These specs
  * pin the contract: nullable-element arrays are rejected at ANALYSIS,
  * the sanctioned narrowing wrapper validates per row, and a violated
  * no-null claim fails loudly instead of corrupting.
  */
class KernelTypeSpec extends SparkSpec {

  test("md5_token_ids equals the interpreted split-distinct-md5 form") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    val texts = Seq(
      "the quick brown fox the quick",  // duplicates
      "a",                              // single token
      "",                               // empty string → one empty token
      "a  b",                           // separator run → empty token
      " leading and trailing ",         // boundary empties
      "üñïçødé tökens üñïçødé",         // non-ASCII, with a duplicate
      "x y z x y z x y z"
    )
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val interpreted = df.select(col("id"),
      transform(array_distinct(split(col("text"), " ")),
        t => conv(substring(md5(t.cast("binary")), 1, 10), 16, 10)
          .cast("long")).as("ids"))
      .orderBy("id").collect().map(_.getSeq[Long](1))
    val native = df.select(col("id"),
      Bridge.column(graft.functions.Md5TokenIds(
        Bridge.expression(col("text")))).as("ids"))
      .orderBy("id").collect().map(_.getSeq[Long](1))
    assert(native.toSeq === interpreted.toSeq)
    // ids are 40-bit non-negative (conv parity)
    assert(native.flatten.forall(id => id >= 0L && id < (1L << 40)))
  }

  test("md5_hash60 equals conv(substring(md5(x), 1, 15), 16, 10)") {
    import spark.implicits._
    import graft.operators.Sketches
    // NULL, empty, ASCII, non-ASCII and digests whose 16th nibble is
    // anything: the kernel drops exactly the nibble substring drops
    val keys = Seq(None, Some(""), Some("a"), Some("resv:42"), Some("üñïçødé")) ++
      (0 until 200).map(i => Some(s"k$i"))
    val df = keys.toDF("key")
    val viaSql = df.select(conv(substring(md5(col("key").cast("binary")), 1, 15), 16, 10)
      .cast("long")).collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val native = df.select(Sketches.hash60(col("key")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(native.toSeq === viaSql.toSeq)
    assert(native.head.isEmpty && native.flatten.forall(h => h >= 0L && h < (1L << 60)))
  }

  test("kernels reject containsNull=true arrays at analysis") {
    import spark.implicits._
    // a nullable lambda body types the array containsNull=true —
    // exactly the misuse ADVICE flagged
    val df = Seq((1L, Seq(1L, 2L, 3L))).toDF("id", "xs")
      .withColumn("nullable_xs", transform(col("xs"), x => when(x > 0L, x)))
    assert(df.schema("nullable_xs").dataType ===
      ArrayType(LongType, containsNull = true))
    val ex = intercept[AnalysisException] {
      df.select(VectorFunctions.sortedIntersectCount(
        col("nullable_xs"), col("nullable_xs"))).collect()
    }
    assert(ex.getMessage.contains("KnownNoNullElements"))
    val ex2 = intercept[AnalysisException] {
      df.select(VectorFunctions.zipEqualCount(
        col("nullable_xs"), col("nullable_xs"))).collect()
    }
    assert(ex2.getMessage.contains("KnownNoNullElements"))
  }

  test("noNullElements narrows the static type and passes values through") {
    import spark.implicits._
    val df = Seq((1L, Seq(5L, 1L, 5L))).toDF("id", "xs")
      .withColumn("narrowed",
        VectorFunctions.noNullElements(transform(col("xs"), x => x * 2)))
    assert(df.schema("narrowed").dataType ===
      ArrayType(LongType, containsNull = false))
    assert(df.select("narrowed").as[Seq[Long]].head() === Seq(10L, 2L, 10L))
    // and the narrowed column is accepted by the kernels
    val n = df.select(VectorFunctions.zipEqualCount(
      col("narrowed"), col("narrowed")).as("n")).as[Long].head()
    assert(n === 3L)
  }

  test("srp_code_words equals the per-plane zip_with/aggregate form") {
    import spark.implicits._
    // seeded vectors spanning signs/magnitudes; 130 planes → 3 words
    val rnd = new scala.util.Random(11)
    val dim = 16
    val vecs = (0L until 8L).map(i =>
      (i, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    val df = vecs.toDF("id", "v")
      .withColumn("v", col("v").cast("array<float>"))
    val planes = graft.operators.Similarity
      .lshPlanesQuantized(130, dim, seed = 7L)
    val native = df.select(col("id"),
      VectorFunctions.srpCodeWords(col("v"), planes, 1000).as("code"))
      .orderBy("id").collect().map(_.getSeq[Long](1))
    // the portable per-plane formulation the kernel replaced
    val portable = df.select(col("id"),
      array(planes.grouped(62).toSeq.map { word =>
        word.zipWithIndex.map { case (plane, p) =>
          val planeCol = array(plane.map(lit): _*)
          when(aggregate(zip_with(planeCol, col("v"),
            (w, y) => w * floor(y.cast("double") * 1000).cast("long")),
            lit(0L), (acc, x) => acc + x) >= 0, lit(1L << p))
            .otherwise(lit(0L))
        }.reduce(_ + _)
      }: _*).as("code"))
      .orderBy("id").collect().map(_.getSeq[Long](1))
    assert(native.toSeq === portable.toSeq)
    assert(native.head.length === 3) // ceil(130/62)
    // null element and length-mismatch inputs are NULL, not garbage
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v")
      .select(VectorFunctions.srpCodeWords(col("v"),
        planes, 1000).as("code"))
    assert(bad.filter(col("code").isNull).count() === 1L)
  }

  test("pq_argmin picks the nearest codeword with the (dist, label) tie-break") {
    import spark.implicits._
    // one subspace table of two codewords: label 7 at (10,10),
    // label 3 at (0,0) — vec 3 at (5,5) ties exactly, so the lower
    // label must win (the packed dist·2²⁰+label contract)
    val books = Seq(Tuple1(Seq((7L, Seq(10L, 10L)), (3L, Seq(0L, 0L)))))
      .toDF("books")
    val got = Seq(
      (1L, Seq(0L, 0L)),
      (2L, Seq(10L, 10L)),
      (3L, Seq(5L, 5L))
    ).toDF("vec_id", "vs")
      .crossJoin(books)
      .select(col("vec_id"),
        VectorFunctions.pqArgMinCode(col("vs"), col("books")).as("p"))
      .select(col("vec_id"), (col("p") % (1L << 20)).as("code"),
        expr(s"p div ${1L << 20}").as("dist"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 3L, 0L), (2L, 7L, 0L), (3L, 3L, 50L)))
    // an empty table and a codeword/subvector length mismatch are
    // NULL, not garbage (the SqDistLong strictness contract)
    val cast = "array<struct<label:bigint,cs:array<bigint>>>"
    val empty = Seq(Tuple1(Seq(1L, 2L))).toDF("vs")
      .select(VectorFunctions.pqArgMinCode(col("vs"),
        expr(s"CAST(array() AS $cast)")).as("p"))
    assert(empty.filter(col("p").isNull).count() === 1L)
    val mismatch = Seq(Tuple1(Seq(1L, 2L))).toDF("vs")
      .crossJoin(Seq(Tuple1(Seq((1L, Seq(5L))))).toDF("books"))
      .select(VectorFunctions.pqArgMinCode(col("vs"), col("books")).as("p"))
    assert(mismatch.filter(col("p").isNull).count() === 1L)
  }

  test("pq_argmin fails loudly on a wrapped-negative distance " +
    "instead of silently winning the argmin") {
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // 3037000500² = 9223372037000250000 > Long.MaxValue: the single-dim
    // d·d wraps NEGATIVE — exactly the r11 ADVICE hole the guard
    // closes. Were the guard absent, the negative dist would sail
    // under DistCap and crown this codeword as a "win" at distance
    // < 0; the contract is IllegalStateException, not a result.
    val wrap = Seq(Tuple1(Seq(3037000500L))).toDF("vs")
      .crossJoin(Seq(Tuple1(Seq((0L, Seq(0L))))).toDF("books"))
      .select(VectorFunctions.pqArgMinCode(col("vs"), col("books")).as("p"))
    val exWrap = intercept[Exception] { wrap.collect() }
    assert(messages(exWrap).exists(_.contains("wrapped negative")),
      s"expected the wrapped-negative guard, got: $exWrap")
    // the non-wrapping overflow arm: diff 2²² → dist 2⁴⁴ ≥ DistCap,
    // positive but too wide for the (dist, label) pack
    val over = Seq(Tuple1(Seq(1L << 22))).toDF("vs")
      .crossJoin(Seq(Tuple1(Seq((0L, Seq(0L))))).toDF("books"))
      .select(VectorFunctions.pqArgMinCode(col("vs"), col("books")).as("p"))
    val exOver = intercept[Exception] { over.collect() }
    assert(messages(exOver).exists(_.contains("overflows")),
      s"expected the DistCap guard, got: $exOver")
    // a codeword label outside [0, 2²⁰) breaks the pack
    val badLabel = Seq(Tuple1(Seq(1L))).toDF("vs")
      .crossJoin(Seq(Tuple1(Seq((1L << 20, Seq(1L))))).toDF("books"))
      .select(VectorFunctions.pqArgMinCode(col("vs"), col("books")).as("p"))
    val exLabel = intercept[Exception] { badLabel.collect() }
    assert(messages(exLabel).exists(_.contains("label")),
      s"expected the label guard, got: $exLabel")
  }

  test("pq_argmin is SQL-callable via GraftExtensions with the same " +
    "packed contract") {
    // the streaming encode path calls the kernel BY NAME inside a SQL
    // lambda (pqEncodeStream's per-subspace transform) — pin the
    // registration itself: same argmin, tie-break, and packing as the
    // Column-API call KernelTypeSpec already covers
    val pack = graft.functions.PqArgMinCode.Pack
    val got = spark.sql(
      """SELECT pq_argmin(
        |  array(CAST(5 AS BIGINT), CAST(5 AS BIGINT)),
        |  array(named_struct('label', CAST(7 AS BIGINT),
        |          'cs', array(CAST(10 AS BIGINT), CAST(10 AS BIGINT))),
        |        named_struct('label', CAST(3 AS BIGINT),
        |          'cs', array(CAST(0 AS BIGINT), CAST(0 AS BIGINT))))
        |) AS p""".stripMargin)
      .collect().head.getLong(0)
    // (5,5) ties at 50 against both codewords — label 3 must win
    assert(got % pack === 3L)
    assert(got / pack === 50L)
  }

  test("every kernel evaluates the same interpreted and generated") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      Expression, InterpretedUnsafeProjection, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions._

    def arr(xs: Any*): ArrayData = new GenericArrayData(xs.toArray)
    def longs(nullable: Boolean) = ArrayType(LongType, nullable)
    def floats(nullable: Boolean) = ArrayType(FloatType, nullable)
    def in(ordinal: Int, t: DataType) = BoundReference(ordinal, t, nullable = true)
    def rows(cells: Seq[Any]*): Seq[InternalRow] = cells.map(InternalRow.fromSeq)
    val books = ArrayType(StructType(Seq(StructField("label", LongType),
      StructField("cs", longs(true)))))
    def book(label: Any, cs: ArrayData): InternalRow = InternalRow(label, cs)

    // a NULL array, a length mismatch, a NULL element and an empty input
    // on every kernel that can see them; the merge and zip counts also
    // get unsorted, duplicate and disjoint arrays
    val pairs = rows(Seq(null, arr(1L)), Seq(arr(1L), null),
      Seq(arr(1L, 2L, 3L), arr(2L, 3L, 4L)), Seq(arr(3L, 1L, 2L), arr(2L, 1L, 3L)),
      Seq(arr(1L, 1L, 2L, 2L), arr(1L, 2L, 2L, 5L)), Seq(arr(1L, 2L), arr(3L, 4L)),
      Seq(arr(1L, 2L), arr(1L, 2L, 3L)), Seq(arr(), arr()), Seq(arr(), arr(7L)))
    val nullablePairs = pairs ++ rows(Seq(arr(1L, null), arr(1L, 2L)),
      Seq(arr(4L, 5L), arr(null, 5L)))
    val floatPairs = rows(Seq(null, arr(1f)), Seq(arr(0.5f, -1.25f), arr(2f, 3.5f)),
      Seq(arr(0.001f, -0.0019f), arr(1e-4f, 7f)), Seq(arr(1f), arr(1f, 2f)),
      Seq(arr(1f, null), arr(1f, 2f)), Seq(arr(), arr()))
    val floatLongPairs = rows(Seq(null, arr(1L)), Seq(arr(0.5f, -1.25f), arr(2L, -3L)),
      Seq(arr(0.001f, -0.0019f), arr(1L, 7L)), Seq(arr(1f), arr(1L, 2L)),
      Seq(arr(1f, null), arr(1L, 2L)), Seq(arr(1f, 2f), arr(null, 2L)), Seq(arr(), arr()))
    val idArrays = rows(Seq(null), Seq(arr()), Seq(arr(5L)), Seq(arr(9L, 3L, 3L, 7L, 1L, 8L)),
      Seq(arr((1L to 40L).map(i => (i * 7919L) % 101L): _*)))
    val nullableIds = idArrays ++ rows(Seq(arr(1L, null, 3L)))
    val texts = rows(Seq(null), Seq(UTF8String.fromString("")),
      Seq(UTF8String.fromString("a  b the quick the")),
      Seq(UTF8String.fromString("üñïçødé tökens üñïçødé")))
    val planes = Seq(3L, -2L, 1L, -1L, 0L, 4L, 2L, 2L, -5L)
    val pq = rows(Seq(null, arr(book(1L, arr(0L)))), Seq(arr(1L, 2L), null),
      Seq(arr(5L, 5L), arr(book(7L, arr(10L, 10L)), book(3L, arr(0L, 0L)))),
      Seq(arr(1L, 2L), arr()), Seq(arr(1L, 2L), arr(book(1L, arr(5L)))),
      Seq(arr(1L, null), arr(book(1L, arr(5L, 5L)))),
      Seq(arr(1L, 2L), arr(book(1L, arr(5L, 5L)), null)),
      Seq(arr(1L, 2L), arr(book(null, arr(5L, 5L)))),
      Seq(arr(1L, 2L), arr(book(1L, arr(0L, 0L)), book(2L, arr(null, 0L)))),
      Seq(arr(3037000500L), arr(book(0L, arr(0L)))),
      Seq(arr(1L), arr(book(1L << 20, arr(1L)))))

    val cases: Seq[(Expression, Seq[InternalRow])] = Seq(
      DotQuantized(in(0, floats(true)), in(1, floats(true)), 1000) -> floatPairs,
      DotQuantized(in(0, floats(false)), in(1, floats(false)), 1000) ->
        floatPairs.take(4),
      SqDistQuantized(in(0, floats(true)), in(1, longs(true)), 1000) -> floatLongPairs,
      SqDistLong(in(0, longs(true)), in(1, longs(true))) -> nullablePairs,
      SqDistLong(in(0, longs(false)), in(1, longs(false))) -> pairs,
      SortedLongIntersectCount(in(0, longs(false)), in(1, longs(false))) -> pairs,
      ZipLongEqualCount(in(0, longs(false)), in(1, longs(false))) -> pairs,
      PqArgMinCode(in(0, longs(true)), in(1, books)) -> pq,
      MinhashSigs(in(0, longs(false)), Seq(3L, 17L, 1021L), Seq(1L, 5L, 99L),
        (1L << 31) - 1) -> idArrays,
      SimhashOfHashes(in(0, longs(false)), 16) -> idArrays,
      WinnowMins(in(0, longs(false)), 3) -> idArrays,
      SrpCodeWords(in(0, floats(true)), planes, 3, 1000) -> rows(Seq(null),
        Seq(arr(0.5f, -1.25f, 2f)), Seq(arr(1f, 2f)), Seq(arr(1f, null, 2f))),
      KnownNoNullElements(in(0, longs(true))) -> nullableIds,
      Md5TokenIds(in(0, StringType)) -> texts,
      Md5Hash60(in(0, StringType)) -> texts,
      NgramFnv(in(0, StringType), 3) -> texts,
      Fnv64(in(0, BinaryType)) -> rows(Seq(null), Seq(Array.emptyByteArray),
        Seq("graft".getBytes("UTF-8"))))

    // a result as a plain value, or the failure it raised
    def outcome(v: => Any): Any = scala.util.Try(v).fold(
      e => s"${e.getClass.getName}: ${e.getMessage}",
      {
        case a: ArrayData => a.toLongArray().toSeq
        case x => x
      })
    SparkSession.setActiveSession(spark)
    val mode = SQLConf.CODEGEN_FACTORY_MODE.key
    val saved = spark.conf.getOption(mode)
    spark.conf.set(mode, "CODEGEN_ONLY")
    try {
      for ((e, inputs) <- cases) {
        assert(e.checkInputDataTypes().isSuccess, e)
        val generated = UnsafeProjection.create(Seq(e))
        assert(!generated.isInstanceOf[InterpretedUnsafeProjection], e)
        for (row <- inputs) {
          val interpreted = outcome(e.eval(row))
          val gen = outcome {
            val out = generated(row)
            if (out.isNullAt(0)) null else out.get(0, e.dataType)
          }
          assert(gen === interpreted, s"${e.prettyName} on $row")
        }
      }
    } finally saved.fold(spark.conf.unset(mode))(spark.conf.set(mode, _))
  }

  test("a violated no-null claim fails loudly instead of corrupting") {
    import spark.implicits._
    val df = Seq((1L, Seq(1L, 2L, 3L))).toDF("id", "xs")
      .withColumn("lying", VectorFunctions.noNullElements(
        transform(col("xs"), x => when(x === 2L, lit(null)).otherwise(x))))
    val ex = intercept[Exception] {
      df.select(col("lying")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("known_no_null_elements")),
      s"expected the validation error, got: $ex")
  }
}
