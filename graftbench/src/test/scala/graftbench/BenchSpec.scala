package graftbench

import java.nio.file.Files

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  override def afterAll(): Unit = spark.stop()

  private def conf(work: String) = Main.Conf(
    workload = "test", seed = 7, seconds = 0, trace = false, cores = 2, data = "",
    work = work, out = "", expected = "", record = false)

  test("self time subtracts the union of children clipped to the span") {
    val root = Span(1, "exec", 0, 1, 0, 100)
    val spans = Seq(root,
      Span(2, "job:0", 1, 1, 10, 30),
      Span(3, "job:1", 1, 1, 20, 50), // overlaps job:0 → 10..50 counts once
      Span(4, "job:2", 1, 1, 90, 130), // clipped at the parent's end → 10
      Span(5, "stage:0", 2, 1, 10, 30)) // grandchild: not subtracted twice
    assert(Spans.covered(root, spans.filter(_.parent == 1)) == 50)
    assert(Spans.selfTime(root, spans) == 50)
    assert(Spans.selfTime(spans(1), spans) == 0)
    assert(Spans.selfTime(spans(2), spans) == 30)
  }

  test("a job started while a query is declared is charged to decl, not exec") {
    val rec = new SpanRecorder
    val tracer = new Tracer(rec)
    val sc = spark.sparkContext
    val scope = new Scopes(sc, rec)
    sc.addSparkListener(tracer)
    try {
      scope("pass:1") {
        scope("op:q", newOp = true) {
          val df = scope("decl") {
            val n = spark.range(100).count() // eager jobs at declaration
            spark.range(n).selectExpr("id % 7 AS k").groupBy("k").count()
          }
          scope("exec")(Results.digest(df))
        }
      }
      Bridge.drainListenerBus(sc, 10000)
    } finally sc.removeSparkListener(tracer)
    val spans = rec.spans
    def named(n: String) = spans.find(_.name == n).get
    val jobs = spans.filter(_.kind == "job")
    val declJobs = jobs.filter(_.parent == named("decl").id)
    val execJobs = jobs.filter(_.parent == named("exec").id)
    assert(declJobs.nonEmpty && execJobs.nonEmpty)
    assert(declJobs.map(_.end).max <= execJobs.map(_.start).min)
    assert(jobs.forall(_.op == named("op:q").id))
    assert(spans.filter(_.kind == "stage").forall(s => jobs.exists(_.id == s.parent)))
    val f = Layers.figures(spans, tracer.totals, Seq(named("pass:1").id), cores = 2)
    assert(f.declJobs == declJobs.size.toDouble)
    assert(f.jobs == jobs.size.toDouble)
    assert(f.tasks > 0)
    assert(f.declSelfS <= f.declS)
  }

  test("the digest ignores row order and sees every column") {
    import spark.implicits._
    val a = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val b = Seq((2, "y"), (1, "x")).toDF("k", "v").repartition(2)
    assert(Results.digest(a) == Results.digest(b))
    assert(Results.digest(a) != Results.digest(Seq((1, "x"), (2, "z")).toDF("k", "v")))
    assert(Results.digest(a).rows == 2)
  }

  test("a wrong expected digest shows up as a failed operation") {
    val data = Files.createTempDirectory("graftbench_tables").toString
    Tables.All.foreach(t => spark.range(1).write.parquet(s"$data/$t.parquet"))
    val registry = Map("q" -> ((s: SparkSession, _: String) => s.range(3).toDF()))
    val right = Results.digest(spark.range(3).toDF())
    def failedWith(want: Digest) = {
      val w = new Pipelines(spark, data, Seq("q"), Map("q" -> want), seed = 1, registry)
      val work = Files.createTempDirectory("graftbench_work").toString
      new Runner(spark, w, new SpanRecorder, conf(work), System.currentTimeMillis() * 1000000L).run()
    }
    val ok = failedWith(right)
    assert(ok("failed") == 0L && ok("correct") == true)
    val bad = failedWith(right.copy(sum = right.sum + 1))
    assert(bad("failed") == 1L && bad("attempted") == 1L && bad("correct") == false)
  }

  test("a wrong mm_dense checksum shows up as a failed operation") {
    def run(tamper: ProductCheck => ProductCheck) = {
      val work = Files.createTempDirectory("graftbench_mm").toString
      val w = new MmDense(spark, work, n = 8, blockSize = 4, seed = 3) {
        override val check: ProductCheck = tamper(Matrices.check(a, b, 3))
      }
      new Runner(spark, w, new SpanRecorder, conf(work), System.currentTimeMillis() * 1000000L).run()
    }
    val ok = run(identity)
    assert(ok("failed") == 0L && ok("correct") == true)
    val bad = run(c => c.copy(checksum = c.checksum * (1 + 1e-6)))
    assert(bad("failed") == bad("attempted") && bad("attempted") == 5L) // every product
    assert(bad("correct") == false)
  }

  test("the product check agrees with the serial baseline") {
    val a = DenseSpec(16, 11)
    val b = DenseSpec(16, 12)
    val c = Matrices.serialProduct(a, b)
    val check = Matrices.check(a, b, seed = 5)
    val cells = (for (i <- 0L until 16; j <- 0L until 16) yield (i, j) -> c((i * 16 + j).toInt)).toMap
    assert(check.failure(ProductSummary(256, c.sum, cells)).isEmpty)
    assert(check.failure(ProductSummary(255, c.sum, cells)).nonEmpty)
    val wrongCell = cells.updated(check.probes.keys.head, -1.0)
    assert(check.failure(ProductSummary(256, c.sum, wrongCell)).nonEmpty)
  }
}
