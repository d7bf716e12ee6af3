package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** One benchmark run in one JVM: set up a workload, then run passes in a
  * closed loop (one client, one operation at a time) for `--seconds`,
  * checking every result. Writes the run's metrics as JSON to `--out`.
  *
  * `--trace 0` registers no listener and reports the end-to-end metrics.
  * `--trace 1` registers a [[Tracer]], alternates traced and untraced
  * passes, and reports the per-layer metrics plus the tracing overhead.
  * `--record 1` instead runs the `pairs` queries twice and writes their
  * digests to `--expected`, after checking both passes agree. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, data: String, work: String, out: String,
                        expected: String, record: Boolean)

  def parse(argv: Array[String]): Conf = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toDouble,
      trace = kv("trace") == "1", cores = kv("cores").toInt, data = kv("data"),
      work = kv("work"), out = kv("out"), expected = kv("expected"),
      record = kv.get("record").contains("1"))
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def readExpected(path: String): Map[String, Digest] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
      root.properties().asScala.map { e =>
        val hex = e.getValue.get("digest").asText
        e.getKey -> Digest(e.getValue.get("rows").asLong,
          java.lang.Long.parseUnsignedLong(hex.take(16), 16),
          java.lang.Long.parseUnsignedLong(hex.drop(16), 16))
      }.toMap
    }

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val jvmStartNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val rec = new SpanRecorder
    val spark = session(c)
    try {
      val result = c.workload match {
        case "pairs" if c.record =>
          record(spark, new Pipelines(spark, c.data, Pipelines.Pairs, Map.empty, c.seed), rec, c)
        case "pairs" =>
          val w = new Pipelines(spark, c.data, Pipelines.Pairs, readExpected(c.expected), c.seed)
          new Runner(spark, w, rec, c, jvmStartNs).run()
        case "mm_dense" =>
          val w = new MmDense(spark, c.work, MmDense.N, MmDense.BlockSize, c.seed)
          new Runner(spark, w, rec, c, jvmStartNs).run()
      }
      Files.writeString(Paths.get(c.out), Json.obj(result))
    } finally spark.stop()
  }

  /** Two passes over the workload's queries; writes each query's digest
    * and row count to `c.expected`, and fails when a query throws or its
    * two passes disagree. */
  private def record(spark: SparkSession, w: Pipelines, rec: SpanRecorder,
                     c: Conf): Map[String, Any] = {
    val scope = new Scopes(spark.sparkContext, rec)
    w.prepare(0)
    def pass(): Seq[(String, Either[String, Outcome])] = w.queries.map { q =>
      q -> (try Right(w.run(q, scope)) catch { case e: Throwable => Left(e.toString) })
    }
    val first = pass()
    val second = pass()
    val entries = first.zip(second).map {
      case ((q, Right(a)), (_, Right(b))) if a.digest == b.digest =>
        q -> Map("rows" -> a.rows, "digest" -> a.digest.get.hex)
      case ((q, a), (_, b)) =>
        q -> Map("error" -> Seq(a, b).map(_.fold(identity, _.digest.get.hex)).mkString(" / "))
    }
    val bad = entries.collect { case (q, m) if m.contains("error") => s"$q: ${m("error")}" }
    require(bad.isEmpty, s"not recordable (threw, or two passes disagree): ${bad.mkString("; ")}")
    Files.writeString(Paths.get(c.expected), Json.obj(entries.toMap, pretty = true))
    Map("recorded" -> entries.size)
  }
}

/** Set-up, measured loop and metrics of one run. */
final class Runner(spark: SparkSession, w: Workload, rec: SpanRecorder,
                   c: Main.Conf, jvmStartNs: Long) {
  private val sc = spark.sparkContext
  private val scope = new Scopes(sc, rec)
  private val tracer = if (c.trace) Some(new Tracer(rec)) else None
  private var attempted = 0L
  private var failed = 0L
  private val opTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.ArrayBuffer.empty[String]

  private def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** Runs one pass; returns (span id, wall seconds, per-op seconds, rows). */
  private def pass(p: Int, name: String): (Int, Double, Seq[(String, Double)], Long) = {
    var rows = 0L
    var id = 0
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val wall = timed(scope(name) {
      id = rec.current
      w.opsFor(p).foreach { op =>
        attempted += 1
        val s = timed {
          val o = try scope(s"op:$op", newOp = true)(w.run(op, scope))
            catch { case e: Throwable => Outcome(0, None, Some(s"$op threw $e")) }
          rows += o.rows
          o.failure.foreach { f => failed += 1; failures += f }
        }
        ops += op -> s
      }
    })
    (id, wall, ops.toSeq, rows)
  }

  private def drain(): Unit = Bridge.drainListenerBus(sc, 60000)

  def run(): Map[String, Any] = {
    tracer.foreach(sc.addSparkListener)
    val sessionS = (rec.now() - jvmStartNs) / 1e9
    val runId = rec.begin("run")
    val setupId = rec.begin("setup")
    val rounds = (1 to Runner.SetupRounds).map(r => timed(w.prepare(r)))
    val (_, _, warmOps, _) = pass(0, "pass:warm")
    rec.end(setupId)
    // set-up with the median preparation round in place of all rounds
    val setupS = (rec.now() - jvmStartNs) / 1e9 - rounds.sum + Stats.median(rounds)
    System.err.println(f"[graftbench] setup ${setupS}%.2f s: session ready at " +
      f"$sessionS%.2f s, preparation rounds " +
      rounds.map(r => f"$r%.2f").mkString(" ") + ", warm pass " +
      warmOps.sortBy(-_._2).take(6).map { case (o, t) => f"$o $t%.2f" }.mkString(", "))
    val warmAttempted = attempted
    val warmFailed = failed
    attempted = 0
    failed = 0

    val tracedPasses = mutable.ArrayBuffer.empty[Int]
    val passWalls = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var passRows = 0L
    val start = System.nanoTime()
    // a traced run needs an untraced and a traced pass to price tracing
    val minPasses = if (c.trace) math.max(w.minPasses, 2) else w.minPasses
    var p = 1
    while (p <= minPasses || (System.nanoTime() - start) / 1e9 < c.seconds) {
      val traced = tracer.isDefined && p % 2 == 0
      if (tracer.isDefined) {
        drain()
        if (traced) sc.addSparkListener(tracer.get) else sc.removeSparkListener(tracer.get)
      }
      val (id, wall, ops, rows) = pass(p, s"pass:$p")
      passWalls += traced -> wall
      passRows = rows
      if (traced) tracedPasses += id
      if (!traced) ops.foreach { case (op, s) => opTimes.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += s }
      p += 1
    }
    tracer.foreach { t => drain(); sc.removeSparkListener(t) }
    rec.end(runId)
    failures.take(5).foreach(f => System.err.println(s"[graftbench] FAILED $f"))
    if (warmFailed > 0) System.err.println(s"[graftbench] $warmFailed of $warmAttempted warm-up operations failed")

    val untracedWalls = passWalls.collect { case (false, s) => s }.toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!c.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", Stats.median(untracedWalls), "s"))
      else layerMetrics(untracedWalls, passWalls.collect { case (true, s) => s }.toSeq,
        tracedPasses.toSeq, warmOps, passRows)
    if (c.trace) writeSpans()
    Map(
      "correct" -> (failed == 0 && warmFailed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "pass_walls_s" -> passWalls.map(_._2).toSeq,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)
  }

  private def layerMetrics(untraced: Seq[Double], traced: Seq[Double], passIds: Seq[Int],
                           warmOps: Seq[(String, Double)], rows: Long): Seq[(String, Double, String)] = {
    val f = Layers.figures(rec.spans, tracer.get.totals, passIds, c.cores)
    val steady = opTimes.map { case (k, v) => k -> Stats.median(v.toSeq) }
    val memoCold = warmOps.map { case (op, s) => s - steady.getOrElse(op, s) }.sum
    val passS = Stats.median(untraced)
    val allOps = opTimes.values.flatten.toSeq
    // matmul figures read 0 on workloads without a product
    val (flop, serialS) = w match {
      case m: MmDense => (2.0 * m.n * m.n * m.n, timed(Matrices.serialProduct(m.a, m.b)))
      case _ => (0.0, 0.0)
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val mm = Seq(
      ("product_s", if (flop > 0) passS else 0.0, "s"),
      ("MatrixOps.serial_s", serialS, "s"),
      ("MatrixOps.parallel_eff", ratio(serialS, c.cores * passS), "ratio"),
      ("MatrixOps.gflops_cpu", ratio(flop / 1e9, f.cpuS), "GFLOP/s"),
      ("MatrixOps.flop_per_shuffle_byte", ratio(flop, f.shuffleWriteBytes), "flop/B"))
    val perQuery = Pipelines.Pairs.map { q =>
      (s"q.$q.s", steady.getOrElse(q, 0.0), "s")
    }
    Seq(
      ("SparkEntry.decl_s", f.declS, "s"),
      ("SparkEntry.decl_jobs", f.declJobs, "count"),
      ("SparkEntry.decl_self_s", f.declSelfS, "s"),
      ("SparkEntry.memo_cold_s", memoCold, "s"),
      ("spark.jobs", f.jobs, "count"),
      ("spark.stages", f.stages, "count"),
      ("spark.tasks", f.tasks, "count"),
      ("spark.driver_s", f.driverS, "s"),
      ("spark.idle_frac", f.idleFrac, "ratio"),
      ("exec.run_s", f.runS, "s"),
      ("exec.cpu_s", f.cpuS, "s"),
      ("exec.gc_s", f.gcS, "s"),
      ("exec.peak_mem_mb", f.peakMemMb, "MB"),
      ("shuffle.write_bytes", f.shuffleWriteBytes, "B"),
      ("shuffle.read_records", f.shuffleReadRecords, "count"),
      ("shuffle.fetch_wait_s", f.fetchWaitS, "s"),
      ("shuffle.spill_bytes", f.spillBytes, "B"),
      ("Tables.scan_bytes", f.scanBytes, "B"),
      ("Tables.scan_records", f.scanRecords, "count"),
      ("result.rows", rows.toDouble, "count"),
      ("trace.overhead_frac", Stats.median(traced) / passS - 1.0, "ratio"),
      ("failed_frac", ratio(failed.toDouble, attempted.toDouble), "ratio"),
      ("query_p50_s", Stats.quantile(allOps, 0.5), "s"),
      ("query_p90_s", Stats.quantile(allOps, 0.9), "s")
    ) ++ mm ++ perQuery
  }

  private def writeSpans(): Unit = {
    val lines = rec.spans.map { s =>
      Json.obj(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end))
    }
    Files.write(Paths.get(s"${c.work}/spans.jsonl"), lines.asJava)
  }
}

object Runner {
  /** Input preparation runs this often in set-up; the median round counts. */
  val SetupRounds = 3
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def obj(m: Map[String, Any], pretty: Boolean = false): String = {
    val sep = if (pretty) ",\n  " else ","
    val keys = m.keys.toSeq.sorted
    keys.map(k => quote(k) + ":" + value(m(k))).mkString(if (pretty) "{\n  " else "{", sep,
      if (pretty) "\n}\n" else "}")
  }

  def value(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
