package graftbench

import graft.{SparkEntry, Tables}
import graft.operators.MatrixOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named workload: repeatable input preparation, the operations of a
  * pass, and one operation run under `decl` and `exec` spans. */
trait Workload {
  /** Input generation and table warm-up; set-up repeats it and keeps the
    * median, so each round must leave the workload ready to run. */
  def prepare(round: Int): Unit
  /** Passes a run makes at least, however long they take. */
  def minPasses: Int
  def opsFor(pass: Int): Seq[String]
  def run(op: String, scope: Scopes): Outcome
}

/** Rows the operation produced, its digest when it has one, and why it
  * failed its check (None when it passed). */
final case class Outcome(rows: Long, digest: Option[Digest], failure: Option[String])

/** Registry queries of `SparkEntry.queries` over the tables in `dataDir`.
  * A pass runs every query once, in an order shuffled from the seed. */
final class Pipelines(spark: SparkSession, dataDir: String, val queries: Seq[String],
                      expected: Map[String, Digest], seed: Long,
                      registry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries)
    extends Workload {
  private val unknown = queries.filterNot(registry.contains)
  require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")

  /** A pass of the pair tier is long and holds several queries. */
  val minPasses = 1

  def prepare(round: Int): Unit =
    Tables.All.foreach(t => Tables.load(spark, dataDir, t).count())

  def opsFor(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  def run(q: String, scope: Scopes): Outcome = {
    val df = scope("decl")(registry(q)(spark, dataDir))
    val got = scope("exec")(Results.digest(df))
    val failure = expected.get(q) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$q: got ${got.rows} rows digest ${got.hex}, " +
        s"expected ${want.rows} rows digest ${want.hex}")
      case None => Some(s"$q: no expected digest")
    }
    Outcome(got.rows, Some(got), failure)
  }
}

/** The paper's Stage 4: a blocked product of two seeded dense n×n fp64
  * matrices read from coordinate parquet. A pass is one product. */
class MmDense(spark: SparkSession, workDir: String, val n: Int,
              blockSize: Int, seed: Long) extends Workload {
  val a: DenseSpec = DenseSpec(n, seed * 2 + 1)
  val b: DenseSpec = DenseSpec(n, seed * 2 + 2)
  val check: ProductCheck = Matrices.check(a, b, seed)
  private var dir = ""

  def prepare(round: Int): Unit = {
    dir = s"$workDir/mm_dense_$round"
    a.frame(spark).write.mode("overwrite").parquet(s"$dir/a")
    b.frame(spark).write.mode("overwrite").parquet(s"$dir/b")
  }

  /** The first products after the warm one still speed up; five give a
    * median past that ramp. */
  val minPasses = 5

  def opsFor(pass: Int): Seq[String] = Seq("product")

  def run(op: String, scope: Scopes): Outcome = {
    val product = scope("decl")(MatrixOps.multiplyBlocked(spark,
      spark.read.parquet(s"$dir/a"), spark.read.parquet(s"$dir/b"), n, blockSize))
    val got = scope("exec")(Matrices.summarize(product, check.probes.keySet))
    Outcome(got.cells, None, check.failure(got))
  }
}

object Pipelines {
  /** The candidate and pair-generation tier: joins and shuffles over
    * candidate pairs in `operators.Dedup`, `operators.TextOps` and the
    * `functions` kernels, with fixpoint loops that run at declaration. */
  val Pairs: Seq[String] = Seq(
    "dedup_jaccard_pairs", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_containment", "dedup_winnow_pairs", "tfidf_cosine_pairs",
    "dedup_components", "fuzzy_components",
    "dedup_components_incremental_banded", "source_overlap")
}

object MmDense {
  /** 1.5 times the reference's largest size; see NOTES.md for why not 2048. */
  val N = 1536
  val BlockSize = 256
}
