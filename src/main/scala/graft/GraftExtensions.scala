package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.StaticSQLConf
import graft.functions.{Fnv64, Md5TokenIds, NgramFnv, SortedLongIntersectCount, ZipLongEqualCount}

/** Engine extension point (`spark.sql.extensions=graft.GraftExtensions`):
  * registers the engine's native expressions with the session's function
  * registry so they are callable from SQL and `call_function` alike —
  * `fnv64(binary)`, `sorted_intersect_count(array<bigint>, array<bigint>)`,
  * `zip_equal_count(array<bigint>, array<bigint>)`.
  *
  * Every engine session passes through here, so this is also where the
  * engine defaults Spark's static `spark.sql.codegen.cache.maxEntries`
  * to [[GraftExtensions.CodegenCacheEntries]] on the active context's
  * conf. Extensions are applied before the session's `SharedState`
  * clones that conf, and `CodeGenerator` sizes its compiled-class cache
  * from it on first use. At Spark's default of 100 entries a pass of the
  * pair tier evicts and recompiles nearly all of its generated classes.
  * Limits:
  *  - the cache is JVM-wide, and the first `CodeGenerator` use fixes its
  *    size for the life of the JVM;
  *  - in a JVM whose `CodeGenerator` was initialized before any graft
  *    session existed, the default has no effect;
  *  - a value the user sets (builder, `--conf`, `-D`) always wins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def unary(name: String, clazz: Class[_],
                    build: Expression => Expression)
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier(name),
    new ExpressionInfo(clazz.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        s"$name expects exactly 1 argument, got ${children.length}")
      build(children.head)
    })

  private def binary(name: String, clazz: Class[_],
                     build: (Expression, Expression) => Expression)
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier(name),
    new ExpressionInfo(clazz.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"$name expects exactly 2 arguments, got ${children.length}")
      build(children.head, children(1))
    })

  override def apply(ext: SparkSessionExtensions): Unit = {
    Bridge.defaultConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      GraftExtensions.CodegenCacheEntries.toString)
    ext.injectFunction(unary("fnv64", classOf[Fnv64], Fnv64))
    ext.injectFunction(unary("md5_token_ids", classOf[Md5TokenIds], Md5TokenIds))
    ext.injectFunction(binary("sorted_intersect_count",
      classOf[SortedLongIntersectCount], SortedLongIntersectCount))
    ext.injectFunction(binary("zip_equal_count",
      classOf[ZipLongEqualCount], ZipLongEqualCount))
    // pq_argmin(vs, books): the fused PQ assignment kernel, SQL-callable
    // so lambda contexts (the streaming encode's per-subspace transform,
    // where Column-API expressions can't bind lambda variables) share
    // the batch tier's exact argmin, tie-break, and fail-loud bounds
    // contract instead of re-deriving the packed argmin in raw SQL
    ext.injectFunction(binary("pq_argmin",
      classOf[graft.functions.PqArgMinCode], graft.functions.PqArgMinCode))
    // sqdist_l(a, b): the native integer squared-L2 kernel,
    // SQL-callable so lambda contexts (the streaming ADC serve's
    // per-codeword distance-table build, where Column-API expressions
    // can't bind lambda variables) run ONE native eval per codeword
    // instead of interpreted zip_with + aggregate loops
    ext.injectFunction(binary("sqdist_l",
      classOf[graft.functions.SqDistLong], graft.functions.SqDistLong))
    // ngram_fnv(text, n): n must be a foldable integer literal — the
    // window width shapes the expression itself
    ext.injectFunction(binary("ngram_fnv", classOf[NgramFnv], (text, width) => {
      require(width.foldable && width.dataType ==
        org.apache.spark.sql.types.IntegerType,
        "ngram_fnv width must be an integer literal")
      val w = width.eval()
      // a foldable CAST(NULL AS INT) passes the checks above but would
      // silently unbox to 0 and surface as a misleading width error
      require(w != null, "ngram_fnv width must be a non-null integer literal")
      NgramFnv(text, w.asInstanceOf[Int])
    }))
    // winnow_mins(hashes, w): w must be a foldable integer literal — the
    // window width shapes the sliding-minimum kernel itself
    ext.injectFunction(binary("winnow_mins",
      classOf[graft.functions.WinnowMins], (hashes, width) => {
      require(width.foldable && width.dataType ==
        org.apache.spark.sql.types.IntegerType,
        "winnow_mins width must be an integer literal")
      val w = width.eval()
      require(w != null, "winnow_mins width must be a non-null integer literal")
      graft.functions.WinnowMins(hashes, w.asInstanceOf[Int])
    }))
  }
}

object GraftExtensions {
  /** Default size of Spark's compiled-class cache: holds a full registry
    * pass with headroom (working sets in docs/THROUGHPUT.md, "Generated-
    * code reuse"). */
  val CodegenCacheEntries: Int = 4096

  /** The engine session every main builds: `local[cores]` with as many
    * shuffle partitions, AQE with partition coalescing, UTC session
    * time, `nanosAsLong` (events.ts), these extensions, no UI, and WARN
    * logging. `getOrCreate`, so a second call in one JVM returns the
    * live session. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
