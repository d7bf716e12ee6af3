package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** JVM-wide whole-stage and expression codegen counters: classes compiled
  * (cache misses of `CodeGenerator`'s compiled-class cache) and the time
  * spent compiling them. Subtract two snapshots to charge a region.
  *
  * Take the first snapshot only once a graft session exists: reading
  * `CodeGenerator.compileTime` initializes `CodeGenerator`, which fixes
  * the cache size (see [[GraftExtensions]]). */
final case class CodegenStats(compiles: Long, compileNs: Long) {
  def -(before: CodegenStats): CodegenStats =
    CodegenStats(compiles - before.compiles, compileNs - before.compileNs)
  def compileS: Double = compileNs / 1e9
  override def toString: String = f"$compiles compiles, $compileS%.2f s compiling"
}

object CodegenStats {
  def now(): CodegenStats =
    CodegenStats(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
}
