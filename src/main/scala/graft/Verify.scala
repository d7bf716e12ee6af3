package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each registry query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`scripts/check_oracle.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-only subset filter (same contract as Bench's): verify one hot
    // query without paying for the whole suite. Driver sets it never —
    // oracle_sql.json is filtered identically so check_oracle.py sees a
    // consistent dump.
    val suite = SparkEntry.select(SparkEntry.onlyNames)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftExtensions.session(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    suite.foreach { row =>
      try row.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${row.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${row.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = suite.map(row => s"${q(row.name)}: ${q(row.oracle)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
