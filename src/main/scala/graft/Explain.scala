package graft

/** Plan auditor: prints the formatted physical plan of declared queries
  * so scan pruning (ReadSchema), filter pushdown (PushedFilters), join
  * strategies (Broadcast vs SortMerge) and WholeStageCodegen spans can
  * be inspected and iterated on — the "is this the plan you'd want at
  * 100 TB" loop. It explains the named queries, or every declared
  * query with no names, in name order; an undeclared name fails.
  *
  *   sbt "runMain graft.Explain [queryName ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val suite = SparkEntry.select(args.toSeq)
    val spark = GraftExtensions.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    suite.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      q.build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
