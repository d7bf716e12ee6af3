package graft

/** Plan auditor: prints the formatted physical plan of declared queries
  * so scan pruning (ReadSchema), filter pushdown (PushedFilters), join
  * strategies (Broadcast vs SortMerge) and WholeStageCodegen spans can
  * be inspected and iterated on — the "is this the plan you'd want at
  * 100 TB" loop. With no names it explains every declared query, in
  * name order.
  *
  *   sbt "runMain graft.Explain [queryName ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val qmap = SparkEntry.queries
    val names = if (args.nonEmpty) args.toSeq else qmap.keys.toSeq.sorted
    val spark = GraftExtensions.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      qmap.get(name) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None     => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
