package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Collect a coordinate DF to a sorted seq of (i, j, v). */
  def cells(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.select("i", "j", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted

  /** Descriptions of the jobs `body` submits. spark.read.parquet itself
    * submits a footer/schema-inference job per call ("parquet at
    * Tables.scala") — every declared query pays that at construction;
    * job audits are about EXTRA actions, so reads are excluded. */
  def jobsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        if (!js.stageInfos.forall(_.name.startsWith("parquet at Tables"))) {
          descs.add(js.stageInfos.map(si => si.name + " @ " +
            si.details.linesIterator.take(8).mkString(" | ")).mkString("\n"))
        }
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc, 10000L)
      descs.toArray.toSeq.map(_.toString)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
