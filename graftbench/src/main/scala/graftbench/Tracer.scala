package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

import scala.collection.concurrent.TrieMap

/** Task metrics summed over every task of one job. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var peakMemBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  var scanRecords = 0L

  def add(m: TaskMetrics): Unit = synchronized {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    peakMemBytes = math.max(peakMemBytes, m.peakExecutionMemory)
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleReadRecords += m.shuffleReadMetrics.recordsRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    scanBytes += m.inputMetrics.bytesRead
    scanRecords += m.inputMetrics.recordsRead
  }

  def add(o: TaskTotals): Unit = synchronized {
    tasks += o.tasks
    runMs += o.runMs
    cpuNs += o.cpuNs
    gcMs += o.gcMs
    peakMemBytes = math.max(peakMemBytes, o.peakMemBytes)
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadRecords += o.shuffleReadRecords
    fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes
    scanBytes += o.scanBytes
    scanRecords += o.scanRecords
  }
}

object Tracer {
  /** Local property carrying the id of the driver span that submits a
    * job. Spark copies local properties into every job it starts, also
    * from the threads SQL execution uses for broadcasts and subqueries. */
  val SpanKey = "graftbench.span"
}

/** Listener that turns jobs and stages into spans of `rec` and sums the
  * task metrics of each job. A job belongs to the driver span that was
  * open on the submitting thread when it started: a job started while a
  * query is being declared is charged to its `decl` span. */
final class Tracer(rec: SpanRecorder) extends SparkListener {
  private val jobSpans = TrieMap.empty[Int, Int]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stageSpans = TrieMap.empty[Int, Int]
  /** Job span id → task totals of that job. */
  val totals = TrieMap.empty[Int, TaskTotals]

  private def ns(ms: Long): Long = ms * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(rec.current)
    val id = rec.openAt(s"job:${e.jobId}", parent, ns(e.time))
    jobSpans(e.jobId) = id
    e.stageIds.foreach(stageJob(_) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpans.remove(e.jobId).foreach(rec.closeAt(_, ns(e.time)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stageJob.get(info.stageId).foreach { job =>
      val start = info.submissionTime.getOrElse(System.currentTimeMillis())
      stageSpans(info.stageId) = rec.openAt(s"stage:${info.stageId}", job, ns(start))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageSpans.remove(info.stageId).foreach { id =>
      rec.closeAt(id, ns(info.completionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) stageJob.get(e.stageId).foreach { job =>
      totals.getOrElseUpdate(job, new TaskTotals).add(e.taskMetrics)
    }
}

/** Driver-side span scopes. With a tracer attached the listener adds job
  * and stage spans under them; without one only the driver spans exist
  * and no listener is registered. */
final class Scopes(sc: SparkContext, val rec: SpanRecorder) {
  def apply[T](name: String, newOp: Boolean = false)(body: => T): T = {
    val id = rec.begin(name, newOp)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    try body
    finally {
      rec.end(id)
      val outer = rec.current
      sc.setLocalProperty(Tracer.SpanKey, if (outer == 0) null else outer.toString)
    }
  }
}
