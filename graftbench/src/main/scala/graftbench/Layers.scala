package graftbench

/** Layer figures read off the span tree and the job totals of the traced
  * passes. Counts, times and bytes are means per pass; `idleFrac` is a
  * ratio over all traced passes and `peakMemMb` the largest task peak. */
final case class LayerFigures(
    declS: Double, declJobs: Double, declSelfS: Double,
    jobs: Double, stages: Double, tasks: Double, driverS: Double,
    idleFrac: Double, runS: Double, cpuS: Double, gcS: Double, peakMemMb: Double,
    shuffleWriteBytes: Double, shuffleReadRecords: Double, fetchWaitS: Double,
    spillBytes: Double, scanBytes: Double, scanRecords: Double)

object Layers {

  def figures(spans: Seq[Span], totals: collection.Map[Int, TaskTotals],
              passIds: Seq[Int], cores: Int): LayerFigures = {
    val kids = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(s => s +: subtree(s.id))
    val inPasses = passIds.flatMap(subtree)
    val decls = inPasses.filter(_.kind == "decl")
    val execs = inPasses.filter(_.kind == "exec")
    val jobs = inPasses.filter(_.kind == "job")
    val declIds = decls.map(_.id).toSet
    val execIds = execs.map(_.id).toSet
    def sum(js: Seq[Span]): TaskTotals = {
      val t = new TaskTotals
      js.flatMap(j => totals.get(j.id)).foreach(t.add)
      t
    }
    val all = sum(jobs)
    val execJobs = sum(jobs.filter(j => execIds(j.parent)))
    val p = math.max(passIds.size, 1).toDouble
    val s = 1e-9
    val execWallS = execs.map(_.dur).sum * s
    LayerFigures(
      declS = decls.map(_.dur).sum * s / p,
      declJobs = jobs.count(j => declIds(j.parent)) / p,
      declSelfS = decls.map(Spans.selfTime(_, spans)).sum * s / p,
      jobs = jobs.size / p,
      stages = inPasses.count(_.kind == "stage") / p,
      tasks = all.tasks / p,
      driverS = execs.map(Spans.selfTime(_, spans)).sum * s / p,
      idleFrac = if (execWallS <= 0) 0.0
        else 1.0 - execJobs.runMs / 1000.0 / (cores * execWallS),
      runS = all.runMs / 1000.0 / p,
      cpuS = all.cpuNs * s / p,
      gcS = all.gcMs / 1000.0 / p,
      peakMemMb = all.peakMemBytes / 1048576.0,
      shuffleWriteBytes = all.shuffleWriteBytes / p,
      shuffleReadRecords = all.shuffleReadRecords / p,
      fetchWaitS = all.fetchWaitMs / 1000.0 / p,
      spillBytes = all.spillBytes / p,
      scanBytes = all.scanBytes / p,
      scanRecords = all.scanRecords / p)
  }
}
