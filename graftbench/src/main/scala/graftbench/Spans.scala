package graftbench

import scala.collection.mutable

/** One timed interval of a run. Times are epoch nanoseconds; `parent` is
  * 0 for a root span and `op` groups every span of one operation. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, end: Long) {
  def dur: Long = end - start
  def kind: String = name.takeWhile(_ != ':')
}

object Spans {

  /** Length of the union of `children`, each clipped to `span`. Children
    * may overlap (concurrent jobs), so overlapping parts count once. */
  def covered(span: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfTime(span: Span, all: Seq[Span]): Long =
    span.dur - covered(span, all.filter(_.parent == span.id))
}

/** Records the span tree of one run. Driver-side spans nest through
  * [[begin]]/[[end]] on the calling thread; listener-side spans (jobs,
  * stages) are opened with an explicit parent and time from any thread. */
final class SpanRecorder {
  private val nanoBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = nanoBase + System.nanoTime()

  private val byId = mutable.Map.empty[Int, Span]
  private val closed = mutable.ArrayBuffer.empty[Int]
  private var stack: List[Int] = Nil
  private var nextId = 1

  /** Opens a span under the innermost open driver span. `newOp` starts a
    * new operation: the span's own id becomes the op id of its subtree. */
  def begin(name: String, newOp: Boolean = false): Int = synchronized {
    val parent = stack.headOption.getOrElse(0)
    val id = openAt(name, parent, now(), newOp)
    stack = id :: stack
    id
  }

  def end(id: Int): Unit = synchronized {
    require(stack.headOption.contains(id), s"span $id is not innermost")
    stack = stack.tail
    closeAt(id, now())
  }

  def openAt(name: String, parent: Int, start: Long,
             newOp: Boolean = false): Int = synchronized {
    val id = nextId
    nextId += 1
    val op = if (newOp) id else byId.get(parent).map(_.op).getOrElse(0)
    byId(id) = Span(id, name, parent, op, start, start)
    id
  }

  def closeAt(id: Int, end: Long): Unit = synchronized {
    byId.get(id).foreach { s =>
      byId(id) = s.copy(end = math.max(end, s.start))
      closed += id
    }
  }

  /** Innermost open driver span, 0 outside any span. */
  def current: Int = synchronized(stack.headOption.getOrElse(0))

  /** Closed spans, in the order they closed. */
  def spans: Seq[Span] = synchronized(closed.map(byId).toList)
}
