package userbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch milliseconds with sub-millisecond
  * digits; `parent` is 0 for an op's root span. */
final case class Span(id: Long, name: String, start: Double, end: Double, parent: Long, op: Int) {
  def dur: Double = end - start
}

object Spans {

  /** A span's self time: its duration minus the part of its interval that
    * its children cover. Children may nest in each other, overlap (tasks
    * running in parallel) or stick out of the parent; each instant of the
    * parent counts as covered at most once. */
  def selfTime(parent: Span, children: Seq[Span]): Double = {
    val clipped = children
      .map(c => (math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0.0
    var curS = 0.0
    var curE = Double.NegativeInfinity
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    parent.dur - covered
  }

  /** Re-parents spans recorded without a known parent (Spark events carry
    * only their op) under the innermost span of the same op whose interval
    * contains their start. */
  def nest(spans: Seq[Span], orphan: Span => Boolean): Seq[Span] = {
    val byOp = spans.groupBy(_.op)
    spans.map { s =>
      if (!orphan(s)) s
      else {
        val hosts = byOp(s.op).filter(h => !orphan(h) && h.id != s.id &&
          h.start <= s.start && s.start <= h.end)
        if (hosts.isEmpty) s
        else s.copy(parent = hosts.minBy(_.dur).id)
      }
    }
  }
}

/** In-memory span recorder. Module spans come from the client thread;
  * Spark events arrive on the listener thread, hence the lock. Written
  * once, at the end of the run. */
final class Tracer {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var open: List[(Long, String)] = Nil
  @volatile var op: Int = -1
  /** Module spans are recorded only while set; a traced run leaves every
    * other op untraced to measure the tracing overhead. */
  @volatile var active: Boolean = false

  /** Told the innermost open span's name whenever it changes ("" outside
    * any module span), so Spark jobs can be tagged with their layer. */
  var onLayer: String => Unit = _ => ()

  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private def newId(): Long = synchronized { val id = nextId; nextId += 1; id }

  /** Runs `f` inside a span named `name`, child of the innermost open
    * span. Called from the client thread only. */
  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      val id = newId()
      val parent = open.headOption.map(_._1).getOrElse(0L)
      open = (id, name) :: open
      onLayer(name)
      val start = nowMs
      try f
      finally {
        val end = nowMs
        open = open.tail
        onLayer(open.headOption.map(_._2).getOrElse(""))
        synchronized(buf += Span(id, name, start, end, parent, op))
      }
    }

  /** Records a span observed elsewhere (a Spark job, stage, task or
    * streaming phase); it is nested under its op's spans at the end. */
  def record(name: String, start: Double, end: Double, op: Int): Unit = {
    val id = newId()
    synchronized(buf += Span(id, name, start, end, -1L, op))
  }

  /** Spans of traced ops, those with a root span, with Spark spans nested. */
  def spans: Seq[Span] = {
    val all = synchronized(buf.toList)
    val traced = all.filter(_.parent == 0L).map(_.op).toSet
    Spans.nest(all.filter(s => traced(s.op)), _.parent < 0)
  }

  def spansOf(op: Int): Seq[Span] =
    Spans.nest(synchronized(buf.filter(_.op == op).toList), _.parent < 0)

  def write(path: java.nio.file.Path): Unit = {
    val all = spans.sortBy(s => (s.op, s.start))
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op)))
      w.newLine()
    } finally w.close()
  }
}
