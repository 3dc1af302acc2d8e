package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a root span; spans of
  * one run share `runId`.
  */
final case class Span(id: Long, parent: Long, name: String, runId: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder for traced runs. Spans are kept in memory and written
  * out once, at the end of the run; when tracing is off [[span]] only
  * runs its body.
  */
object Trace {
  @volatile var enabled: Boolean = false
  @volatile var runId: String = ""
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, runId, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the part of its interval that its children cover.
    */
  def selfTimes(ss: Seq[Span] = all): Map[String, (Int, Double, Double)] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(_.durNs).sum
      val self = group.map(s => s.durNs - covered(s, kids.getOrElse(s.id, Nil))).sum
      name -> ((group.size, total / 1e6, self / 1e6))
    }
  }

  private def covered(s: Span, children: Seq[Span]): Long = {
    var sum = 0L
    var end = Long.MinValue
    children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { sum += b - from; end = b }
      }
    sum
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    Option(path.toAbsolutePath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "run" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      w.newLine()
    } finally w.close()
  }
}
