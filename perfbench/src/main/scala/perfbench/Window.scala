package perfbench

import org.apache.hadoop.fs.FileSystem
import scala.jdk.CollectionConverters._

/** Counters, JVM GC time and local bytes written, read at the start of
  * a measured window; [[delta]] gives the window's share of each.
  */
final class Window(ctx: Ctx) {
  ctx.settle()
  private val counters0 = Counters.snapshot
  private val gc0 = Stats.jvmGcS()
  private val bytes0 = Window.fileBytesWritten()
  private var closed: Option[(Map[String, Long], Double, Long)] = None

  def close(): Unit = {
    ctx.settle()
    val c = Counters.snapshot.map { case (k, v) => k -> (v - counters0.getOrElse(k, 0L)) }
    closed = Some((c, Stats.jvmGcS() - gc0, Window.fileBytesWritten() - bytes0))
  }

  def counter(key: String): Long = closed.get._1.getOrElse(key, 0L)

  /** The `spark.*`, `jvm.gc_s` and `fs.bytes_written_mb` layer metrics. */
  def common: Seq[Metric] = Seq(
    Metric("spark.jobs", counter("spark.jobs").toDouble, "count"),
    Metric("spark.tasks", counter("spark.tasks").toDouble, "count"),
    Metric("spark.gc_s", counter("spark.gc_ms") / 1000.0, "s"),
    Metric("spark.spill_mb", counter("spark.spill_bytes") / 1e6, "MB"),
    Metric("spark.input_mb", counter("spark.input_bytes") / 1e6, "MB"),
    Metric("jvm.gc_s", closed.get._2, "s"),
    Metric("fs.bytes_written_mb", closed.get._3 / 1e6, "MB"))
}

object Window {
  def fileBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum
}
