package perfbench

import org.apache.spark.sql.SparkSession

/** One reported number. `samples` is how many observations it
  * summarises (0 when it is a single reading).
  */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 0)

/** Everything a workload reports back to [[Main]]. `endToEnd` holds
  * exactly the metrics BENCHMARK.json declares; `info` holds the
  * workload's own end-to-end figures (suite_s, events_per_s, ...);
  * `layers` the per-layer metrics of a traced run.
  */
final case class Outcome(endToEnd: Seq[Metric], info: Seq[Metric], layers: Seq[Metric],
                         attempted: Long, failed: Long, problems: Seq[String])

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
                     workDir: java.io.File, benchDir: java.io.File, sessionStartS: Double,
                     listener: Option[LayerListener]) {
  def cores: Int = spark.sparkContext.defaultParallelism
  def settle(): Unit = listener.foreach(_.settle())
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Progress notes on stderr, stamped with seconds since JVM start. */
object Log {
  private val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(String.format(java.util.Locale.ROOT, "[perfbench %.1fs] %s",
      Double.box((System.currentTimeMillis() - start) / 1000.0), msg))
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Cumulative GC time of every collector in this JVM, seconds. */
  def jvmGcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** Heap still in use after a full collection, MB: what the process
    * retains (caches, logs, indexes) at this point.
    */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner releases broadcasts and shuffles only after
    // a collection finds them unreachable; give it time between rounds
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Peak resident set (VmHWM) of this process, MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
