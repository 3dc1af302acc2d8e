package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Attribution of Spark work and file-system operations to the layer
  * the benchmark is currently calling. [[within]] tags the calling
  * thread; Spark copies the tag into the jobs the thread submits and
  * into their tasks, so [[Counters]] can be kept per layer even while
  * producers and consumers run concurrently.
  */
object Layers {
  val Key = "perfbench.layer"
  private val current = new ThreadLocal[String]

  def within[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = current.get()
    current.set(layer)
    sc.setLocalProperty(Key, layer)
    try Trace.span(layer)(body)
    finally { current.set(outer); sc.setLocalProperty(Key, outer) }
  }

  /** Layer of the running code: the task's tag inside a Spark task,
    * else the calling thread's.
    */
  def now: String = {
    val tc = TaskContext.get()
    val fromTask = if (tc == null) null else tc.getLocalProperty(Key)
    Option(fromTask).orElse(Option(current.get())).getOrElse("other")
  }
}

/** Named counters, keyed "<layer>.<counter>". */
object Counters {
  private val m = new ConcurrentHashMap[String, LongAdder]()
  def add(key: String, n: Long): Unit = m.computeIfAbsent(key, _ => new LongAdder).add(n)
  def get(key: String): Long = Option(m.get(key)).map(_.sum()).getOrElse(0L)
  def snapshot: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    m.forEach((k, v) => b += k -> v.sum())
    b.result()
  }
}

/** Spark listener for traced runs: jobs, tasks, executor run time, GC,
  * spill, input and shuffle-write bytes, each per layer and in total.
  */
final class LayerListener extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Layers.Key))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = layerOf(e.properties)
    e.stageIds.foreach(stageLayer.put(_, layer))
    Counters.add(s"$layer.jobs", 1); Counters.add("spark.jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = Option(stageLayer.get(e.stageId)).getOrElse("other")
    Counters.add(s"$layer.tasks", 1); Counters.add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Seq("run_ns" -> m.executorRunTime * 1000000L, "gc_ms" -> m.jvmGCTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten).foreach {
        case (k, v) => Counters.add(s"$layer.$k", v); Counters.add(s"spark.$k", v)
      }
    }
  }

  /** Listener delivery is asynchronous: wait until no new event lands. */
  def settle(): Unit = {
    var prev = -1L
    var cur = Counters.get("spark.tasks") + Counters.get("spark.jobs")
    var i = 0
    while (cur != prev && i < 40) {
      prev = cur; Thread.sleep(50)
      cur = Counters.get("spark.tasks") + Counters.get("spark.jobs"); i += 1
    }
  }
}

/** `file:` file system that counts operations per layer. Hadoop's
  * built-in `FileSystem.Statistics` only moves byte counts for local
  * files, so traced runs install this class through
  * `spark.hadoop.fs.file.impl`.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  private def op(): Unit = {
    Counters.add(s"${Layers.now}.fs_ops", 1); Counters.add("fs.ops", 1)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { op(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    op(); Counters.add(s"${Layers.now}.fs_creates", 1)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { op(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { op(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { op(); super.listStatus(f) }
  override def mkdirs(f: Path): Boolean = { op(); super.mkdirs(f) }
  override def getFileStatus(f: Path): FileStatus = { op(); super.getFileStatus(f) }
}
