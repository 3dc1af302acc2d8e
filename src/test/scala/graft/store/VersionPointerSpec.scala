package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Pointer readers racing a flipper: every resolve must name a
  * published version and never travel back in time. On local paths
  * the flip's checksum sidecar lags the data file for a moment; the
  * reader retries through that, and the flip itself must never leave
  * the pointer absent (a reader would fall back to a stale version).
  */
class VersionPointerSpec extends AnyFunSuite with graft.testkit.TestKitReported {

  private val conf = new Configuration()

  test("index pointer readers ride out concurrent flips") {
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft-pointer").toString
    val fs = FileSystem.get(new Path(dir).toUri, conf)
    fs.mkdirs(new Path(dir))
    val versions = (1 to 200).map(i => s"postings_v$i.parquet")
    val published = (versions :+ "postings.parquet").map(v => s"$dir/$v").toSet
    val firstRead = new java.util.concurrent.CountDownLatch(1)
    val flipper = new Thread(() => {
      firstRead.await()
      versions.foreach(v => IndexMaintenance.publish(dir, "postings", v, conf))
    })
    flipper.start()
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val errors = scala.collection.mutable.ArrayBuffer[Throwable]()
    // resolve for exactly as long as the flipper runs — no sleeps
    do {
      try seen += IndexMaintenance.resolve(dir, "postings", conf)
      catch { case e: Exception => errors += e }
      firstRead.countDown()
    } while (flipper.isAlive)
    flipper.join()
    assert(errors.isEmpty, s"${errors.size} resolves failed, first: ${errors.headOption}")
    assert(seen.forall(published), s"unpublished names: ${seen.filterNot(published).distinct}")
    // one reader never travels back in time: the legacy directory (no
    // pointer yet) and then ever-younger versions
    val order = seen.map(p => versions.indexOf(p.stripPrefix(s"$dir/")))
    assert(order.zip(order.drop(1)).forall { case (a, b) => a <= b },
      s"a resolve went backwards: ${order.distinct}")
    assert(IndexMaintenance.resolve(dir, "postings", conf) === s"$dir/${versions.last}")
  }
}
