package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** MVCC publication of immutable version directories behind one
  * atomically flipped pointer file — the store's stand-in for a
  * transaction commit that needs no vacuum. A rewrite lands in a fresh
  * `<stem>_v<N><suffix>` directory; one [[AtomicFs.atomicWrite]] of
  * `pointerFile` makes it live, so a reader resolving the pointer never
  * observes a half-written or absent version. The unversioned
  * `<stem><suffix>` directory (every pre-versioning layout) is the
  * legacy version. Used for the event log (`_current` → `events_v<N>`,
  * legacy `events`) and each index component (`_current.<c>` →
  * `<c>_v<N>.parquet`, legacy `<c>.parquet`).
  *
  * Only the mechanics live here; what a caller resolves to WITHOUT a
  * pointer, and which fence runs right before the flip, stay with the
  * caller ([[EventStore.resolveEventsPath]], [[IndexMaintenance.resolve]]).
  */
private[store] final class VersionPointer(val pointerFile: String, stem: String, suffix: String) {

  private val versionRe =
    (java.util.regex.Pattern.quote(stem) + """_v(\d+)""" + java.util.regex.Pattern.quote(suffix)).r

  val legacyName: String = stem + suffix

  def isVersion(name: String): Boolean = versionRe.matches(name)

  private def fsOf(dir: String, conf: Configuration): FileSystem =
    FileSystem.get(new java.net.URI(dir), conf)

  /** The version name the pointer holds; None without a pointer. */
  def read(dir: String, conf: Configuration): Option[String] = {
    val fs = fsOf(dir, conf)
    val p = new HPath(s"$dir/$pointerFile")
    var attempt = 0
    while (true) {
      try {
        if (!fs.exists(p)) return None
        val in = fs.open(p)
        try return Some(
          new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
        finally in.close()
      } catch {
        // Transient by construction: the flip renames the data file and
        // (on ChecksumFileSystem, i.e. local FS) its .crc sidecar in two
        // non-atomic steps, so a concurrent reader can catch the window
        // where they mismatch (ChecksumException) or the file is
        // mid-replace (FileNotFoundException after the exists check).
        // The flip completes in microseconds — retry briefly; a
        // PERSISTENT error is real and rethrows.
        case e @ (_: org.apache.hadoop.fs.ChecksumException
                  | _: java.io.FileNotFoundException) =>
          attempt += 1
          if (attempt > 50) throw e
          Thread.sleep(2)
      }
    }
    None // unreachable
  }

  /** The highest-numbered version directory on disk. */
  def latestOnDisk(dir: String, conf: Configuration): Option[String] = {
    val fs = fsOf(dir, conf)
    val d = new HPath(dir)
    if (!fs.exists(d)) None
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case v @ versionRe(n) => (n.toLong, v) }
      .maxByOption(_._1).map(_._2)
  }

  /** Next version to write: one past the max of the pointer's version
    * and the highest on disk. The disk side keeps a retry from
    * colliding with a crash-orphaned version; the pointer side keeps
    * numbering PAST the live version when the disk listing lags, so
    * the next rewrite never restarts at v1 and deletes the live
    * version out from under its readers.
    */
  def nextVersion(dir: String, conf: Configuration): String = {
    val numbers = (read(dir, conf) ++ latestOnDisk(dir, conf))
      .collect { case versionRe(n) => n.toLong }
    s"${stem}_v${numbers.maxOption.getOrElse(0L) + 1}$suffix"
  }

  /** Flip the pointer to `newVer`, running `fence` immediately before
    * the flip, then delete superseded versions. Kept: the new version,
    * the version the pointer named BEFORE the flip (readers are actively
    * resolving to it, however a crash-orphaned higher-numbered directory
    * sorts), and the `retainDepth` youngest predecessors on disk, the
    * legacy directory counting as the oldest. The reader-lifetime
    * contract: a scan must finish within `retainDepth` subsequent
    * rewrites of the version it resolved. Every file-op boundary calls
    * [[IndexMaintenance.failPoint]].
    */
  def publish(dir: String, newVer: String, conf: Configuration, retainDepth: Int)
             (fence: => Unit): Unit = {
    val fs = fsOf(dir, conf)
    val prevLive = read(dir, conf)
    IndexMaintenance.failPoint(s"publish:before-flip:$stem")
    fence
    AtomicFs.atomicWrite(fs, conf, new HPath(s"$dir/$pointerFile"), newVer.getBytes("UTF-8"))
    IndexMaintenance.failPoint(s"publish:after-flip:$stem")
    val predecessors = // youngest-first, legacy oldest
      (fs.listStatus(new HPath(dir)).toSeq.map(_.getPath.getName)
        .collect { case v @ versionRe(n) if v != newVer => (n.toLong, v) }
        ++ (if (fs.exists(new HPath(s"$dir/$legacyName"))) Seq((0L, legacyName)) else Nil))
        .sortBy(-_._1).map(_._2)
    val keep = Set(newVer) ++ prevLive ++ predecessors.take(math.max(retainDepth, 0))
    predecessors.filterNot(keep).foreach { v =>
      fs.delete(new HPath(s"$dir/$v"), true)
      IndexMaintenance.failPoint(s"publish:retention-deleted:$stem")
    }
  }
}
