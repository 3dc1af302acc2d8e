package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Filesystem atomicity primitives shared by the journals
  * ([[ControlJournal]], [[SharedJournal]]), [[EpochClaim]] and
  * [[VersionPointer]]. Two operations cover every need:
  * publish-with-replace (pointer flips, claim renewal) and
  * create-exclusive (claim races — the reference's row-lock analogue).
  */
private[store] object AtomicFs {

  /** Write-to-temp + ONE atomic rename-with-overwrite — no window where
    * a concurrent reader could observe the path absent. On local paths
    * that is rename(2): FileContext's local rename-with-OVERWRITE
    * deletes the target first, and in that window a pointer reader
    * falls back to a stale version and a claimant sees no claim at all.
    * The checksum sidecar follows the data file (a reader pairing old
    * data with the new sidecar gets a transient ChecksumException).
    */
  def atomicWrite(fs: FileSystem, conf: Configuration,
                  path: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(path.getParent, s".tmp-${path.getName}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dst = fs.makeQualified(path)
    if (dst.toUri.getScheme == "file") {
      def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      def sidecar(p: Path) = local(new Path(p.getParent, s".${p.getName}.crc"))
      import java.nio.file.{Files, StandardCopyOption => Opt}
      Files.deleteIfExists(sidecar(path))
      Files.move(local(tmp), local(path), Opt.ATOMIC_MOVE, Opt.REPLACE_EXISTING)
      if (Files.exists(sidecar(tmp)))
        Files.move(sidecar(tmp), sidecar(path), Opt.ATOMIC_MOVE, Opt.REPLACE_EXISTING)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
      fc.rename(fs.makeQualified(tmp), dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Create `path` with the given content atomically, failing (false)
    * if it already exists. On local paths a hard link publishes the
    * fully-written temp file — link(2) is atomic and EEXIST-safe, where
    * `RawLocalFileSystem.create(overwrite=false)` is check-then-act.
    * On HDFS-like stores `create(overwrite=false)` is atomic at the
    * namenode. `tmpTag` keeps concurrent claimants' temp files apart.
    */
  def createExclusive(fs: FileSystem, path: Path, bytes: Array[Byte],
                      tmpTag: String): Boolean = {
    val qualified = fs.makeQualified(path)
    if (qualified.toUri.getScheme == "file") {
      val tmp = new Path(path.getParent, s".claim-$tmpTag-${path.getName}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(qualified.toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally fs.delete(tmp, false)
    } else {
      try {
        val out = fs.create(path, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case e: java.io.IOException => if (fs.exists(path)) false else throw e
      }
    }
  }
}
