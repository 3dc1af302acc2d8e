package graft.store

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}

/** Epoch-file claim over a filesystem directory: the one stand-in for
  * the reference's row locks (`FOR UPDATE SKIP LOCKED`, schema.sql:411)
  * that every single-writer lease and cross-process mutex of the store
  * uses. The live holder is the HIGHEST `<prefix><epoch%020d>` file,
  * whose content is `<owner>@<expiryMs>`; claiming creates the NEXT
  * epoch with an atomic create-exclusive ([[AtomicFs.createExclusive]]),
  * so of N claimants racing past the expired-claim check exactly one
  * wins — no write-then-read-back window, and no delete in the claim
  * path that could nuke a rival's fresh claim. Renewal rewrites only
  * the owned epoch file (a usurper always claims a higher epoch, never
  * writes ours), so a holder learns it was superseded at its next
  * renewal.
  *
  * Two ways to claim:
  *  - [[acquire]] fails fast with [[ControlJournal.OwnershipHeldException]]
  *    on a live foreign holder — long-lived ownership ([[ControlJournal]],
  *    [[EventStore.acquireLogWriter]]);
  *  - [[lock]]/[[withLock]] wait until the claim is won — short critical
  *    sections ([[SharedJournal]], [[SharedLog]],
  *    [[IndexMaintenance.withMaintenanceLock]]). The wall-clock
  *    `acquireDeadlineMs` is a deadlock guard only.
  *
  * Liveness decisions use the injectable `clock` (frozen-clock tests
  * hold a claim open deliberately). Fencing is therefore correct to
  * within clock skew — the standard WAL-lease tradeoff (an object-store
  * CAS would be stronger but is not portably available). An optional
  * `legacyName` file (pre-epoch layouts) reads as epoch 0 while no
  * epoch file exists.
  */
final class EpochClaim(dir: Path,
                       fs: FileSystem,
                       val ownerId: String,
                       clock: () => Timestamp,
                       ttlMs: Long,
                       prefix: String,
                       acquireDeadlineMs: Long = 120L * 1000,
                       legacyName: Option[String] = None) {
  import ControlJournal.OwnershipHeldException
  import EpochClaim.Claim

  private val claimName = (java.util.regex.Pattern.quote(prefix) + """(\d{20})""").r
  private var epoch: Long = 0L
  private var expiryMs: Long = 0L

  /** Claim now, or throw [[OwnershipHeldException]] if a different live
    * holder has it (or a rival won the race for the next epoch). An
    * expired claim is taken over — the crashed-writer path.
    */
  def acquire(): Unit = {
    fs.mkdirs(dir)
    tryClaim() match {
      case Left(Claim(_, id, exp)) =>
        throw new OwnershipHeldException(
          s"$dir ($prefix) is held by writer '$id' until epoch-ms $exp; " +
            "a second live writer would clobber its in-flight publishes " +
            "(reference FOR UPDATE SKIP LOCKED, schema.sql:411)")
      case Right(false) =>
        throw new OwnershipHeldException(
          s"writer '$ownerId' lost the claim race for $dir ($prefix)")
      case Right(true) => ()
    }
  }

  /** Claim, waiting (5 ms polls) while a live holder has it; throws
    * IllegalStateException after `acquireDeadlineMs` of wall time.
    */
  def lock(): Unit = {
    val deadline = System.nanoTime() + acquireDeadlineMs * 1000 * 1000
    while (!tryClaim().contains(true)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"'$ownerId' timed out waiting for the mutex at $dir ($prefix)")
      Thread.sleep(5)
    }
  }

  /** Run `f` holding the claim. */
  def withLock[T](f: => T): T = {
    lock()
    try f finally release()
  }

  /** True while OUR claim is still the top epoch — the cheap check a
    * holder makes before its commit point.
    */
  def stillHeld(): Boolean = epoch > 0L && epochs().lastOption.contains(epoch)

  /** Heartbeat: rewrite OUR claim with a fresh expiry (atomic
    * rename-overwrite), so a holder keeps the claim for as long as it
    * is ALIVE — takeover only ever fires on a holder that stopped
    * renewing. Returns false WITHOUT writing once our claim is no
    * longer the top epoch: a dead claim must not resurrect itself
    * under the new holder.
    */
  def renew(): Boolean = stillHeld() && {
    val expiry = clock().getTime + ttlMs
    AtomicFs.atomicWrite(fs, fs.getConf, epochPath(epoch), claimBytes(expiry))
    expiryMs = expiry
    true
  }

  /** Renew, or throw [[OwnershipHeldException]] ("fenced") when a higher
    * epoch superseded us or our claim file is gone. Call it immediately
    * before a publish: unlike [[refresh]] it always lists the epochs, so
    * a writer whose claim expired DURING a long write job cannot flip a
    * pointer over its successor's work — the check→flip window shrinks
    * from O(job) to O(one listing).
    */
  def assertHeld(): Unit =
    if (!renew()) {
      val holder = topClaim().fold("nobody")(c => s"'${c.owner}' at epoch ${c.epoch}")
      throw new OwnershipHeldException(
        s"writer '$ownerId' was fenced: $dir ($prefix) is now held by $holder " +
          s"(ours: epoch $epoch)")
    }

  /** [[assertHeld]] gated at the claim's half-life — the cheap per-call
    * check at the top of every mutation.
    */
  def refresh(): Unit =
    if (clock().getTime >= expiryMs - ttlMs / 2) assertHeld()

  /** Drop our claim (clean shutdown). Safe to call when not held. */
  def release(): Unit = {
    if (epoch > 0L) fs.delete(epochPath(epoch), false)
    epoch = 0L
  }

  /** One claim attempt: Left(holder) while a live foreign claim blocks,
    * Right(won) otherwise. Superseded epochs (and the legacy file) are
    * dead weight once we win: liveness is decided by the max epoch, so
    * deleting lower ones can never promote a rival.
    */
  private def tryClaim(): Either[Claim, Boolean] = {
    val nowMs = clock().getTime
    val top = topClaim()
    top match {
      case Some(c) if c.owner != ownerId && c.expiryMs > nowMs => Left(c)
      case _ =>
        val next = top.fold(1L)(_.epoch + 1L)
        val expiry = nowMs + ttlMs
        val won = AtomicFs.createExclusive(fs, epochPath(next), claimBytes(expiry), ownerId)
        if (won) {
          epoch = next
          expiryMs = expiry
          epochs().filter(_ < next).foreach(e => fs.delete(epochPath(e), false))
          legacyName.foreach(n => fs.delete(new Path(dir, n), false))
        }
        Right(won)
    }
  }

  /** The top claim: highest epoch file, else the legacy file as epoch
    * 0. Unreadable content (an HDFS-like store exposes a
    * created-but-unwritten file, and a claimant can die right there)
    * counts as a foreign claim live until the file's mtime + TTL —
    * conservative for a moment, never a permanent wedge.
    */
  private def topClaim(): Option[Claim] = {
    val top = epochs().lastOption.map(e => (e, epochPath(e)))
      .orElse(legacyName.map(n => (0L, new Path(dir, n))).filter(t => fs.exists(t._2)))
    top.map { case (e, p) =>
      readClaim(p) match {
        case Some((id, exp)) => Claim(e, id, exp)
        case None =>
          val mtime = try fs.getFileStatus(p).getModificationTime catch {
            case _: java.io.FileNotFoundException => 0L
          }
          Claim(e, s"<unreadable claim $p>", mtime + ttlMs)
      }
    }
  }

  private def readClaim(p: Path): Option[(String, Long)] =
    try {
      val in = fs.open(p)
      try {
        val txt = new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        val i = txt.lastIndexOf('@')
        if (i < 0) None else Some((txt.substring(0, i), txt.substring(i + 1).trim.toLong))
      } finally in.close()
    } catch { // gone, torn, or a renewal's data/.crc pair mid-swap
      case _: java.io.FileNotFoundException | _: org.apache.hadoop.fs.ChecksumException
           | _: NumberFormatException => None
    }

  private def claimBytes(expiry: Long): Array[Byte] = s"$ownerId@$expiry".getBytes("UTF-8")

  private def epochPath(e: Long): Path = new Path(dir, f"$prefix$e%020d")

  private def epochs(): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case claimName(d) => d.toLong }.sorted
}

object EpochClaim {
  private final case class Claim(epoch: Long, owner: String, expiryMs: Long)
}
