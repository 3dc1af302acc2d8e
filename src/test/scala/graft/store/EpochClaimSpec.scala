package graft.store

import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The epoch claim's liveness machinery: heartbeat renewal must keep a
  * LIVE holder's claim past its original TTL (reference analogue:
  * PostgreSQL's row locks live as long as the holding transaction — a
  * long compaction must not lose its lock mid-rewrite), takeover must
  * still fire on a holder that STOPPED renewing or died mid-claim, and
  * a superseded holder must fail BEFORE publishing a pointer flip over
  * the takeover's work. Every liveness decision runs on an injected
  * clock; wall time only bounds how long a waiter spins.
  */
class EpochClaimSpec extends AnyFunSuite with graft.testkit.TestKitReported {

  private def tmpDir() =
    new Path("file://" +
      java.nio.file.Files.createTempDirectory("graft-epochclaim").toString)
  private val conf = new Configuration()
  private def fsOf(p: Path): FileSystem =
    FileSystem.get(p.toUri, conf)

  test("renew extends an expired-by-clock claim; takeover fires only once renewal stops") {
    val dir = tmpDir(); val fs = fsOf(dir)
    var now = 1000000L
    val clock = () => new Timestamp(now)
    val a = new EpochClaim(dir, fs, "holder-a", clock, ttlMs = 1000,
      prefix = "_maint-", acquireDeadlineMs = 250)
    val b = new EpochClaim(dir, fs, "holder-b", clock, ttlMs = 1000,
      prefix = "_maint-", acquireDeadlineMs = 250)
    a.lock()
    now += 2000 // past A's original TTL
    assert(a.renew(), "a live holder renews its own claim")
    // the renewed claim is live again: B must time out, not take over
    intercept[IllegalStateException](b.lock())
    assert(a.stillHeld())
    now += 2000 // A stops renewing: TTL expires for real
    b.lock() // takeover succeeds
    assert(!a.stillHeld(), "superseded holder sees the takeover")
    assert(!a.renew(), "a dead claim must not resurrect itself")
    b.release()
  }

  test("the maintenance heartbeat keeps a long rewrite's lock live past the TTL") {
    val dir = tmpDir()
    val fs = fsOf(dir)
    @volatile var now = 1000000L
    val clock = () => new Timestamp(now)
    // read with java.nio: a checksummed Hadoop read can pair the old
    // data with the renewal's new .crc sidecar
    def claimExpiry(): Long = {
      val top = fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith("_maint-")).max
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(new Path(dir, top).toUri))
      txt.substring(txt.lastIndexOf('@') + 1).trim.toLong
    }
    IndexMaintenance.maintenanceLocked(dir.toString, conf, ttlMs = 2000,
        acquireDeadlineMs = 1000, clock) {
      for (round <- 1 to 2) {
        now += 5000 // 2.5 TTLs on the claim clock: unrenewed, the claim is dead
        // Wait for the heartbeat (period max(2000 / 3, 250) ms of wall
        // time) to renew against the frozen clock. This waits on a
        // condition, not a race: nothing can expire while the clock
        // stands still.
        val giveUp = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (claimExpiry() <= now) {
          assert(System.nanoTime() < giveUp, s"round $round: the heartbeat never renewed")
          Thread.sleep(20)
        }
        val contender = new EpochClaim(dir, fs, "contender", clock,
          ttlMs = 2000, prefix = "_maint-", acquireDeadlineMs = 300)
        intercept[IllegalStateException](contender.lock())
      }
    }
    // and the lock releases cleanly afterwards: a fresh claim wins at once
    IndexMaintenance.maintenanceLocked(dir.toString, conf, ttlMs = 2000,
      acquireDeadlineMs = 1000, clock)(())
  }

  test("an unreadable top claim blocks until its mtime + TTL, then is taken over") {
    val dir = tmpDir(); val fs = fsOf(dir)
    fs.mkdirs(dir)
    // a claimant that died between create(overwrite=false) and its
    // write leaves an empty claim file at the top epoch
    val planted = new Path(dir, f"_mutex-${7L}%020d")
    fs.create(planted, false).close()
    val mtime = fs.getFileStatus(planted).getModificationTime
    var now = mtime + 999
    val m = new EpochClaim(dir, fs, "waiter", () => new Timestamp(now),
      ttlMs = 1000, prefix = "_mutex-", acquireDeadlineMs = 200)
    intercept[ControlJournal.OwnershipHeldException](m.acquire())
    intercept[IllegalStateException](m.lock())
    now = mtime + 1001
    m.lock()
    assert(m.stillHeld())
    assert(!fs.exists(planted), "the takeover retires the dead claim")
    assert(fs.exists(new Path(dir, f"_mutex-${8L}%020d")))
    m.release()
  }

  test("publish aborts the pointer flip after a TTL takeover") {
    val dir = tmpDir().toString
    val fs = fsOf(new Path(dir))
    val caught = intercept[IllegalStateException] {
      IndexMaintenance.withMaintenanceLock(dir, conf) {
        // forge the takeover a >TTL stall would permit: a competing
        // claimant files the next epoch over our (expired) claim
        val claims = fs.listStatus(new Path(dir)).toSeq
          .map(_.getPath.getName).filter(_.startsWith("_maint-")).sorted
        val top = claims.last.stripPrefix("_maint-").toLong
        val next = new Path(dir, f"_maint-${top + 1}%020d")
        val out = fs.create(next, false)
        try out.write(s"intruder@${System.currentTimeMillis() + 60000}"
          .getBytes("UTF-8")) finally out.close()
        IndexMaintenance.publish(dir, "postings", "postings_v1.parquet", conf)
      }
    }
    assert(caught.getMessage.contains("maintenance lock"),
      s"wrong failure: ${caught.getMessage}")
    // the pointer must NOT exist — the flip was aborted, not half-done
    assert(!fs.exists(new Path(s"$dir/_current.postings")))
  }
}
