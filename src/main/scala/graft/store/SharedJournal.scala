package graft.store

import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Multi-writer control-plane journal: N live consumers SHARE one
  * view's partitions, the reference's `FOR UPDATE SKIP LOCKED`
  * semantics (schema.sql:405-417; proven concurrent by
  * tests/integration/concurrent-access/test_lock_contention.sql:41-48
  * — two sessions streaming one view split its partitions and never
  * double-deliver). [[ControlJournal]] solves the durability half with
  * a single-writer WAL; this class completes the SHARING half:
  *
  *  - **Per-writer lanes**: each live consumer appends its mutations
  *    to its own `lanes/<writerId>/<seq>.json` sequence — no write
  *    ever contends with another writer's, so there is nothing to
  *    clobber (the failure mode a shared sequence would reintroduce).
  *  - **Merged replay**: fold the latest snapshot plus every lane's
  *    later entries ordered by (writer clock, lane, seq), applied with
  *    [[ControlJournal.applyRecord]]'s field-scoped semantics. The
  *    hot mutations are made ORDER-TOLERANT: head offsets and ACKed
  *    offsets advance by monotone max, lease/nack set only
  *    `locked_until` — so cross-lane clock skew can at worst delay a
  *    redelivery (at-least-once), never lose an ACK or a head.
  *  - **Candidate-selection mutex**: `SKIP LOCKED`'s atomicity lives
  *    in stage 1+2 of the delivery pipeline (pick unleased lagging
  *    partitions, lease them). Cross-process, that critical section
  *    runs under a short-TTL mutex claimed with the same epoch-file
  *    create-exclusive scheme ControlJournal uses for ownership —
  *    crash-mid-mutex recovers by TTL expiry. ACK/NACK need no mutex:
  *    the delivery lease makes the acking writer the partition's sole
  *    mutator (exactly the reference's model, where ack_event updates
  *    a row only the acker's session holds).
  *  - **Checkpoint**: `snapshot-<n>.json` carries the merged state
  *    plus per-lane high-water marks; folded lane entries and older
  *    snapshots are deleted (under the mutex). Growth is bounded by
  *    mutation rate between checkpoints.
  *
  * Scale note (100 TB deployment): everything here is control-plane
  * sized — lanes carry the same rows the reference writes per
  * transaction, and the mutex guards an O(limit) map scan, never a
  * Spark job. Partition-level delivery parallelism is unlimited (leases
  * are per (view, decider_id)); the mutex serializes only candidate
  * SELECTION, as the reference's row-lock scan does.
  */
final class SharedJournal(dirStr: String,
                          conf: Configuration,
                          val writerId: String,
                          clock: () => Timestamp,
                          mutexTtlMs: Long = 30000L,
                          val compactThreshold: Int = SharedJournal.DefaultCompactThreshold) {
  import ControlJournal.{Record, JView, JLock}
  import SharedJournal._

  require(writerId.matches("""[A-Za-z0-9._\-]+"""),
    s"writerId '$writerId' must be filesystem-safe (lane directory name)")

  private val dir = new Path(dirStr)
  private val fs = FileSystem.get(dir.toUri, conf)
  private val lanesDir = new Path(dir, "lanes")
  private val laneDir = new Path(lanesDir, writerId)
  private var laneSeq: Long = 0L
  private val mutex = new EpochClaim(dir, fs, writerId, clock, mutexTtlMs, MutexPrefix)

  /** Lamport stamp for cross-lane ordering. Wall clocks CANNOT order
    * the merge: with ties (frozen test clocks) or skew, writer B's old
    * ACK-release could sort after writer A's newer lease of the same
    * partition and un-lease it in the fold — double delivery. The
    * causal chain on a key is always lease → (same writer) ack →
    * (next mutex holder resyncs, sees the ack) lease …, and a Lamport
    * clock — advance past everything read on replay, tick on append —
    * embeds exactly that chain. Causally-unrelated ties are
    * lane/seq-broken and only ever touch commuting fields (monotone
    * head/ack maxes).
    */
  private var lamport: Long = 0L

  /** Join the shared journal: create our lane and position its sequence
    * after anything a previous incarnation (same writerId) wrote —
    * callers must keep writerId unique per LIVE process (two live
    * writers on one lane would collide exactly like a shared sequence).
    */
  def open(): Unit = {
    fs.mkdirs(laneDir)
    val fromSnap = readLatestSnapshot().flatMap(_._2.laneSeqs.get(writerId)).getOrElse(0L)
    laneSeq = math.max(fromSnap, laneEntrySeqs(laneDir).lastOption.getOrElse(0L))
  }

  // ------------------------------------------------------------------
  // Candidate-selection mutex

  /** Run `f` holding the cross-process mutex ([[EpochClaim]]: epoch-file
    * create-exclusive claims, crashed-holder TTL expiry).
    */
  def withMutex[T](f: => T): T = mutex.withLock(f)

  // ------------------------------------------------------------------
  // Lanes

  /** Durably record one mutation in OUR lane, stamped with the next
    * Lamport tick. Safe without the mutex for lease-holder-owned keys
    * (ACK/NACK/head) — see class doc.
    */
  def appendLane(rec: Record): Unit = {
    laneSeq += 1
    lamport += 1
    AtomicFs.atomicWrite(fs, conf, lanePath(laneDir, laneSeq),
      mapper.writeValueAsBytes(rec.copy(at = lamport)))
  }

  /** Merged replay: snapshot + all lanes' later entries, ordered by
    * (record clock, lane id, lane seq) — deterministic, and correct
    * under skew for the monotone ops (see class doc).
    */
  def replay(): (Seq[ViewRegistration], Seq[LockRow]) = {
    val (views, locks, _) = foldState()
    (views.values.toSeq, locks.values.toSeq)
  }

  /** Fold the latest snapshot plus pending lane entries. Mutex-free
    * callers (resyncShared in ack/nack paths) can race a checkpointer:
    * read snapshot n-1, the checkpointer writes snapshot n and GCs the
    * folded lane entries, and our subsequent lane listing misses those
    * entries — a fold that silently LOST their effects. Detect it by
    * re-checking the latest snapshot seq after the lane read and retry
    * (bounded); checkpoints are rare relative to folds, so one retry
    * virtually always converges. If the bound is ever exhausted the
    * last fold is returned — same heals-at-next-mutex-resync behavior
    * as before, now a pathological corner instead of the common race.
    */
  private def foldState(): (scala.collection.mutable.LinkedHashMap[String, ViewRegistration],
                            scala.collection.mutable.LinkedHashMap[(String, String), LockRow],
                            Seq[(Long, String, Long, Record)]) = {
    var attempt = 0
    while (true) {
      attempt += 1
      val views = scala.collection.mutable.LinkedHashMap.empty[String, ViewRegistration]
      val locks = scala.collection.mutable.LinkedHashMap.empty[(String, String), LockRow]
      val snap = readLatestSnapshot()
      snap.foreach { case (_, s) =>
        s.views.foreach(v => views(v.view) = v.toRow)
        s.locks.foreach(l => locks((l.view, l.decider_id)) = l.toRow)
      }
      val watermarks = snap.map(_._2.laneSeqs).getOrElse(Map.empty[String, Long])
      val pending = pendingEntries(watermarks)
      if (snapshotSeqs().lastOption == snap.map(_._1) || attempt >= 5) {
        pending.foreach { case (_, _, _, rec) => ControlJournal.applyRecord(views, locks, rec) }
        // Lamport receive: our next append must order after everything read
        lamport = (lamport +: snap.map(_._2.maxAt).getOrElse(0L) +: pending.map(_._1)).max
        lastPendingCount = pending.size
        return (views, locks, pending)
      }
    }
    sys.error("unreachable")
  }

  /** Lane entries are immutable once published (atomic create, never
    * rewritten), so parsed records are cached: each resync pays one
    * directory listing per lane plus reads of NEW files only — without
    * this, a poll loop's repeated replays re-read every entry file
    * (O(entries²) file opens across a drain). Checkpoint GC evicts
    * folded entries.
    */
  private val entryCache =
    scala.collection.mutable.HashMap.empty[(String, Long), Record]

  /** Entries newer than the snapshot watermarks, in merge order. */
  private def pendingEntries(watermarks: Map[String, Long]): Seq[(Long, String, Long, Record)] = {
    val lanes =
      if (!fs.exists(lanesDir)) Nil
      else fs.listStatus(lanesDir).toSeq.filter(_.isDirectory).map(_.getPath)
    lanes.flatMap { lane =>
      val wm = watermarks.getOrElse(lane.getName, 0L)
      laneEntrySeqs(lane).filter(_ > wm).flatMap { s =>
        val key = (lane.getName, s)
        entryCache.get(key).orElse {
          val r = readJson[Record](lanePath(lane, s))
          r.foreach(entryCache.update(key, _))
          r
        }.map(r => (r.at, lane.getName, s, r))
      }
    }.sortBy { case (at, laneId, s, _) => (at, laneId, s) }
  }

  /** Fold a checkpoint in (caller holds the mutex) and return the
    * merged state. The state and the per-lane watermarks come from ONE
    * listing — an ACK another writer appends mid-checkpoint gets a seq
    * past the recorded watermark and survives for the next fold, so a
    * checkpoint can never swallow an entry's seq without its effect.
    */
  def checkpoint(): (Seq[ViewRegistration], Seq[LockRow]) = {
    val (views, locks, pending) = foldState()
    val prior = readLatestSnapshot()
    val priorWm = prior.map(_._2.laneSeqs).getOrElse(Map.empty[String, Long])
    val folded = pending.groupBy(_._2).map { case (laneId, es) => laneId -> es.map(_._3).max }
    val wm = priorWm ++ folded.map { case (l, s) => l -> math.max(s, priorWm.getOrElse(l, 0L)) }
    val n = prior.map(_._1 + 1L).getOrElse(1L)
    AtomicFs.atomicWrite(fs, conf, snapshotPath(n), mapper.writeValueAsBytes(
      SharedSnapshot(views.values.map(JView.of).toArray,
        locks.values.map(JLock.of).toArray, wm, lamport)))
    // GC: folded lane entries (files + cache), then older snapshots
    wm.foreach { case (laneId, upTo) =>
      val lane = new Path(lanesDir, laneId)
      laneEntrySeqs(lane).filter(_ <= upTo).foreach(s => fs.delete(lanePath(lane, s), false))
    }
    entryCache.filterInPlace { case ((laneId, s), _) => s > wm.getOrElse(laneId, 0L) }
    snapshotSeqs().filter(_ < n).foreach(s => fs.delete(snapshotPath(s), false))
    lastPendingCount = 0 // everything just folded
    (views.values.toSeq, locks.values.toSeq)
  }

  /** True when enough un-folded entries have accumulated that the next
    * mutex holder should fold a checkpoint in.
    */
  def compactionDue(): Boolean = {
    val wm = readLatestSnapshot().map(_._2.laneSeqs).getOrElse(Map.empty[String, Long])
    pendingEntries(wm).size >= compactThreshold
  }

  /** Un-folded entry count observed by the LAST fold (replay or
    * checkpoint) — lets a poll loop that just resynced decide
    * compaction without paying [[compactionDue]]'s second lane listing
    * and snapshot read per round.
    */
  def pendingSinceLastFold: Int = lastPendingCount
  @volatile private var lastPendingCount: Int = 0

  // ------------------------------------------------------------------
  // File plumbing

  private def lanePath(lane: Path, s: Long): Path = new Path(lane, f"$s%020d.json")

  private def laneEntrySeqs(lane: Path): Seq[Long] =
    if (!fs.exists(lane)) Nil
    else fs.listStatus(lane).toSeq.map(_.getPath.getName)
      .collect { case EntryName(d) => d.toLong }.sorted

  private def snapshotPath(n: Long): Path = new Path(dir, f"$SnapshotPrefix$n%020d.json")

  private def snapshotSeqs(): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case SnapshotName(d) => d.toLong }.sorted

  private def readLatestSnapshot(): Option[(Long, SharedSnapshot)] =
    snapshotSeqs().lastOption.flatMap(n =>
      readJson[SharedSnapshot](snapshotPath(n)).map(n -> _))

  /** A concurrently-GC'd entry (checkpointer folded it mid-listing)
    * reads as absent, which is correct — its effect is in the snapshot.
    */
  private def readJson[T](path: Path)(implicit ct: scala.reflect.ClassTag[T]): Option[T] =
    try {
      val in = fs.open(path)
      try Some(mapper.readValue(org.apache.commons.io.IOUtils.toByteArray(in),
        ct.runtimeClass.asInstanceOf[Class[T]]))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
}

object SharedJournal {
  val DefaultCompactThreshold = 64
  private val MutexPrefix = "_mutex-"
  private val SnapshotPrefix = "snapshot-"
  private val EntryName = """(\d{20})\.json""".r
  private val SnapshotName = """snapshot-(\d{20})\.json""".r

  // contentAs: the map's value type is erased, so without it Jackson
  // materializes small values as Integer and the first .toLong use
  // throws ClassCastException
  /** `maxAt`: highest Lamport stamp folded — a joining writer resumes
    * its logical clock past everything the snapshot absorbed.
    */
  final case class SharedSnapshot(
      views: Array[ControlJournal.JView],
      locks: Array[ControlJournal.JLock],
      @com.fasterxml.jackson.databind.annotation.JsonDeserialize(
        contentAs = classOf[java.lang.Long])
      laneSeqs: Map[String, Long],
      maxAt: Long = 0L)

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }
}
