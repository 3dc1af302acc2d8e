package graft.store

import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Durable control-plane journal for the streaming layer's `views` /
  * `locks` state (reference schema.sql:157-200, 436-468).
  *
  * The reference gets durability for free: every ACK/lease mutation is
  * one PostgreSQL transaction against the `locks` table. Here the
  * control plane is driver-resident keyed state (ViewStreams), so a
  * crash between explicit `save()` snapshots used to rewind consumer
  * offsets. This class closes that gap with the classic WAL shape:
  *
  *  - **One journal entry per mutation**, written as an atomically
  *    created file (`<seq>.json`, zero-padded for lexicographic order;
  *    write-to-temp + rename). No append semantics required, so the
  *    layout works on object stores as well as local/HDFS paths.
  *  - **Replay on open**: fold the latest snapshot plus all later
  *    entries, in sequence order, back into the keyed state. Entries
  *    carry the RESULTING rows (upsert semantics), so replay is a pure
  *    fold — it never re-runs Spark jobs and cannot diverge from the
  *    state the writer observed.
  *  - **Checkpoint**: `snapshot-<seq>.json` supersedes all entries
  *    `<= seq`; older files are deleted. Journal growth is bounded by
  *    mutation rate between checkpoints, and `ViewStreams.save` folds
  *    a checkpoint in.
  *  - **Single-writer fencing**: epoch-numbered lease files
  *    (`_owner-<epoch>`, owner id + expiry inside) enforce the
  *    one-writer-per-journal rule the reference expresses with row
  *    locks (`FOR UPDATE SKIP LOCKED`, schema.sql:411). The live owner
  *    is the HIGHEST epoch; claiming writes `_owner-<epoch+1>` with an
  *    atomic create-exclusive (hard-link publish on local paths,
  *    `create(overwrite=false)` on HDFS-like stores), so when two
  *    takeover candidates race past the expired-lease check exactly
  *    one wins the epoch file and the loser throws — there is no
  *    write-then-read-back window in which both can believe they own
  *    the journal, and no delete in the claim path that could nuke a
  *    rival's fresh claim. The lease refreshes on append once past its
  *    half-life by rewriting the owned epoch file (which no rival ever
  *    writes — a usurper creates the NEXT epoch); a refresh that
  *    discovers a higher epoch throws — the writer knows it has been
  *    fenced.
  *
  * Scale note (100 TB deployment): the journal is control-plane-sized —
  * entries are O(locks touched per mutation), the same rows the
  * reference writes per transaction. One small file per ACK is the
  * file-system analogue of one WAL record per transaction; group
  * commit (batching several ACKs into one entry) is a drop-in
  * extension since `append` already takes a batch of lock rows.
  */
final class ControlJournal(dirStr: String,
                           conf: Configuration,
                           val ownerId: String,
                           clock: () => Timestamp,
                           leaseMs: Long = 60000L) {
  import ControlJournal._

  private val dir = new Path(dirStr)
  private val fs = FileSystem.get(dir.toUri, conf)
  private var seq: Long = 0L

  // ------------------------------------------------------------------
  // Ownership lease — the shared epoch-file scheme ([[EpochClaim]]);
  // a pre-epoch journal's legacy `_owner` file reads as epoch 0.

  private val lease = new EpochClaim(dir, fs, ownerId, clock, leaseMs,
    prefix = OwnerPrefix, legacyName = Some(LegacyOwnerFile))

  /** Acquire the writer lease, or throw [[OwnershipHeldException]] if a
    * different live owner holds it (see [[EpochClaim.acquire]] — an
    * expired lease is taken over atomically). Also positions `seq`
    * after the last existing entry so appends continue the sequence.
    */
  def acquire(): Unit = {
    lease.acquire()
    seq = math.max(latestSnapshotSeq(), listEntrySeqs().lastOption.getOrElse(0L))
  }

  /** Release the lease (clean shutdown). Safe to call when not held. */
  def release(): Unit = lease.release()

  // ------------------------------------------------------------------
  // Append / replay / checkpoint

  /** Durably record one mutation. Called inside the owner's
    * control-plane critical section, so `seq` needs no extra lock.
    */
  def append(rec: Record): Unit = {
    lease.refresh()
    seq += 1
    atomicWrite(entryPath(seq), mapper.writeValueAsBytes(
      if (rec.at == 0L) rec.copy(at = clock().getTime) else rec))
  }

  /** Fold snapshot + later entries into the final (views, locks). */
  def replay(): (Seq[ViewRegistration], Seq[LockRow]) = {
    val views = scala.collection.mutable.LinkedHashMap.empty[String, ViewRegistration]
    val locks = scala.collection.mutable.LinkedHashMap.empty[(String, String), LockRow]
    val snapSeq = latestSnapshotSeq()
    if (snapSeq > 0L) {
      val snap = readJson[Snapshot](new Path(dir, f"$SnapshotPrefix$snapSeq%020d.json"))
      snap.views.foreach(v => views(v.view) = v.toRow)
      snap.locks.foreach(l => locks((l.view, l.decider_id)) = l.toRow)
    }
    listEntrySeqs().filter(_ > snapSeq).foreach { s =>
      applyRecord(views, locks, readJson[Record](entryPath(s)))
    }
    (views.values.toSeq, locks.values.toSeq)
  }

  /** Write a snapshot at the current sequence position and delete the
    * entries (and older snapshots) it supersedes.
    */
  def checkpoint(views: Seq[ViewRegistration], locks: Seq[LockRow]): Unit = {
    lease.refresh()
    val snap = Snapshot(views.map(JView.of).toArray, locks.map(JLock.of).toArray)
    atomicWrite(new Path(dir, f"$SnapshotPrefix$seq%020d.json"),
      mapper.writeValueAsBytes(snap))
    listEntrySeqs().filter(_ <= seq).foreach(s => fs.delete(entryPath(s), false))
    snapshotSeqs().filter(_ < seq).foreach(s =>
      fs.delete(new Path(dir, f"$SnapshotPrefix$s%020d.json"), false))
  }

  // ------------------------------------------------------------------
  // File plumbing

  private def entryPath(s: Long): Path = new Path(dir, f"$s%020d.json")

  private def listEntrySeqs(): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case EntryName(d) => d.toLong }.sorted

  private def snapshotSeqs(): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case SnapshotName(d) => d.toLong }.sorted

  private def latestSnapshotSeq(): Long = snapshotSeqs().lastOption.getOrElse(0L)

  private def atomicWrite(path: Path, bytes: Array[Byte]): Unit =
    AtomicFs.atomicWrite(fs, conf, path, bytes)

  private def readJson[T](path: Path)(implicit ct: scala.reflect.ClassTag[T]): T = {
    val in = fs.open(path)
    try mapper.readValue(org.apache.commons.io.IOUtils.toByteArray(in),
      ct.runtimeClass.asInstanceOf[Class[T]])
    finally in.close()
  }
}

object ControlJournal {
  final class OwnershipHeldException(msg: String) extends IllegalStateException(msg)

  private val LegacyOwnerFile = "_owner"
  private val OwnerPrefix = "_owner-"
  private val SnapshotPrefix = "snapshot-"
  private val EntryName = """(\d{20})\.json""".r
  private val SnapshotName = """snapshot-(\d{20})\.json""".r

  val OpViewUpsert = "view_upsert"
  val OpViewDelete = "view_delete"
  /** Clear a view's locks, then insert the given rows. */
  val OpLocksReplace = "locks_replace"
  val OpLocksUpsert = "locks_upsert"
  /** registerView as ONE record: upsert the view AND replace its lock
    * matrix — a crash can never replay the registration half-applied
    * (the reference runs it as one transaction, schema.sql:376-393).
    */
  val OpViewReplace = "view_replace"

  // Field-scoped lock mutations, designed so MERGED multi-writer lanes
  // ([[SharedJournal]]) fold conflict-free: head and ack advance
  // monotonically (max), lease/nack set only locked_until. A
  // single-writer journal folds them identically.

  /** Append fanout: advance the partition head (offset monotone max);
    * insert born-unlocked if absent.
    */
  val OpHead = "head"
  /** Lease acquisition: set locked_until (taken under the shared mutex
    * — cross-writer ordering is explicit).
    */
  val OpLease = "lease"
  /** ACK: advance last_offset (monotone max) and release the lease. */
  val OpAck = "ack"
  /** NACK / scheduled NACK: set locked_until only. */
  val OpNackUntil = "nack_until"

  /** Apply one record to the keyed state — the single replay semantics
    * shared by the single-writer journal and the merged multi-lane
    * fold.
    */
  private[store] def applyRecord(
      views: scala.collection.mutable.LinkedHashMap[String, ViewRegistration],
      locks: scala.collection.mutable.LinkedHashMap[(String, String), LockRow],
      rec: Record): Unit = rec.op match {
    case OpViewUpsert =>
      val v = rec.view.toRow; views(v.view) = v
    case OpViewDelete =>
      views.remove(rec.name)
      locks.filterInPlace { case ((v, _), _) => v != rec.name }
    case OpLocksReplace =>
      locks.filterInPlace { case ((v, _), _) => v != rec.name }
      rec.locks.foreach(l => locks((l.view, l.decider_id)) = l.toRow)
    case OpLocksUpsert =>
      rec.locks.foreach(l => locks((l.view, l.decider_id)) = l.toRow)
    case OpViewReplace =>
      val v = rec.view.toRow
      views(v.view) = v
      locks.filterInPlace { case ((view, _), _) => view != v.view }
      rec.locks.foreach(l => locks((l.view, l.decider_id)) = l.toRow)
    case OpHead =>
      rec.locks.foreach { jl =>
        val l = jl.toRow
        locks.get((l.view, l.decider_id)) match {
          case Some(cur) if l.offset > cur.offset =>
            locks((l.view, l.decider_id)) = cur.copy(offset = l.offset,
              offset_final = l.offset_final, updated_at = l.updated_at)
          case Some(_) => ()
          case None => locks((l.view, l.decider_id)) = l
        }
      }
    case OpLease | OpNackUntil =>
      rec.locks.foreach { jl =>
        val l = jl.toRow
        locks.get((l.view, l.decider_id)).foreach(cur =>
          locks((l.view, l.decider_id)) =
            cur.copy(locked_until = l.locked_until, updated_at = l.updated_at))
      }
    case OpAck =>
      rec.locks.foreach { jl =>
        val l = jl.toRow
        locks.get((l.view, l.decider_id)) match {
          case Some(cur) =>
            locks((l.view, l.decider_id)) = cur.copy(
              last_offset = math.max(cur.last_offset, l.last_offset),
              locked_until = l.locked_until, updated_at = l.updated_at)
          case None => locks((l.view, l.decider_id)) = l
        }
      }
    case other => throw new IllegalStateException(s"unknown journal op '$other'")
  }

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  /** JSON-stable mirrors of the model rows: timestamps as epoch millis,
    * options as nullable boxes, so the wire format is independent of
    * Jackson's java.sql.Timestamp handling.
    */
  final case class JView(view: String, start_at: Long, lock_timeout_s: Long,
                         pooling_delay_s: java.lang.Long, edge_function_url: String,
                         created_at: Long, updated_at: Long) {
    def toRow: ViewRegistration = ViewRegistration(view, new Timestamp(start_at),
      lock_timeout_s, Option(pooling_delay_s).map(_.longValue()),
      Option(edge_function_url), new Timestamp(created_at), new Timestamp(updated_at))
  }
  object JView {
    def of(v: ViewRegistration): JView = JView(v.view, v.start_at.getTime,
      v.lock_timeout_s, v.pooling_delay_s.map(Long.box).orNull,
      v.edge_function_url.orNull, v.created_at.getTime, v.updated_at.getTime)
  }

  final case class JLock(view: String, decider_id: String, offset: Long,
                         last_offset: Long, locked_until: Long, offset_final: Boolean,
                         created_at: Long, updated_at: Long) {
    def toRow: LockRow = LockRow(view, decider_id, offset, last_offset,
      new Timestamp(locked_until), offset_final,
      new Timestamp(created_at), new Timestamp(updated_at))
  }
  object JLock {
    def of(l: LockRow): JLock = JLock(l.view, l.decider_id, l.offset, l.last_offset,
      l.locked_until.getTime, l.offset_final, l.created_at.getTime, l.updated_at.getTime)
  }

  /** `at` (writer clock, epoch ms) orders entries ACROSS lanes in the
    * shared-journal merge; within one lane the sequence number rules.
    * Single-writer replay ignores it (0 in pre-epoch journal files).
    */
  final case class Record(op: String, name: String = null,
                          view: JView = null, locks: Array[JLock] = Array.empty,
                          at: Long = 0L)
  final case class Snapshot(views: Array[JView], locks: Array[JLock])
}
