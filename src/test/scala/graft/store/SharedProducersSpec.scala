package graft.store

import graft.SparkSpec
import java.nio.file.Files
import java.sql.Timestamp

/** Cross-process concurrent PRODUCERS on one event log (reference
  * schema.sql:23-26,44; tests/integration/concurrent-access/
  * test_concurrent_producers.sql): N writers append through per-writer
  * data files + a serialized commit sequence; two producers racing the
  * same stream head get exactly one winner, with the loser rejected by
  * the previous_id-uniqueness identity — PostgreSQL's UNIQUE
  * constraint, enforced at merge. Two SparkSessions stand in for two
  * processes (the SharedDeliverySpec convention: all state crosses
  * through the filesystem, nothing through shared JVM memory except
  * the SparkContext Spark itself shares).
  */
class SharedProducersSpec extends SparkSpec with graft.testkit.TestKitReported {

  private def in(id: String, prev: Option[String], part: String = "p1") =
    EventInput("E", id, "C", part, s"""{"id":"$id"}""", previous_id = prev)

  private def openLog(s: org.apache.spark.sql.SparkSession, dir: String,
                      writer: String, ttlMs: Long = 30000L): SharedLog = {
    val log = new SharedLog(s, dir, writer, mutexTtlMs = ttlMs)
    log.open()
    log
  }

  test("appends propagate across writers; chains continue; offsets and txns stay globally unique") {
    val dir = Files.createTempDirectory("graft-sharedlog").toString
    val a = openLog(spark, dir, "A")
    a.registerDeciderEvent("C", "E")
    var prev: Option[String] = None
    for (i <- 0 until 10) {
      val r = a.appendEvent(in(s"a$i", prev))
      assert(r.isRight, s"a$i rejected: $r")
      prev = Some(s"a$i")
    }

    // writer B joins from the shared truth alone
    val b = openLog(spark.newSession(), dir, "B")
    assert(b.allEvents.count() === 10L)
    assert(b.deciderRegistry.count() === 1L)
    // B continues A's chain
    assert(b.appendEvent(in("b10", Some("a9"))).isRight)
    // A discovers B's append by resync
    a.resync()
    val chain = a.getEvents("p1", "C").collect().toSeq
    assert(chain.map(_.event_id) ===
      (0 until 10).map(i => s"a$i") :+ "b10")
    assert(chain.map(_.offset) === (1L to 11L))
    // per-commit txn ids stay globally unique across writers (events
    // of ONE batch share a txn; here every append is its own batch)
    val txns = chain.map(_.transaction_id)
    assert(txns.distinct.size === 11, s"txn collision across writers: $txns")
  }

  test("same-head race: exactly one winner, loser rejected with the UNIQUE(previous_id) identity") {
    val dir = Files.createTempDirectory("graft-sharedlog-race").toString
    val a = openLog(spark, dir, "A")
    a.registerDeciderEvent("C", "E")
    assert(a.appendEvent(in("e0", None)).isRight)
    val b = openLog(spark.newSession(), dir, "B")

    // both observe head e0 and race to extend it: A commits first
    assert(a.appendEvent(in("a1", Some("e0"))).isRight)
    // B validates AFTER A's commit (serialized merge) and must see
    // previous_id=e0 already claimed
    val loser = b.appendEvent(in("b1", Some("e0")))
    assert(loser === Left(AppendError.DuplicatePreviousId("b1")))
    // no lost commits, no torn state: both replicas agree
    b.resync()
    assert(b.getEvents("p1", "C").collect().map(_.event_id).toSeq === Seq("e0", "a1"))
  }

  test("two writers hammering one stream concurrently: linear chain, every event on both replicas") {
    val dir = Files.createTempDirectory("graft-sharedlog-hammer").toString
    val a = openLog(spark, dir, "A")
    a.registerDeciderEvent("C", "E")
    val b = openLog(spark.newSession(), dir, "B")
    b.resync()

    val rounds = 12
    def hammer(log: SharedLog, tag: String): (Int, Int) = {
      var won = 0; var lost = 0
      for (i <- 0 until rounds) {
        log.resync()
        val head = log.getLastEvent("p1").map(_.event_id)
        log.appendEvent(in(s"$tag$i", head)) match {
          case Right(_) => won += 1
          case Left(_: AppendError.DuplicatePreviousId) => lost += 1
          case Left(_: AppendError.NullPreviousOnNonFirst) => lost += 1
          case Left(e) => fail(s"unexpected rejection identity: $e")
        }
      }
      (won, lost)
    }
    val fa = scala.concurrent.Future(hammer(a, "a"))(scala.concurrent.ExecutionContext.global)
    val fb = scala.concurrent.Future(hammer(b, "b"))(scala.concurrent.ExecutionContext.global)
    val (wa, la) = scala.concurrent.Await.result(fa, scala.concurrent.duration.Duration(300, "s"))
    val (wb, lb) = scala.concurrent.Await.result(fb, scala.concurrent.duration.Duration(300, "s"))
    assert(wa + la === rounds && wb + lb === rounds)
    assert(wa + wb >= 1)

    a.resync(); b.resync()
    val chainA = a.getEvents("p1", "C").collect().toSeq
    val chainB = b.getEvents("p1", "C").collect().toSeq
    // no lost commits: every accepted append is on both replicas
    assert(chainA.map(_.event_id) === chainB.map(_.event_id))
    assert(chainA.size === wa + wb, "accepted appends must equal the merged chain length")
    // the merged chain is LINEAR: each event claims exactly the prior one
    assert(chainA.head.previous_id.isEmpty)
    for (Seq(x, y) <- chainA.sliding(2))
      assert(y.previous_id.contains(x.event_id),
        s"chain broken at ${y.event_id} (prev ${y.previous_id})")
    // offsets are the global sequence with no gaps or dups
    assert(chainA.map(_.offset) === (1L to chainA.size.toLong))
  }

  test("crashed producer mid-mutex: TTL expiry lets the survivor commit") {
    val dir = Files.createTempDirectory("graft-sharedlog-crash").toString
    val t0 = 1700000000000L
    var nowMs = t0
    val clock = () => new Timestamp(nowMs)
    val a = openLog(spark, dir, "A", ttlMs = 5000L)
    a.now = clock
    a.registerDeciderEvent("C", "E")
    assert(a.appendEvent(in("e0", None)).isRight)

    // a third producer claims the commit mutex and dies holding it
    val fsm = new EpochClaim(new org.apache.hadoop.fs.Path(dir),
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
        spark.sparkContext.hadoopConfiguration),
      "crasher", clock, 5000L, "_logmutex-")
    fsm.lock() // never released

    // past the TTL the survivor's claim loop takes the dead holder's
    // mutex over and the log advances (the blocked-before-expiry phase
    // is EpochClaim.lock — not awaited here, it would just spin)
    nowMs = t0 + 5001L
    val b = openLog(spark.newSession(), dir, "B", ttlMs = 5000L)
    b.now = clock
    assert(b.appendEvent(in("b1", Some("e0"))).isRight)
    assert(b.getEvents("p1", "C").count() === 2L)
  }

  test("compact + vacuum + fresh open: base carries events and registry; chain continues") {
    val dir = Files.createTempDirectory("graft-sharedlog-compact").toString
    val a = openLog(spark, dir, "A")
    a.registerDeciderEvent("C", "E")
    var prev: Option[String] = None
    for (i <- 0 until 8) {
      assert(a.appendEvent(in(s"e$i", prev)).isRight)
      prev = Some(s"e$i")
    }
    a.compact()
    a.vacuum()

    // a fresh writer must reconstruct everything from the base alone
    val c = openLog(spark.newSession(), dir, "C2")
    assert(c.allEvents.count() === 8L)
    assert(c.deciderRegistry.collect().map(_.decider).toSeq === Seq("C"))
    assert(c.appendEvent(in("e8", Some("e7"))).isRight)
    assert(c.maxOffset() === 9L)
    // txn ids stay unique THROUGH the base fold (the counter re-seats
    // from the data, not the folded commit count)
    val txns = c.allEvents.collect().map(_.transaction_id).toSeq
    assert(txns.distinct.size === txns.size, s"txn collision after compact: $txns")

    // the original writer keeps working after the vacuum too
    a.resync()
    assert(a.allEvents.count() === 9L)
  }

  test("property: random interleaved append/compact/vacuum/reopen schedules keep replicas identical") {
    for (seed <- Seq(11, 47, 203)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft-sharedlog-prop$seed").toString
      var a = openLog(spark, dir, "A")
      a.registerDeciderEvent("C", "E")
      var b = openLog(spark.newSession(), dir, "B")
      var nextId = 0
      val streams = Seq("p0", "p1", "p2")
      var accepted = 0

      for (step <- 0 until 24) {
        val (w, tag) = if (rnd.nextBoolean()) (a, "A") else (b, "B")
        rnd.nextInt(10) match {
          case n if n < 6 => // append to a random stream, chaining its observed head
            w.resync()
            val s0 = streams(rnd.nextInt(streams.size))
            val head = w.getLastEvent(s0).map(_.event_id)
            val id = s"$tag-$nextId"; nextId += 1
            w.appendEvent(in(id, head, part = s0)) match {
              case Right(_) => accepted += 1
              case Left(_: AppendError.DuplicatePreviousId) => ()
              case Left(_: AppendError.NullPreviousOnNonFirst) => ()
              case Left(e) => fail(s"seed $seed step $step: unexpected $e")
            }
          case 6 | 7 => w.resync()
          case 8 => w.compact()
          case 9 =>
            // vacuum after compact retires history under the OTHER
            // writer; its next resync must recover by rebuild
            w.compact(); w.vacuum()
        }
        // occasionally a writer "restarts": a fresh instance, same id,
        // must reconstruct its state from the shared truth alone
        if (rnd.nextInt(8) == 0) {
          if (w eq a) a = openLog(spark, dir, "A")
          else b = openLog(spark.newSession(), dir, "B")
        }
      }

      a.resync(); b.resync()
      val evA = a.allEvents.collect().sortBy(_.offset)
      val evB = b.allEvents.collect().sortBy(_.offset)
      assert(evA.map(e => (e.event_id, e.offset)).toSeq ===
        evB.map(e => (e.event_id, e.offset)).toSeq,
        s"seed $seed: replicas diverged")
      assert(evA.length === accepted, s"seed $seed: lost or duplicated commits")
      assert(evA.map(_.offset).toSeq === (1L to accepted.toLong),
        s"seed $seed: offset gaps")
      for (s0 <- streams) {
        val chain = a.getEvents(s0, "C").collect().toSeq
        if (chain.nonEmpty) {
          assert(chain.head.previous_id.isEmpty, s"seed $seed $s0: broken root")
          for (Seq(x, y) <- chain.sliding(2))
            assert(y.previous_id.contains(x.event_id),
              s"seed $seed $s0: chain broken at ${y.event_id}")
        }
      }
    }
  }

  test("lost publish race: the commit fanout must NOT fire for a batch the rebuild discards") {
    // The ADVICE-flagged lost-delivery path: A's mutex TTL expires
    // mid-commit, rival B publishes A's seq first, A's publish hits the
    // create-exclusive wall and rebuild() discards A's batch. If the
    // onCommit fanout had already fired (pre-round-9 behavior: inside
    // store.append, BEFORE publish), a drain thread could lease phantom
    // events at offsets B's different events now occupy. The fanout
    // must fire only after publish succeeds.
    val dir = Files.createTempDirectory("graft-sharedlog-phantom").toString
    val t0 = 1700000000000L
    var nowMs = t0
    val a = openLog(spark, dir, "A", ttlMs = 5000L)
    a.now = () => new Timestamp(nowMs)
    a.registerDeciderEvent("C", "E")
    assert(a.appendEvent(in("e0", None)).isRight)

    val b = openLog(spark.newSession(), dir, "B", ttlMs = 5000L)
    b.now = () => new Timestamp(nowMs)

    val fanout = scala.collection.mutable.ArrayBuffer.empty[String]
    a.eventStore.onCommit = rows => fanout ++= rows.map(_.event_id)

    // Deterministic mid-commit theft, driven through A's injectable
    // clock: armed call #1 is mutex.acquire (A claims at t0 expiring
    // t0+5000); call #2 is store.append's created_at — there, expire
    // A's claim and let B race the same head e0 to a published commit.
    var armedCalls = 0
    a.now = () => {
      armedCalls += 1
      if (armedCalls == 2) {
        nowMs += 5001L // A's claim is now expired
        assert(b.appendEvent(in("b1", Some("e0"))).isRight,
          "rival B must win the stolen-mutex commit")
      }
      new Timestamp(nowMs)
    }

    intercept[ControlJournal.OwnershipHeldException] {
      a.appendEvent(in("a1", Some("e0")))
    }
    assert(!fanout.contains("a1"),
      s"fanout fired for the discarded batch (phantom delivery): $fanout")
    // A rebuilt from the shared truth: B's event is the chain, A's is
    // gone, and the carried-over hook saw b1 through the refold
    val chain = a.getEvents("p1", "C").collect().map(_.event_id).toSeq
    assert(chain === Seq("e0", "b1"), s"A's replica after lost race: $chain")
    assert(fanout.contains("b1"),
      "the carried-over hook must keep firing for commits folded after rebuild")
    // and A can keep appending (fresh chain head observed)
    assert(a.appendEvent(in("a2", Some("b1"))).isRight)
    assert(fanout.contains("a2"), "post-publish fanout must fire for won commits")
  }

  test("property: two writers + one lagging reader under compact/vacuum — no phantom, no lost commit") {
    // The r8 single-lifecycle property caught a real lost-commit bug;
    // this interleaves the exact class it hit (a reader lagging across
    // a vacuumed compact) with TWO live writers: every snapshot the
    // reader ever observes must be a subset of the final shared truth
    // (no phantoms), and its final resync must converge to it exactly
    // (no losses).
    for (seed <- Seq(19, 101, 787)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft-sharedlog-lag$seed").toString
      val a = openLog(spark, dir, "A")
      a.registerDeciderEvent("C", "E")
      val b = openLog(spark.newSession(), dir, "B")
      var r = openLog(spark.newSession(), dir, "R") // reader: never appends
      val streams = Seq("p0", "p1")
      var nextId = 0
      var accepted = 0
      val snapshots = scala.collection.mutable.ArrayBuffer.empty[Set[(String, Long)]]

      for (step <- 0 until 24) {
        val (w, tag) = if (rnd.nextBoolean()) (a, "A") else (b, "B")
        rnd.nextInt(10) match {
          case n if n < 5 =>
            w.resync()
            val s0 = streams(rnd.nextInt(streams.size))
            val head = w.getLastEvent(s0).map(_.event_id)
            val id = s"$tag-$nextId"; nextId += 1
            w.appendEvent(in(id, head, part = s0)) match {
              case Right(_) => accepted += 1
              case Left(_: AppendError.DuplicatePreviousId) => ()
              case Left(_: AppendError.NullPreviousOnNonFirst) => ()
              case Left(e) => fail(s"seed $seed step $step: unexpected $e")
            }
          case 5 | 6 => w.compact()
          case 7 => w.compact(); w.vacuum()
          case 8 =>
            // the reader resyncs only here — it LAGS, and when a vacuum
            // passed its position this resync takes the rebuild path
            r.resync()
            snapshots += r.allEvents.collect().map(e => (e.event_id, e.offset)).toSet
          case 9 =>
            // reader restart: reconstructs from the shared truth alone
            r = openLog(spark.newSession(), dir, "R")
            snapshots += r.allEvents.collect().map(e => (e.event_id, e.offset)).toSet
        }
      }

      a.resync(); r.resync()
      val truth = a.allEvents.collect().map(e => (e.event_id, e.offset)).toSet
      assert(truth.size === accepted, s"seed $seed: lost or duplicated commits")
      for ((snap, i) <- snapshots.zipWithIndex)
        assert(snap.subsetOf(truth),
          s"seed $seed snapshot $i: reader observed phantom rows ${snap -- truth}")
      val got = r.allEvents.collect().map(e => (e.event_id, e.offset)).toSet
      assert(got === truth, s"seed $seed: lagging reader diverged after final resync")
    }
  }

  test("end-to-end cross-process pipeline: SharedLog producers feed SharedJournal consumers") {
    // process P: producer appending through the shared commit log;
    // processes C1/C2: consumers on their own SparkSessions sharing one
    // view's partitions — every boundary crossed through the filesystem
    val logDir = Files.createTempDirectory("graft-e2e-log").toString
    val jDir = Files.createTempDirectory("graft-e2e-j").toString
    val t0 = 1700000000000L
    val clock = () => new Timestamp(t0)

    val p = openLog(spark, logDir, "P")
    p.now = clock
    p.registerDeciderEvent("C", "E")
    p.append((0 until 6).map(i => in(s"e$i-0", None, part = s"p$i")))

    def consumer(name: String): (SharedLog, ViewStreams) = {
      val session = spark.newSession()
      val log = openLog(session, logDir, name)
      log.now = clock
      // the consumer's ViewStreams rides the SharedLog's local replica:
      // resync folds rival commits via commitBulk, whose head fanout
      // (M1) updates this consumer's lock matrix through the shared
      // journal — the cross-process append trigger
      val vs = new ViewStreams(log.eventStore)
      vs.openSharedJournal(jDir, ownerId = name)
      (log, vs)
    }

    val (logA, vsA) = consumer("CA")
    vsA.registerView("v", startAt = Some(new Timestamp(0L)))
    logA.resync() // folds P's commits; fanout populates the view heads
    val (logB, vsB) = consumer("CB")
    logB.resync()

    val gotA = vsA.streamEvents("v", limit = 3, seconds = 300)
    val gotB = vsB.streamEvents("v", limit = 3, seconds = 300)
    assert(gotA.size === 3 && gotB.size === 3)
    val partsA = gotA.map(_.decider_id).toSet
    val partsB = gotB.map(_.decider_id).toSet
    assert((partsA & partsB).isEmpty, s"double delivery: ${partsA & partsB}")
    assert(partsA ++ partsB === (0 until 6).map(i => s"p$i").toSet)

    // the producer keeps appending; both consumers see round 2 after
    // ack + resync — the full pipeline loops
    vsA.ackBatch("v", gotA.map(e => (e.decider_id, e.offset)))
    vsB.ackBatch("v", gotB.map(e => (e.decider_id, e.offset)))
    p.append((0 until 6).map(i => in(s"e$i-1", Some(s"e$i-0"), part = s"p$i")))
    logA.resync(); logB.resync()
    val round2 = vsA.streamEvents("v", limit = 6, seconds = 300) ++
      vsB.streamEvents("v", limit = 6, seconds = 300)
    assert(round2.map(_.event_id).toSet === (0 until 6).map(i => s"e$i-1").toSet)
  }
}
