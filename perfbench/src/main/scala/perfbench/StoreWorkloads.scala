package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import graft.store._
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Seeded inputs of the store workloads: Zipf-skewed stream keys, an
  * append mix of single events and 50-event batches, and payloads of
  * 64 B to 1 KB.
  */
final class Gen(seed: Long, val streams: Int, stream: Int = 0) {
  val Decider = "Account"
  val Event = "Changed"
  val keys: IndexedSeq[String] = {
    val r = new scala.util.Random(seed)
    (0 until streams).map(_ => f"acct-${r.nextLong()}%016x")
  }
  /** Source of everything else; producer `stream` gets its own, so
    * inputs do not depend on thread interleaving.
    */
  val rnd = new scala.util.Random(seed * 1000003L + stream)
  /** Zipf(s = 1) cumulative weights over `keys`. */
  private val cdf: Array[Double] = {
    val w = (1 to streams).map(1.0 / _)
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private val ids = new AtomicLong(0L)

  private def zipfIndex(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, streams - 1)
  }

  def zipfKey(): String = keys(zipfIndex())

  /** A Zipf-drawn stream among the `hottest` keys (`hot`) or among the
    * rest.
    */
  def zipfKey(hot: Boolean, hottest: Int): String = {
    var i = zipfIndex()
    while ((i < hottest) != hot) i = zipfIndex()
    keys(i)
  }

  def payload(n: Long, max: Int = 1024): String = {
    val size = 64 + rnd.nextInt(max - 64 + 1)
    val pad = size - 20
    val b = new StringBuilder(s"""{"n":$n,"pad":"""")
    (0 until math.max(1, pad)).foreach(_ => b += ('a' + rnd.nextInt(26)).toChar)
    b ++= "\"}"
    b.toString
  }

  def nextId(prefix: String): String = s"$prefix$stream-$seed-${ids.incrementAndGet()}"

  /** One append call of `n` events on `n` distinct Zipf-chosen streams
    * (so a batch's drain takes a fixed number of poll rounds). `heads` is
    * the caller's view of each stream's last event id; it is advanced as
    * events are made.
    */
  def op(n: Int, heads: mutable.Map[String, String]): Seq[EventInput] = {
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < n) picked += zipfKey()
    events(picked.toSeq, heads)
  }

  def events(streamKeys: Seq[String], heads: mutable.Map[String, String]): Seq[EventInput] =
    streamKeys.map { k =>
      val id = nextId("w")
      val e = EventInput(Event, id, Decider, k, payload(ids.get), previous_id = heads.get(k))
      heads(k) = id
      e
    }
}

/** A delivery as the consumer saw it. `leasedAt` is when the poll
  * returned, `releasedAt` when the ACK was sent: the stream's lease is
  * held at least over that interval.
  */
final case class Delivery(consumer: Int, streamKey: String, offset: Long, eventId: String,
                          leasedAt: Long, releasedAt: Long)

/** Per-call timings of a measured window: append calls (ms from their
  * scheduled send), delivery lag per event, generator lateness, and the
  * durations of the calls into each store layer.
  */
final case class Timings(opMs: Seq[Double], lagMs: Seq[Double], latenessMs: Seq[Double],
                         calls: Map[String, Seq[Double]])

final case class PhaseResult(calls: Long, events: Long)

/** Paced sending: `rate` calls per second over all producers, each sent
  * at its scheduled time, for `seconds` (an open loop).
  */
final case class Pace(rate: Double, seconds: Int)

/** The correctness gate's tally. */
final case class Gate(attempted: Long, failed: Long, problems: Seq[String])

/** One producer: an append call, and a fresh read of a stream's head
  * after a head race.
  */
trait Producer {
  def append(batch: Seq[EventInput]): AppendResult
  def head(streamKey: String): Option[String]
}

/** One consumer: a poll (with whatever re-sync it needs) and an ACK. */
trait Consumer {
  def poll(): Seq[EventRow]
  def ack(rows: Seq[EventRow]): Unit
}

/** A store deployment after set-up: its producers and consumers, and the
  * reads the correctness gate makes.
  */
trait StoreSystem {
  def producers: Seq[Producer]
  def consumers: Seq[Consumer]
  def readable(streamKey: String): Seq[String]
  def liveDigest(): (Long, String)
  def reloadDigest(): (Long, String)
}

/** Per-call durations (ms) by layer name; appended by any thread. */
final class Calls {
  private val m = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]()
  def add(layer: String, ms: Double): Unit =
    m.computeIfAbsent(layer, _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(ms)
  def get(layer: String): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    Option(m.get(layer)).map(_.asScala.toSeq).getOrElse(Nil)
  }
  def clear(): Unit = m.clear()
}

/** Run-wide bookkeeping shared by producer and consumer threads. */
final class State {
  val scheduled = new ConcurrentHashMap[String, java.lang.Long]()
  val accepted = new ConcurrentHashMap[String, java.lang.Long]()
  val firstDelivery = new ConcurrentHashMap[String, java.lang.Long]()
  val deliveries = new java.util.concurrent.ConcurrentLinkedQueue[Delivery]()
  /** Accepted event ids by stream. */
  val byStream = new ConcurrentHashMap[String, java.util.List[String]]()
  val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val opsAttempted = new AtomicLong(); val opsFailed = new AtomicLong()
  val polls = new AtomicLong(); val pollsAttempted = new AtomicLong(); val pollsFailed = new AtomicLong()
  val emptyPolls = new AtomicLong(); val polledEvents = new AtomicLong()
  val conflicts = new AtomicLong(); val appendsDone = new AtomicLong()
  val calls = new Calls
  private val opMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val latenessMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  @volatile private var timingFrom = 0L

  def acceptedIn(k: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Option(byStream.get(k)).map(_.asScala.toSeq).getOrElse(Nil)
  }
  def noteAccepted(rows: Seq[EventRow]): Unit = rows.foreach { r =>
    accepted.put(r.event_id, r.offset)
    byStream.computeIfAbsent(r.decider_id,
      _ => java.util.Collections.synchronizedList(new java.util.ArrayList[String]())).add(r.event_id)
  }
  def noteOp(scheduledNs: Long, sentNs: Long, doneNs: Long): Unit = {
    opMs.add((doneNs - scheduledNs) / 1e6); latenessMs.add((sentNs - scheduledNs) / 1e6)
  }
  /** Start a measured window: timings, call durations and poll/append
    * counters restart; delivery lags count only events scheduled from now.
    */
  def resetTimings(): Unit = {
    opMs.clear(); latenessMs.clear(); calls.clear()
    polls.set(0); emptyPolls.set(0); polledEvents.set(0); conflicts.set(0); appendsDone.set(0)
    timingFrom = System.nanoTime()
  }
  def snapshot(): Timings = {
    import scala.jdk.CollectionConverters._
    val lag = firstDelivery.asScala.toSeq.flatMap { case (id, t) =>
      Option(scheduled.get(id)).filter(_ >= timingFrom).map(s => (t - s) / 1e6)
    }
    val names = Seq("store.EventStore.append", "store.EventStore.saveIncrement",
      "store.ViewStreams.streamEvents", "store.ViewStreams.ackBatch",
      "store.SharedLog.append", "store.SharedLog.resync")
    Timings(opMs.asScala.toSeq, lag, latenessMs.asScala.toSeq,
      names.map(n => n -> calls.get(n)).toMap)
  }
}

/** What the two store deployments share: timed calls into a layer, the
  * preload, the phase driver and the correctness gate.
  */
object StoreDriver {
  /** Time one call into a layer (per-call duration kept for the layer
    * metrics; span and Spark/fs attribution when traced).
    */
  def call[T](ctx: Ctx, st: State, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try Layers.within(ctx.spark, layer)(body)
    finally st.calls.add(layer, (System.nanoTime() - t0) / 1e6)
  }

  /** Preload log: `n` chained events spread evenly over the generator's
    * streams, created before the view starts.
    */
  def preload(gen: Gen, heads: mutable.Map[String, String], n: Int): Seq[EventInput] =
    (0 until n).map { i =>
      val k = gen.keys(i % gen.streams)
      val id = gen.nextId("p")
      val e = EventInput(gen.Event, id, gen.Decider, k, gen.payload(i, max = 128),
        previous_id = heads.get(k))
      heads(k) = id
      e
    }

  /** One generator per producer. Each producer knows the heads it has
    * seen, starting from the preload's; a rival's append makes that
    * knowledge stale, which is what produces real head races.
    */
  def producerGens(seed: Long, streams: Int, n: Int,
                   heads: mutable.Map[String, String]): Seq[(Gen, mutable.Map[String, String])] =
    (0 until n).map(p => (new Gen(seed, streams, p + 1), mutable.Map.empty[String, String] ++= heads))

  /** One phase. With a `pace`, producers send their share of its rate at
    * the scheduled times for its seconds (open loop); without, each
    * producer sends `nCalls` calls back to back. `batch` makes the i-th
    * call's events. Consumers poll in a closed loop until every accepted
    * event of the phase has been delivered.
    */
  def runPhase(sys: StoreSystem, gens: Seq[(Gen, mutable.Map[String, String])], st: State,
               pace: Option[Pace], nCalls: Int,
               batch: (Gen, mutable.Map[String, String], Long) => Seq[EventInput]): PhaseResult = {
    val nP = sys.producers.size
    val start = System.nanoTime() + 20000000L
    val end = start + pace.map(_.seconds * 1000000000L).getOrElse(0L)
    val producersDone = new AtomicBoolean(false)
    val sent = new AtomicLong(); val evs = new AtomicLong()
    val phaseIds = ConcurrentHashMap.newKeySet[String]()
    val interval = pace.map(p => (nP * 1e9 / p.rate).toLong).getOrElse(0L)
    val producerThreads = sys.producers.zipWithIndex.map { case (prod, p) =>
      val (gen, heads) = gens(p)
      new Thread(() => {
        var i = 0L
        val offset = p * interval / nP
        while (i < nCalls && (pace.isEmpty || start + offset + i * interval < end)) {
          val sched = if (pace.isDefined) start + offset + i * interval else System.nanoTime()
          val wait = sched - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val sentAt = System.nanoTime()
          val events = batch(gen, heads, i)
          events.foreach { e => st.scheduled.put(e.event_id, sched); phaseIds.add(e.event_id) }
          st.opsAttempted.incrementAndGet()
          try {
            appendWithRetry(st, prod, events)
            st.noteOp(sched, sentAt, System.nanoTime())
            evs.addAndGet(events.size)
          } catch { case e: Throwable =>
            st.opsFailed.incrementAndGet(); st.errors.add(s"append: ${e.toString.take(200)}")
          }
          i += 1; sent.incrementAndGet()
        }
      }, s"producer-$p")
    }
    val consumerThreads = sys.consumers.zipWithIndex.map { case (c, ci) =>
      new Thread(() => {
        import scala.jdk.CollectionConverters._
        def pending: Boolean =
          phaseIds.asScala.exists(id => st.accepted.containsKey(id) && !st.firstDelivery.containsKey(id))
        var deadline = Long.MaxValue
        var go = true
        while (go) {
          st.polls.incrementAndGet(); st.pollsAttempted.incrementAndGet()
          try {
            val got = c.poll()
            val t = System.nanoTime()
            st.polledEvents.addAndGet(got.size)
            if (got.isEmpty) { st.emptyPolls.incrementAndGet(); Thread.sleep(5) }
            else {
              got.foreach(r => st.firstDelivery.putIfAbsent(r.event_id, t))
              val released = System.nanoTime()
              c.ack(got)
              got.foreach(r => st.deliveries.add(Delivery(ci, r.decider_id, r.offset, r.event_id, t, released)))
            }
          } catch { case e: Throwable =>
            st.pollsFailed.incrementAndGet(); st.errors.add(s"poll: ${e.toString.take(200)}")
            Thread.sleep(50)
          }
          if (producersDone.get) {
            if (deadline == Long.MaxValue) deadline = System.nanoTime() + 60000000000L
            go = pending && System.nanoTime() < deadline
          }
        }
      }, s"consumer-$ci")
    }
    (producerThreads ++ consumerThreads).foreach(_.start())
    producerThreads.foreach(_.join())
    producersDone.set(true)
    consumerThreads.foreach(_.join())
    PhaseResult(sent.get, evs.get)
  }

  /** Append; after a lost head race, re-read the stream's head, re-chain
    * the rejected events and send them again (a conflict, not an error).
    */
  def appendWithRetry(st: State, prod: Producer, batch: Seq[EventInput]): Unit = {
    var pending = batch
    var attempt = 0
    while (pending.nonEmpty) {
      require(attempt < 8, s"append still rejected after $attempt attempts")
      val res = prod.append(pending)
      st.appendsDone.incrementAndGet()
      st.noteAccepted(res.accepted)
      if (res.rejected.isEmpty) pending = Nil
      else {
        res.rejected.foreach {
          case _: AppendError.DuplicatePreviousId | _: AppendError.PreviousNotInStream |
               _: AppendError.NullPreviousOnNonFirst => ()
          case other => throw new IllegalStateException(s"append rejected: ${other.message}")
        }
        st.conflicts.addAndGet(res.rejected.size)
        val rejectedIds = res.rejected.map(_.eventId).toSet
        val retry = pending.filter(e => rejectedIds(e.event_id))
        val fresh = mutable.Map.empty[String, Option[String]]
        pending = retry.map { e =>
          val prev = fresh.getOrElseUpdate(e.decider_id, prod.head(e.decider_id))
          fresh(e.decider_id) = Some(e.event_id)
          e.copy(previous_id = prev)
        }
      }
      attempt += 1
    }
  }

  /** The correctness gate, run outside the timed windows: failed calls,
    * committed events never delivered, streams delivered out of offset
    * order, a stream leased to two consumers at once, accepted events
    * missing from `getEvents` (four seeded streams), and a reloaded log
    * that differs from the live one.
    */
  def gate(seed: Long, st: State, sys: StoreSystem): Gate = {
    val problems = Seq.newBuilder[String]
    var attempted = st.opsAttempted.get + st.pollsAttempted.get
    var failed = st.opsFailed.get + st.pollsFailed.get
    st.errors.forEach(e => problems += e)
    val accepted = st.accepted.keySet().toArray(Array.empty[String]).toSet
    val lost = accepted.filterNot(st.firstDelivery.containsKey)
    if (lost.nonEmpty) {
      failed += lost.size; problems += s"${lost.size} committed events never delivered, e.g. ${lost.take(3)}"
    }
    val deliveries = st.deliveries.toArray(Array.empty[Delivery]).toSeq
    val byStream = deliveries.groupBy(_.streamKey)
    val disorder = byStream.count { case (_, ds) =>
      val firsts = ds.sortBy(_.leasedAt).map(_.offset).distinct
      firsts != firsts.sorted
    }
    if (disorder > 0) { failed += disorder; problems += s"$disorder streams delivered out of offset order" }
    val overlaps = byStream.values.map { ds =>
      ds.sortBy(_.leasedAt).sliding(2).count {
        case Seq(a, b) => a.consumer != b.consumer && b.leasedAt < a.releasedAt
        case _ => false
      }
    }.sum
    if (overlaps > 0) { failed += overlaps; problems += s"$overlaps deliveries leased one stream to two consumers" }
    attempted += deliveries.size
    val touched = st.byStream.keySet().toArray(Array.empty[String]).toSeq.sorted
    new scala.util.Random(seed).shuffle(touched).take(4).foreach { k =>
      attempted += 1
      val got = sys.readable(k).toSet
      val missing = st.acceptedIn(k).filterNot(got)
      if (missing.nonEmpty) {
        failed += 1; problems += s"getEvents($k) misses accepted events ${missing.take(3)}"
      }
    }
    attempted += 1
    val live = sys.liveDigest()
    val reloaded = sys.reloadDigest()
    if (live != reloaded) { failed += 1; problems += s"reloaded log differs: $reloaded vs live $live" }
    Gate(attempted, failed, problems.result())
  }

  def statsOf(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else Stats.pct(xs, p)

  def perCall(w: Window, t: Timings, layer: String, counter: String): Double = {
    val n = t.calls.getOrElse(layer, Nil).size
    if (n == 0) 0.0 else w.counter(s"$layer.$counter").toDouble / n
  }

  /** Append-call latency, delivery lag and error rate of a phase. */
  def phaseInfo(t: Timings, gate: Gate): Seq[Metric] = Seq(
    Metric("append_p50_ms", Stats.median(t.opMs), "ms", t.opMs.size),
    Metric("append_p90_ms", Stats.pct(t.opMs, 90), "ms", t.opMs.size),
    Metric("delivery_lag_p50_ms", Stats.median(t.lagMs), "ms", t.lagMs.size),
    Metric("delivery_lag_p90_ms", Stats.pct(t.lagMs, 90), "ms", t.lagMs.size),
    Metric("error_rate", gate.failed.toDouble / gate.attempted, "ratio", gate.attempted.toInt))

  /** (count, sum of 64-bit hashes of (event_id, offset, data)). */
  def digest(ds: org.apache.spark.sql.Dataset[EventRow]): (Long, String) = {
    val r = ds.toDF()
      .agg(count(lit(1)), sum(xxhash64(col("event_id"), col("offset"), col("data")).cast("decimal(38,0)")))
      .collect().head
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** `store_oltp` part: the single-writer store after a restart. One
  * producer and one consumer on a durable journal run a warm-up, a paced
  * phase of chained single appends (an incremental flush every
  * [[FlushEvery]] commits) and a burst of 50-event batches.
  */
object StoreOltp {
  import StoreDriver._
  val Name = "store_oltp"
  /** Paced append calls per second. */
  val Rate = 1.5
  /** The burst: `BurstCalls` calls of `BurstBatch` events, back to back. */
  val BurstCalls = 3
  val BurstBatch = 50
  val FlushEvery = 8
  val PreloadEvents = 2000
  val Streams = 200
  /** Streams the warm-up touches, hottest first: they are in the store's
    * hot-stream cache when timing starts; the others are not.
    */
  val WarmStreams = 100
  /** Every `ColdEvery`-th paced call appends to a stream outside the
    * warmed set; the others append to warmed streams.
    */
  val ColdEvery = 6

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new Gen(ctx.seed, Streams)
    val heads = mutable.Map.empty[String, String]
    val st = new State
    val dir = new java.io.File(ctx.workDir, "log").getAbsolutePath
    // the preload is a day old, so the view (registered "now") starts
    // after it
    val first = new EventStore(spark)
    first.now = () => new Timestamp(System.currentTimeMillis() - 86400000L)
    first.registerDeciderEvent(gen.Decider, gen.Event)
    val res = first.append(preload(gen, heads, PreloadEvents))
    require(res.rejected.isEmpty, s"preload rejected ${res.rejected.size} events")
    Log(s"$Name: preload appended")
    first.acquireLogWriter(dir, ownerId = "preload")
    first.save(dir)
    first.releaseLogWriter()

    // restart, three times (the last one is kept): reload into a fresh
    // store, re-arm the fast path, take the writer lease, open the
    // journal and register the view
    var kept: (EventStore, ViewStreams) = null
    val setupReps = (0 until 3).map { r =>
      if (kept != null) { kept._2.closeJournal(); kept._1.releaseLogWriter() }
      val (v, secs) = timed {
        val store = new EventStore(spark)
        store.load(dir)
        store.enableFastAppend()
        store.acquireLogWriter(dir, ownerId = s"writer-$r")
        val vs = new ViewStreams(store)
        vs.openJournal(new java.io.File(ctx.workDir, s"journal-$r").getAbsolutePath)
        vs.registerView("bench", startAt = Some(new Timestamp(System.currentTimeMillis())))
        (store, vs)
      }
      kept = v
      Log(s"$Name: restart $r took $secs s")
      secs
    }
    val (store, vs) = kept
    val sys = new StoreSystem {
      private var commits = 0
      val producers = Seq(new Producer {
        def append(batch: Seq[EventInput]): AppendResult = {
          val r = call(ctx, st, "store.EventStore.append")(store.append(batch))
          commits += 1
          if (commits % FlushEvery == 0)
            call(ctx, st, "store.EventStore.saveIncrement")(store.saveIncrement(dir))
          r
        }
        def head(k: String): Option[String] = store.getLastEvent(k).map(_.event_id)
      })
      val consumers = Seq(new Consumer {
        def poll(): Seq[EventRow] =
          call(ctx, st, "store.ViewStreams.streamEvents")(vs.streamEvents("bench", limit = 20))
        def ack(rows: Seq[EventRow]): Unit =
          call(ctx, st, "store.ViewStreams.ackBatch")(
            vs.ackBatch("bench", rows.map(r => (r.decider_id, r.offset))))
      })
      def readable(k: String): Seq[String] =
        store.getEvents(k, gen.Decider).collect().map(_.event_id).toSeq
      def liveDigest(): (Long, String) = digest(store.allEvents)
      def reloadDigest(): (Long, String) = {
        val fresh = new EventStore(spark)
        fresh.load(dir)
        digest(fresh.allEvents)
      }
    }
    val gens = producerGens(ctx.seed, Streams, 1, heads)

    Log(s"$Name: set-up done; warm-up")
    val warm = gen.keys.take(WarmStreams).grouped(50).toSeq
    runPhase(sys, gens, st, None, warm.size + 3,
      (g, h, i) => if (i < warm.size) g.events(warm(i.toInt), h) else g.op(1, h))
    store.saveIncrement(dir)

    Log(s"$Name: paced phase")
    st.resetTimings()
    val w = new Window(ctx)
    // a fixed share of the paced calls misses the warmed streams, so
    // every seed sends the same mix of fast-path and job-path appends
    val paced = runPhase(sys, gens, st, Some(Pace(Rate, ctx.seconds)), Int.MaxValue,
      (g, h, i) => g.events(Seq(g.zipfKey(hot = i % ColdEvery != ColdEvery - 1, WarmStreams)), h))
    w.close()
    val t = st.snapshot()
    val (polls, emptyPolls, polled) = (st.polls.get, st.emptyPolls.get, st.polledEvents.get)

    Log(s"$Name: burst phase")
    st.resetTimings()
    val (_, burstS) = timed(runPhase(sys, gens, st, None, BurstCalls, (g, h, _) => g.op(BurstBatch, h)))
    // burst events' lag runs from when their call was sent
    val burstLag = st.snapshot().lagMs
    val liveHeap = Stats.liveHeapMb()
    store.saveIncrement(dir)
    val (_, compactS) = timed(Layers.within(spark, "store.EventStore.compact")(store.compact(dir)))

    Log(s"$Name: correctness gate")
    val checked = gate(ctx.seed, st, sys)
    vs.closeJournal(); store.releaseLogWriter()

    val burstEvents = BurstCalls * BurstBatch
    val e2e = Seq(
      Metric("setup_s", ctx.sessionStartS + Stats.median(setupReps), "s", setupReps.size),
      // the paced phase's own figure: the burst is bounded by work_s
      Metric("latency_geomean_ms", Stats.geomean(t.lagMs), "ms", t.lagMs.size),
      Metric("work_s", burstS, "s", burstEvents),
      Metric("live_heap_mb", liveHeap, "MB"))
    val info = phaseInfo(t, checked) ++ Seq(
      Metric("burst_lag_geomean_ms", Stats.geomean(burstLag), "ms", burstLag.size),
      Metric("events_per_s", burstEvents / burstS, "events/s", burstEvents),
      Metric("paced_calls", paced.calls.toDouble, "count"),
      Metric("paced_events", paced.events.toDouble, "count"))
    val layers = if (!ctx.traced) Nil else {
      val app = t.calls.getOrElse("store.EventStore.append", Nil)
      val flush = t.calls.getOrElse("store.EventStore.saveIncrement", Nil)
      val poll = t.calls.getOrElse("store.ViewStreams.streamEvents", Nil)
      val ack = t.calls.getOrElse("store.ViewStreams.ackBatch", Nil)
      val perPoll = if (polls == 0) 0.0 else 1.0 / polls
      Seq(
        Metric("store.EventStore.append.p50_ms", statsOf(app, 50), "ms", app.size),
        Metric("store.EventStore.append.p90_ms", statsOf(app, 90), "ms", app.size),
        Metric("store.EventStore.append.jobs_per_call", perCall(w, t, "store.EventStore.append", "jobs"), "count"),
        Metric("store.EventStore.saveIncrement.p50_ms", statsOf(flush, 50), "ms", flush.size),
        Metric("store.EventStore.saveIncrement.files_per_call",
          perCall(w, t, "store.EventStore.saveIncrement", "fs_creates"), "count"),
        Metric("store.EventStore.compact.ms", compactS * 1000, "ms", 1),
        Metric("store.ViewStreams.streamEvents.p50_ms", statsOf(poll, 50), "ms", poll.size),
        Metric("store.ViewStreams.streamEvents.p90_ms", statsOf(poll, 90), "ms", poll.size),
        Metric("store.ViewStreams.streamEvents.jobs_per_call", perCall(w, t, "store.ViewStreams.streamEvents", "jobs"), "count"),
        Metric("store.ViewStreams.streamEvents.events_per_call", polled * perPoll, "count"),
        Metric("store.ViewStreams.streamEvents.empty_ratio", emptyPolls * perPoll, "ratio"),
        Metric("store.ViewStreams.streamEvents.fs_ops_per_call", perCall(w, t, "store.ViewStreams.streamEvents", "fs_ops"), "count"),
        Metric("store.ViewStreams.ackBatch.p50_ms", statsOf(ack, 50), "ms", ack.size),
        Metric("store.ViewStreams.ackBatch.fs_ops_per_call", perCall(w, t, "store.ViewStreams.ackBatch", "fs_ops"), "count"),
        Metric("generator.lateness_p90_ms", statsOf(t.latenessMs, 90), "ms", t.latenessMs.size)) ++
        w.common
    }
    Outcome(e2e, info, layers, checked.attempted, checked.failed, checked.problems)
  }
}

/** `store_shared` part: two producers, each its own [[SharedLog]] writer
  * on one directory, appending to overlapping streams (real head races),
  * and two consumers, each re-syncing its own replica and polling one
  * view through a shared journal. One back-to-back call of
  * [[BurstBatch]] events per producer.
  */
object StoreShared {
  import StoreDriver._
  val Name = "store_shared"
  val Producers = 2
  val BurstBatch = 5
  val PreloadEvents = 60
  val Streams = 200

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new Gen(ctx.seed, Streams)
    val heads = mutable.Map.empty[String, String]
    val st = new State
    val dir = new java.io.File(ctx.workDir, "shared-log").getAbsolutePath
    val journal = new java.io.File(ctx.workDir, "shared-journal").getAbsolutePath
    Log(s"$Name: preload")
    val pre = new SharedLog(spark, dir, "preload")
    pre.open()
    pre.registerDeciderEvent(gen.Decider, gen.Event)
    val res = pre.append(preload(gen, heads, PreloadEvents))
    require(res.rejected.isEmpty, s"preload rejected ${res.rejected.size} events")
    val writers = Seq("w1", "w2").map { id => val l = new SharedLog(spark, dir, id); l.open(); l }
    val replicas = Seq("r1", "r2").map { id => val l = new SharedLog(spark, dir, id); l.open(); l }
    val views = replicas.zipWithIndex.map { case (l, i) =>
      val vs = new ViewStreams(l.eventStore)
      vs.openSharedJournal(journal, ownerId = s"consumer-$i")
      vs
    }
    views.head.registerView("bench", startAt = Some(new Timestamp(System.currentTimeMillis())))
    val sys = new StoreSystem {
      val producers = writers.map { w =>
        new Producer {
          def append(batch: Seq[EventInput]): AppendResult =
            call(ctx, st, "store.SharedLog.append")(w.append(batch))
          def head(k: String): Option[String] = w.getLastEvent(k).map(_.event_id)
        }
      }
      val consumers = replicas.zip(views).map { case (l, vs) =>
        new Consumer {
          def poll(): Seq[EventRow] = {
            call(ctx, st, "store.SharedLog.resync")(l.resync())
            call(ctx, st, "store.ViewStreams.streamEvents")(vs.streamEvents("bench", limit = 10))
          }
          def ack(rows: Seq[EventRow]): Unit =
            call(ctx, st, "store.ViewStreams.ackBatch")(
              vs.ackBatch("bench", rows.map(r => (r.decider_id, r.offset))))
        }
      }
      def readable(k: String): Seq[String] = {
        writers.head.resync() // a replica sees rivals' commits only after a resync
        writers.head.getEvents(k, gen.Decider).collect().map(_.event_id).toSeq
      }
      def liveDigest(): (Long, String) = { writers.head.resync(); digest(writers.head.allEvents) }
      def reloadDigest(): (Long, String) = {
        val fresh = new SharedLog(spark, dir, "reload")
        fresh.open()
        digest(fresh.allEvents)
      }
    }

    Log(s"$Name: burst phase")
    st.resetTimings()
    val w = new Window(ctx)
    val (_, burstS) = timed(runPhase(sys, producerGens(ctx.seed, Streams, Producers, heads), st, None, 1,
      (g, h, _) => g.op(BurstBatch, h)))
    w.close()
    val t = st.snapshot()
    val (appends, conflicts) = (st.appendsDone.get, st.conflicts.get)

    Log(s"$Name: correctness gate")
    val checked = gate(ctx.seed, st, sys)
    views.foreach(_.closeSharedJournal())

    val burstEvents = Producers * BurstBatch
    val info = phaseInfo(t, checked) :+
      Metric("events_per_s", burstEvents / burstS, "events/s", burstEvents)
    val layers = if (!ctx.traced) Nil else {
      val app = t.calls.getOrElse("store.SharedLog.append", Nil)
      val resync = t.calls.getOrElse("store.SharedLog.resync", Nil)
      Seq(
        Metric("store.SharedLog.append.p50_ms", statsOf(app, 50), "ms", app.size),
        Metric("store.SharedLog.append.p90_ms", statsOf(app, 90), "ms", app.size),
        Metric("store.SharedLog.append.jobs_per_call", perCall(w, t, "store.SharedLog.append", "jobs"), "count"),
        Metric("store.SharedLog.append.conflict_ratio",
          if (appends == 0) 0.0 else conflicts.toDouble / appends, "ratio"),
        Metric("store.SharedLog.append.fs_ops_per_call", perCall(w, t, "store.SharedLog.append", "fs_ops"), "count"),
        Metric("store.SharedLog.resync.p50_ms", statsOf(resync, 50), "ms", resync.size))
    }
    Outcome(Nil, info, layers, checked.attempted, checked.failed, checked.problems)
  }
}

/** `store`: the single-writer store after a restart (paced open loop,
  * then a burst), followed by a short multi-writer segment on a
  * [[SharedLog]]. End-to-end metrics come from the single-writer part;
  * the shared segment reports `shared.*` info lines and its layer
  * metrics, and is gated for correctness like the first.
  */
object StoreWorkloads {
  val store: Workload = new Workload {
    val name = "store"
    def run(ctx: Ctx): Outcome = {
      val a = StoreOltp.run(ctx)
      val b = StoreShared.run(ctx)
      Outcome(a.endToEnd,
        a.info ++ b.info.map(m => m.copy(name = s"shared.${m.name}")),
        a.layers ++ b.layers,
        a.attempted + b.attempted, a.failed + b.failed,
        a.problems ++ b.problems.map("shared: " + _))
    }
  }
}
