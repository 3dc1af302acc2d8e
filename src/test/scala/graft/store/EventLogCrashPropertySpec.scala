package graft.store

import graft.SparkSpec
import java.nio.file.{Files, Path => JPath}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Kill-at-every-boundary property for the event log's durable publish
  * path, in the [[IndexCrashPropertySpec]] shape. `save` and `compact`
  * publish through the same [[VersionPointer]] as the indexes, so
  * [[IndexMaintenance.failPoint]] fires at each of their boundaries
  * (before the flip, after it, after each retention delete):
  *
  *  - a recording pass enumerates every firing of one op;
  *  - each firing is replayed with a throwing hook — a process killed
  *    exactly there — and a FRESH load of the directory must return
  *    exactly the last published log: the previous one before the
  *    flip, the new one from the flip on (the flip is the only
  *    visibility event, and retention never deletes the live version);
  *  - recovery (the crashed writer re-runs the op) must publish the
  *    post-op log.
  */
class EventLogCrashPropertySpec extends SparkSpec {

  private final class SimulatedCrash(val label: String)
    extends RuntimeException(s"simulated crash at $label")

  private def events(from: Int, until: Int): Seq[EventInput] =
    (from until until).map { i =>
      val prev = if (i < 3) None else Some(s"e${i - 3}")
      EventInput("E", s"e$i", "C", s"p${i % 3}", s"""{"i":$i}""", previous_id = prev)
    }

  private def append(st: EventStore, from: Int, until: Int): Unit = {
    val res = st.append(events(from, until))
    assert(res.rejected.isEmpty, s"rejected: ${res.rejected}")
  }

  /** The log a restarted process sees at `dir`. */
  private def loaded(dir: String): Seq[(Long, String)] = {
    val st = new EventStore(spark)
    st.load(dir, buckets = 4)
    st.allEvents.collect().map(e => (e.offset, e.event_id)).sortBy(_._1).toSeq
  }

  /** Two published versions (30 then 60 events), so the op's publish
    * has a superseded version to retire.
    */
  private lazy val template: String = {
    val dir = Files.createTempDirectory("graft-logcrash-tpl").toString
    val st = new EventStore(spark)
    st.registerDeciderEvent("C", "E")
    append(st, 0, 30)
    st.save(dir, buckets = 4)
    append(st, 30, 60)
    st.save(dir, buckets = 4)
    dir
  }

  private def copyOfTemplate(): String = {
    val src = JPath.of(template)
    val dst = Files.createTempDirectory("graft-logcrash")
    Files.walk(src).iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }
    dst.toString
  }

  private def withHook[A](hook: String => Unit)(body: => A): A = {
    IndexMaintenance.failPointHook = hook
    try body finally IndexMaintenance.failPointHook = _ => ()
  }

  /** A writer that loaded the template copy at `dir` and ran `prepare`. */
  private def writer(dir: String, prepare: EventStore => Unit): EventStore = {
    val st = new EventStore(spark)
    st.load(dir, buckets = 4)
    prepare(st)
    st
  }

  private val ops: Seq[(String, EventStore => Unit, (EventStore, String) => Unit)] = Seq(
    ("save", st => append(st, 60, 90), (st, dir) => st.save(dir, buckets = 4)),
    ("compact", _ => (), (st, dir) => st.compact(dir)))

  for ((name, prepare, run) <- ops) {
    test(s"event log $name survives a kill at every publish boundary") {
      val before = loaded(template)
      assert(before.size === 60)

      // -------- recording pass: enumerate every boundary firing
      val recDir = copyOfTemplate()
      val rec = writer(recDir, prepare)
      val firings = mutable.ArrayBuffer[String]()
      withHook(firings += _)(run(rec, recDir))
      val after = loaded(recDir)
      for (f <- Seq("publish:before-flip:events", "publish:after-flip:events",
                    "publish:retention-deleted:events"))
        assert(firings.contains(f), s"no firing $f in $firings")
      val flipAt = firings.indexOf("publish:after-flip:events")

      // -------- kill-point replays: one per recorded firing
      for ((label, g) <- firings.zipWithIndex) {
        val dir = copyOfTemplate()
        val st = writer(dir, prepare)
        var n = 0
        val crashed =
          try {
            withHook { l =>
              val i = n; n += 1
              if (i == g) throw new SimulatedCrash(l)
            }(run(st, dir))
            fail(s"replay of firing #$g ($label) did not crash")
          } catch { case c: SimulatedCrash => c }
        assert(crashed.label == label,
          s"replay #$g hit ${crashed.label}, recorded $label — nondeterministic boundary order")
        val published = if (g < flipAt) before else after
        assert(loaded(dir) == published, s"$name killed at $label: fresh load")
        run(st, dir) // recovery = the crashed writer re-runs the op
        assert(loaded(dir) == after, s"$name killed at $label: rerun recovery")
      }
    }
  }
}
