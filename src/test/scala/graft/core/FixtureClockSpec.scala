package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The fixture-time accumulator behind Bench's cold_engine /
  * cold_fixtures decomposition: nested timed sections must count
  * once (outermost-per-thread), concurrent outermost sections
  * accumulate independently, and `memo` attributes only the MISS.
  *
  * The single-thread properties are pinned STRUCTURALLY against a
  * deterministic injected clock (each read advances a fixed tick), so
  * the asserts are exact equalities — the previous wall-clock upper
  * bounds (`dt < 70ms` around a ~50ms sleep) flaked whenever the
  * bench box's known steal/I/O weather landed mid-test (r16 advice). */
class FixtureClockSpec extends AnyFunSuite {

  /** Run `body` under a clock that advances `tick` nanos per READ,
    * restoring the real clock afterwards. With two reads per timed
    * section, an outermost span of a body that performs `r` clock
    * reads itself accumulates exactly `(r + 1) * tick`. */
  private def withTickClock[T](tick: Long)(body: => T): T = {
    val real = FixtureClock.nanoClock
    val t = new java.util.concurrent.atomic.AtomicLong(0L)
    FixtureClock.nanoClock = () => t.addAndGet(tick)
    try body finally FixtureClock.nanoClock = real
  }

  test("nested timed sections accumulate the outermost span once (exact, fake clock)") {
    withTickClock(100L) {
      val t0 = FixtureClock.totalNanos
      FixtureClock.timed {
        FixtureClock.timed { () } // inner: 2 reads, must contribute 0
      }
      val dt = FixtureClock.totalNanos - t0
      // clock reads: outer t0 (100), inner t0 (200) — the nested
      // section never reads an end stamp (only depth 0 accumulates) —
      // outer end (300) → exactly the outermost span, 300 − 100 = 200.
      // A double-counting implementation reads an inner end stamp too
      // and lands on 400 (100 inner + 300 outer).
      assert(dt == 200L, s"expected exactly the outermost span (200), got $dt")
    }
  }

  test("memo attributes the builder miss only; hits are exactly free (fake clock)") {
    withTickClock(100L) {
      val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
      val t0 = FixtureClock.totalNanos
      val v1 = FixtureClock.memo(m, "k") { _ => "built" }
      val missCost = FixtureClock.totalNanos - t0
      assert(v1 == "built")
      // one timed section around the builder: 2 reads → exactly 100
      assert(missCost == 100L, s"miss must cost exactly one span: $missCost")
      val t1 = FixtureClock.totalNanos
      val v2 = FixtureClock.memo(m, "k") { _ => "rebuilt" }
      val hitCost = FixtureClock.totalNanos - t1
      assert(v2 == "built", "memo re-ran a cached builder")
      assert(hitCost == 0L, s"cache hit charged fixture time: $hitCost")
    }
  }

  test("staged builds each (name, key) once, and a builder may stage another artifact") {
    val key = java.util.UUID.randomUUID().toString
    var builds = 0
    def inner(): String = FixtureClock.staged("spec-inner", key) { p =>
      builds += 1
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
    }
    val outer = FixtureClock.staged("spec-outer", key) { p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "from"), inner())
    }
    assert(FixtureClock.staged("spec-outer", key)(_ => fail("rebuilt a staged artifact")) == outer)
    assert(builds == 1 && java.nio.file.Files.isDirectory(java.nio.file.Paths.get(inner())))
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(outer, "from")) == inner())
    assert(outer != inner(), "distinct names share a path")
  }

  test("concurrent outermost sections on distinct threads both count") {
    // real clock: a LOWER bound only (two overlapping 30ms spans must
    // accumulate ~60ms — oversleep makes this more true, never less)
    val t0 = FixtureClock.totalNanos
    val ts = (1 to 2).map(_ => new Thread(() =>
      FixtureClock.timed { Thread.sleep(30) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    val dt = FixtureClock.totalNanos - t0
    assert(dt >= 50e6, s"concurrent spans lost: ${dt / 1e6}ms")
  }
}
