package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** The multi-epoch chain runner ([[Pipeline.epochChain]]) on stub
  * steps: where the compaction policy's boundary sits, that probe
  * mode never builds a rebuild twin, and that the rebuild-digest memo
  * keeps two gates over the same dataset apart. */
class EpochChainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A fresh dataset key per test: the memo lives for the JVM. */
  private def freshDir(): String = "spec-" + java.util.UUID.randomUUID()

  private def ids(xs: Seq[Long]) = {
    val s = spark
    import s.implicits._
    xs.toDF("id")
  }

  /** Stub steps: a fixed covered fraction, a live frame and a rebuild
    * frame over the given ids, and counters for the calls the runner
    * makes. */
  private class Stub(cov: Double, liveIds: Seq[Long] = Seq(1L, 2L),
                     rebuildIds: Seq[Long] = Seq(1L, 2L)) extends Pipeline.ChainSteps {
    var compactions = 0
    var rebuilds = 0
    def applyDiff(e: Int): Long = 10L * e
    def covered(): Double = cov
    def compact(e: Int): Unit = compactions += 1
    override def live(e: Int) = Some(ids(liveIds))
    override def rebuild(e: Int, scratch: java.nio.file.Path) = {
      rebuilds += 1
      ids(rebuildIds)
    }
  }

  test("covered exactly at the threshold holds; just above it compacts") {
    val t = graft.core.SegmentedIndex.CompactThreshold
    val at = new Stub(t)
    val held = Pipeline.epochChain("spec", freshDir(), rebuildCheck = false)(at)
    assert(held.map(_.compacted) == Seq.fill(Pipeline.ChainEpochs)(false))
    assert(at.compactions == 0)
    val above = new Stub(math.nextUp(t))
    val fired = Pipeline.epochChain("spec", freshDir(), rebuildCheck = false)(above)
    assert(fired.map(_.compacted) == Seq.fill(Pipeline.ChainEpochs)(true))
    assert(above.compactions == Pipeline.ChainEpochs)
    assert(fired.map(_.n) == (1 to Pipeline.ChainEpochs).map(10L * _))
  }

  test("probe mode never builds the rebuild twin and records a null eq_rebuild") {
    val stub = new Stub(0.1)
    val rows = Pipeline.epochChain("spec", freshDir(), rebuildCheck = false)(stub)
    assert(stub.rebuilds == 0)
    assert(rows.forall(r => r.eqRebuild.isEmpty && r.nLive.contains(2L)))
    val frame = Pipeline.receiptFrame(spark, rows, "n_dirty", "n_live").collect()
    assert(frame.length == Pipeline.ChainEpochs &&
      frame.forall(_.isNullAt(frame.head.fieldIndex("eq_rebuild"))))
  }

  test("two gates on one dataset keep separate rebuild digests") {
    val dir = freshDir()
    val a = new Stub(0.1)
    val ra = Pipeline.epochChain("spec-a", dir, rebuildCheck = true)(a)
    assert(a.rebuilds == Pipeline.ChainEpochs && ra.forall(_.eqRebuild.contains(true)))
    // gate b's live result equals gate a's twin but not its own: a memo
    // keyed without the gate would hand b a's digest and report true
    val b = new Stub(0.1, rebuildIds = Seq(3L))
    val rb = Pipeline.epochChain("spec-b", dir, rebuildCheck = true)(b)
    assert(b.rebuilds == Pipeline.ChainEpochs, "gate b reused another gate's twin")
    assert(rb.forall(_.eqRebuild.contains(false)))
    // a warm pass of gate a hits its own memo
    val a2 = new Stub(0.1)
    Pipeline.epochChain("spec-a", dir, rebuildCheck = true)(a2)
    assert(a2.rebuilds == 0)
  }
}
