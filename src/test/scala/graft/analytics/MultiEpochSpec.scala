package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** g08 multi-epoch maintenance: three successive, disjoint CDC diffs
  * chain through ONE segmented kNN-edge store, and the gate's own
  * output carries the per-epoch pins. This spec asserts the contract
  * the r13 verdict asked for: live-view equality to the from-scratch
  * rebuild after EVERY epoch, and the policy compaction provably
  * firing MID-chain (so a later epoch pins post-compaction equality),
  * with the covered-fraction threshold crossing recorded. */
class MultiEpochSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("every epoch equals its rebuild; compaction fires mid-chain on the threshold") {
    val rows = Graph.g08MultiEpochKnn(spark, dir).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("n_recomputed"),
        r.getAs[Long]("n_live"), r.getAs[Double]("covered_before"),
        r.getAs[Boolean]("compacted"), r.getAs[Boolean]("eq_rebuild")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to Pipeline.ChainEpochs),
      "one output row per epoch")
    rows.foreach { case (e, nRec, nLive, _, _, eq) =>
      assert(eq, s"epoch $e live view drifted from the from-scratch rebuild")
      assert(nRec > 0, s"epoch $e recomputed nothing — the chain is vacuous")
      assert(nLive > 0, s"epoch $e live view is empty")
    }
    val fired = rows.filter(_._5)
    assert(fired.nonEmpty, "policy compaction never fired across the chain")
    fired.foreach { case (e, _, _, cov, _, _) =>
      assert(cov > graft.core.SegmentedIndex.CompactThreshold,
        s"epoch $e compacted below the policy threshold (covered=$cov)")
    }
    assert(fired.exists(_._1 < Pipeline.ChainEpochs),
      "compaction only fired at the last epoch — no later epoch pins " +
        "post-compaction equality")
    // epochs that did NOT compact must have measured at or below the
    // threshold — the policy is two-sided, never fire-happy
    rows.filterNot(_._5).foreach { case (e, _, _, cov, _, _) =>
      assert(cov <= graft.core.SegmentedIndex.CompactThreshold,
        s"epoch $e crossed the threshold (covered=$cov) but did not compact")
    }
  }
}
