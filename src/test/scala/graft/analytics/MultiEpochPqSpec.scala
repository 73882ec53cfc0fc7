package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** p14's multi-epoch PQ chain: the receipt columns ARE the per-epoch
  * pins (eq_rebuild computed in-gate against a from-scratch re-encode
  * under the same quantizers); this spec holds the gate to its
  * trajectory — compaction fires exactly when the covered fraction
  * crosses the policy threshold, mid-chain, so epoch 3 provably
  * applies on the compacted store. */
class MultiEpochPqSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("every epoch's probe equals the rebuild; compaction fires once, mid-chain, on policy") {
    val rs = Pipeline.p14MultiEpochPq(spark, dir)
      .collect().sortBy(_.getAs[Int]("epoch"))
    assert(rs.length == Pipeline.ChainEpochs)
    assert(rs.forall(_.getAs[Boolean]("eq_rebuild")),
      s"an epoch diverged from its rebuild: ${rs.mkString(", ")}")
    val fired = rs.map(_.getAs[Boolean]("compacted")).toSeq
    assert(fired == Seq(false, true, false),
      s"compaction trajectory off: ${rs.mkString(", ")}")
    // two-sided policy: fired exactly when covered crossed the threshold
    rs.foreach { r =>
      val above = r.getAs[Double]("covered_before") >
        graft.core.SegmentedIndex.CompactThreshold
      assert(above == r.getAs[Boolean]("compacted"),
        s"compaction decision inconsistent with the measured fraction: $r")
    }
  }
}
