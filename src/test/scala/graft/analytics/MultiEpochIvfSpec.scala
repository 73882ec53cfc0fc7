package graft.analytics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** p15's multi-epoch plain-IVF chain: per-epoch probe equality to a
  * from-scratch re-encode, the policy compaction firing mid-chain on
  * the file-name-generation tombstones, and the RECORDED covered
  * fractions matching the exact class arithmetic (one row per (vec,
  * generation) — the spec-side proof that the metadata-cheap
  * instance estimate measured exactly what the full anti-join would
  * have). */
class MultiEpochIvfSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("every epoch equals its rebuild; compaction fires mid-chain; covered == class arithmetic") {
    val docs = Tables.documents(spark, dir)
    val n = docs.count().toDouble
    def clsCount(cs: Seq[Int]): Double = docs
      .filter((col("doc_id") % 16).isin(cs.map(Int.box): _*)).count().toDouble
    val rows = Pipeline.p15MultiEpochIvf(spark, dir).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("n_dirty"),
        r.getAs[Long]("n_topk"), r.getAs[Double]("covered_before"),
        r.getAs[Boolean]("compacted"), r.getAs[Boolean]("eq_rebuild")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to Pipeline.ChainEpochs))
    rows.foreach { case (e, nDirty, nTopk, _, _, eq) =>
      assert(eq, s"epoch $e maintained probe drifted from the from-scratch re-encode")
      assert(nDirty > 0 && nTopk > 0, s"epoch $e is vacuous")
    }
    // the p13 class arithmetic, replayed independently: per epoch the
    // instances are the dirty classes' doc counts, totals grow by the
    // re-adds, compaction (fires at epoch 2 on this sizing) drops the
    // covered rows and clears the instances
    var instances = 0.0
    var total = n
    val expected = (1 to Pipeline.ChainEpochs).map { e =>
      val dirty = clsCount(Pipeline.p13DeleteClasses(e) :+ Pipeline.p13ChangeClass(e))
      val reAdd = clsCount(Seq(Pipeline.p13ChangeClass(e))) +
        (if (e == Pipeline.ChainEpochs) clsCount(Seq(0)) else 0.0)
      instances += dirty
      total += reAdd
      val covered = instances / total
      val fired = covered > graft.core.SegmentedIndex.CompactThreshold
      if (fired) { total -= instances; instances = 0.0 }
      (math.floor(covered * 1000 + 0.5) / 1000, fired)
    }
    assert(rows.map(r => (r._4, r._5)).toSeq == expected,
      s"recorded (covered, compacted) ${rows.map(r => (r._4, r._5)).toSeq} " +
        s"!= class arithmetic $expected")
    assert(expected.map(_._2) == Seq(false, true, false),
      "fixture sizing must pin the compaction to epoch 2 exactly")
  }
}
