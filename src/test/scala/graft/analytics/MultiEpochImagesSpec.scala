package graft.analytics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** m13's multi-epoch image append-log chain: per-epoch resolved-group
  * equality to a from-scratch decode+hash of that epoch's corpus,
  * the policy compaction firing mid-chain, and the RECORDED covered
  * fractions matching the independent dead-row arithmetic (each rm
  * row is dead twice over — itself plus its superseded target — each
  * re-crawl supersedes one row, adds none): the spec-side proof for
  * the maintainer-arithmetic policy signal. */
class MultiEpochImagesSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("every epoch equals its rebuild; compaction fires mid-chain; covered == dead-row arithmetic") {
    val docs = Tables.documents(spark, dir)
    val n = docs.count().toDouble
    def clsCount(cs: Seq[Int]): Double = docs
      .filter((col("doc_id") % 16).isin(cs.map(Int.box): _*)).count().toDouble
    val rows = Multimodal.m13MultiEpochImages(spark, dir).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("n_dirty"),
        r.getAs[Long]("n_groups"), r.getAs[Double]("covered_before"),
        r.getAs[Boolean]("compacted"), r.getAs[Boolean]("eq_rebuild")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to Pipeline.ChainEpochs))
    rows.foreach { case (e, nDirty, nGroups, _, _, eq) =>
      assert(eq, s"epoch $e resolved groups drifted from the from-scratch rebuild")
      assert(nDirty > 0 && nGroups > 0, s"epoch $e is vacuous")
    }
    // independent dead-row arithmetic over the append log: per epoch
    // the log grows by rm rows + put rows; dead rows grow by 2·rm +
    // re-puts; compaction keeps only the live rows and resets
    var dead = 0.0
    var total = n
    val expected = (1 to Pipeline.ChainEpochs).map { e =>
      val nRm = clsCount(Pipeline.p13DeleteClasses(e))
      val nReput = clsCount(Seq(Pipeline.p13ChangeClass(e)))
      val nAdd = if (e == Pipeline.ChainEpochs) clsCount(Seq(0)) else 0.0
      total += nRm + nReput + nAdd
      dead += 2 * nRm + nReput
      val covered = dead / total
      val fired = covered > graft.core.SegmentedIndex.CompactThreshold
      if (fired) { total -= dead; dead = 0.0 }
      (math.floor(covered * 1000 + 0.5) / 1000, fired)
    }
    assert(rows.map(r => (r._4, r._5)).toSeq == expected,
      s"recorded (covered, compacted) ${rows.map(r => (r._4, r._5)).toSeq} " +
        s"!= dead-row arithmetic $expected")
    assert(expected.map(_._2).take(2) == Seq(false, true),
      "fixture sizing must fire the first compaction at epoch 2")
    // planted group structure: the final epoch's resolved index holds
    // the surviving base patterns, the three re-crawl patterns, and
    // the added pattern — all non-empty groups
    assert(rows.last._3 >= 4, "final epoch lost planted pattern groups")
  }

  test("warm pass: 14 Spark jobs, every epoch equal, compaction fired") {
    // the warm job map, as the bench runs the gate (its count() under
    // Trace): the base re-seed write; per epoch one bounded localize of
    // the diff, one single-file append and one single-stage live digest;
    // the one compaction's rewrite; the count of the receipt rows
    val gate = (s: org.apache.spark.sql.SparkSession, d: String) =>
      Multimodal.m13MultiEpochImages(s, d)
    graft.Bench.runGate(spark, gate, dir)
    val warm = graft.Bench.runGate(spark, gate, dir)
    assert(warm.rows == Right(Pipeline.ChainEpochs.toLong))
    assert(warm.cost.jobs == 14, s"m13's warm pass ran ${warm.cost.jobs} Spark jobs, not 14")
    val rows = Multimodal.m13MultiEpochImages(spark, dir).collect()
    assert(rows.length == Pipeline.ChainEpochs && rows.forall(_.getAs[Boolean]("eq_rebuild")),
      "m13_eq_every_epoch")
    assert(rows.exists(_.getAs[Boolean]("compacted")), "m13_compaction_fired")
  }

  test("probe mode (rebuildCheck=false): twins skipped, eq_rebuild null, maintenance receipts unchanged") {
    // ChainProbe's contract: probe mode must not fabricate a verdict
    // (eq_rebuild reads null) and must not change the maintenance work
    // being priced — the covered/compacted trajectory is identical to
    // the checking run's
    val checked = Multimodal.m13MultiEpochImages(spark, dir).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Double]("covered_before"),
        r.getAs[Boolean]("compacted"))).sortBy(_._1).toSeq
    val probeRows = Multimodal.m13MultiEpochImages(spark, dir, rebuildCheck = false)
      .collect().sortBy(_.getAs[Int]("epoch"))
    assert(probeRows.forall(_.isNullAt(probeRows.head.fieldIndex("eq_rebuild"))),
      "probe mode must record NO rebuild verdict, not a fabricated one")
    val probe = probeRows.map(r => (r.getAs[Int]("epoch"),
      r.getAs[Double]("covered_before"), r.getAs[Boolean]("compacted"))).toSeq
    assert(probe == checked,
      s"probe mode changed the maintenance trajectory: $probe vs $checked")
  }
}
