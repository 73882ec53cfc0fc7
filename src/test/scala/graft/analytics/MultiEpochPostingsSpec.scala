package graft.analytics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** p13's multi-epoch postings chain: per-epoch live-state equality to
  * a from-scratch rebuild — before AND after the mid-chain policy
  * compaction — plus the compaction trajectory itself. The gate's
  * final report is oracle-checked by the driver; this spec pins what
  * the oracle can't see: every INTERMEDIATE epoch, and that the
  * compaction fired on policy mid-chain rather than per epoch or
  * never. */
class MultiEpochPostingsSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def report(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
    df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("every epoch's live state equals a from-scratch rebuild; compaction fires once, mid-chain") {
    val docs = Tables.documents(spark, dir)
    val out = graft.core.TempDirs.create("graft-p13-spec")
      .resolve("postings").toString
    // from-scratch twin of epoch e: tokenize the directly-derived
    // snapshot (disjoint classes make it a pure function of the base
    // table, no chained re-derivation)
    def rebuilt(e: Int): Map[String, (Long, Long)] = report(
      TextOps.postingsOf(Pipeline.p13SnapshotText(docs, e))
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
        .select(col("term"), col("df"), col("total_tf")))
    val receipts = Pipeline.p13ChainAt(spark, dir, out, onEpoch = { e =>
      val got = report(TextOps.postingsReport(spark, out))
      val want = rebuilt(e)
      assert(got.nonEmpty && got == want,
        s"epoch $e maintained report diverged from the from-scratch rebuild")
    })
    // policy compaction: covered fraction crosses the threshold at
    // epoch 2 only (the churn is sized for ~11% margin; epochs 1 and
    // 3 stay under) — so epoch 3 applies ON the compacted store
    assert(receipts.map(_.compacted) === Seq(false, true, false),
      s"compaction trajectory off: $receipts")
    val covered = receipts.map(_.covered)
    assert(covered(1) > graft.core.SegmentedIndex.CompactThreshold,
      s"epoch 2 never crossed the threshold: $covered")
    assert(covered(0) < graft.core.SegmentedIndex.CompactThreshold &&
      covered(2) < graft.core.SegmentedIndex.CompactThreshold,
      s"epochs 1/3 unexpectedly crossed the threshold: $covered")
    // every epoch touched something, and the dirty counts shrink with
    // the per-epoch class counts (4+1, 4+1, 3+1 of 16)
    assert(receipts.forall(_.n > 0))
  }
}
