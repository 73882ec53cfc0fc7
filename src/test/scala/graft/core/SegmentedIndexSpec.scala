package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** Direct coverage of the shared segmented-index lifecycle (its owners
  * — postings, IVF corpus, image append-log — pin their own semantics
  * end-to-end in PostingsSpec/IvfAppendSpec/IncrementalIndexSpec; this
  * spec pins the helper's contracts in isolation). */
class SegmentedIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshLayout(): String = {
    import spark.implicits._
    val out = TempDirs.create("graft-segidx-spec").resolve("idx").toString
    Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L))
      .toDF("id", "payload", "gen").write.parquet(out)
    out
  }

  test("gen-scoped tombstone suppresses at-or-below generations; higher re-append is live") {
    import spark.implicits._
    val out = freshLayout()
    SegmentedIndex.tombstone(Seq(2L).toDF("id"), out, keyCol = "id", uptoGen = 0L)
    def liveIds() = SegmentedIndex.live(spark, spark.read.parquet(out), out,
      keyCol = "id", genCol = "gen").select("id").as[Long].collect().sorted.toSeq
    assert(liveIds() == Seq(1L, 3L))
    // re-append the same id at a HIGHER generation: live immediately,
    // no compaction in between
    Seq((2L, "b2", 1L)).toDF("id", "payload", "gen")
      .write.mode("append").parquet(out)
    assert(liveIds() == Seq(1L, 2L, 3L))
  }

  test("plain tombstone suppresses every generation; double delete folds") {
    import spark.implicits._
    val out = freshLayout()
    Seq((3L, "c9", 9L)).toDF("id", "payload", "gen")
      .write.mode("append").parquet(out)
    SegmentedIndex.tombstone(Seq(3L).toDF("id"), out, keyCol = "id", uptoGen = Long.MaxValue)
    SegmentedIndex.tombstone(Seq(3L).toDF("id"), out, keyCol = "id", uptoGen = Long.MaxValue)
    val live = SegmentedIndex.live(spark, spark.read.parquet(out), out,
      keyCol = "id", genCol = "gen")
    assert(live.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("compactWith applies tombstones physically, clears them, carries other sidecars") {
    import spark.implicits._
    val out = freshLayout()
    // a non-tombstone sidecar that must survive the rewrite verbatim
    Seq(("meta", 7L)).toDF("k", "v").write.parquet(s"$out/_side")
    SegmentedIndex.tombstone(Seq(1L).toDF("id"), out, keyCol = "id", uptoGen = Long.MaxValue)
    SegmentedIndex.compactWith(out) { tmp =>
      SegmentedIndex.live(spark, spark.read.parquet(out), out,
          keyCol = "id", genCol = "gen")
        .write.mode("overwrite").parquet(tmp)
    }
    assert(!Files.isDirectory(Paths.get(out, "_tombstones")),
      "compaction must clear the applied tombstones (the epoch boundary)")
    assert(spark.read.parquet(s"$out/_side").as[(String, Long)].collect().toSeq
      == Seq(("meta", 7L)))
    // physical: no tombstone sidecar left, yet the row is gone
    assert(spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L))
    // post-epoch re-append of the compacted-away id is live again
    Seq((1L, "a2", 5L)).toDF("id", "payload", "gen")
      .write.mode("append").parquet(out)
    assert(SegmentedIndex.live(spark, spark.read.parquet(out), out,
        keyCol = "id", genCol = "gen")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("appendSegment + liveAsOf: a replayed batch sees its pre-image and lands idempotently") {
    import spark.implicits._
    val out = TempDirs.create("graft-segidx-spec").resolve("seg").toString
    def liveIds() = SegmentedIndex.live(spark, spark.read.parquet(out), out,
      keyCol = "id", genCol = "gen")
      .select("id").as[Long].collect().sorted.toSeq
    // seed: segment 0 holds keys 1..4 (appendSegment carries no gen
    // column — the partition dir IS the generation)
    SegmentedIndex.appendSegment(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "payload"),
      out, gen = 0L)
    assert(liveIds() == Seq(1L, 2L, 3L, 4L))
    // batch 1 (writer convention: tombstone upto g−1, overwrite seg g):
    // re-image key 2, add key 5
    def applyBatch1(): Unit = {
      SegmentedIndex.tombstone(Seq(2L).toDF("id"), out, keyCol = "id",
        uptoGen = 0L)
      SegmentedIndex.appendSegment(
        Seq((2L, "b2"), (5L, "e")).toDF("id", "payload"), out, gen = 1L)
    }
    applyBatch1()
    assert(liveIds() == Seq(1L, 2L, 3L, 4L, 5L))
    // the batch-2 pre-image (liveAsOf 1) includes batch 1's effects;
    // the batch-1 pre-image (liveAsOf 0) is the untouched seed — the
    // view a REPLAY of batch 1 must recompute from
    def asOf(g: Long) = SegmentedIndex.liveAsOf(spark, spark.read.parquet(out),
        out, keyCol = "id", genCol = "gen", asOfGen = g)
      .select("id", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(asOf(0L) == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(asOf(1L) == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d"), (5L, "e")))
    // replay batch 1 wholesale: the tombstone re-append max-folds, the
    // segment overwrite replaces its own prior attempt — live and
    // as-of views are byte-identical to the first delivery
    applyBatch1()
    assert(liveIds() == Seq(1L, 2L, 3L, 4L, 5L))
    assert(asOf(0L) == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(spark.read.parquet(s"$out/gen=1").count() == 2L,
      "replayed segment must overwrite, not accumulate")
  }

  test("maybeCompact: holds below the covered-fraction threshold, rewrites past it") {
    import spark.implicits._
    val out = TempDirs.create("graft-segidx-spec").resolve("policy").toString
    SegmentedIndex.appendSegment(
      (1L to 10L).map(i => (i, s"p$i")).toDF("id", "payload"), out, gen = 0L)
    // maintained layouts must track their row count (maybeCompact is
    // loud about it — the policy path never lists the layout)
    SegmentedIndex.writeRowCount(out,
      SegmentedIndex.footerRowCountOf(Paths.get(out)))
    def rewrite(tmp: String): Unit =
      SegmentedIndex.live(spark, spark.read.parquet(out), out,
          keyCol = "id", genCol = "gen").drop("gen")
        .write.parquet(s"$tmp/gen=0")
    // 3 of 10 rows covered (0.3 ≤ 0.5): policy must NOT compact
    SegmentedIndex.tombstone((1L to 3L).toDF("id"), out, keyCol = "id",
      uptoGen = 0L)
    assert(!SegmentedIndex.maybeCompact(out)(rewrite))
    assert(Files.isDirectory(Paths.get(out, "_tombstones")))
    // 6 of 10 covered (0.6 > 0.5): policy compacts, tombstones clear,
    // live rows survive physically
    SegmentedIndex.tombstone((4L to 6L).toDF("id"), out, keyCol = "id",
      uptoGen = 0L)
    assert(SegmentedIndex.maybeCompact(out)(rewrite))
    assert(!Files.isDirectory(Paths.get(out, "_tombstones")))
    assert(spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
      == (7L to 10L))
  }

  test("resolveNewest: newest generation wins, rm deletes") {
    import spark.implicits._
    val log = Seq(
      (1L, "h1", 0L, "put"),
      (1L, "h2", 2L, "put"),   // newest put wins
      (2L, "h3", 0L, "put"),
      (2L, "",   1L, "rm"),    // newest is rm → deleted
      (3L, "h4", 1L, "put"),
      (3L, "h5", 0L, "put"))   // older put loses
      .toDF("id", "h", "gen", "op")
    val got = SegmentedIndex.resolveNewest(log, "id", "gen", "op")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "h2"), (3L, "h4")))
  }
}
