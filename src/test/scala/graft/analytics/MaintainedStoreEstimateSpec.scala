package graft.analytics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SegmentedIndex, TempDirs}
import graft.store.SparkTestSession

/** The compaction policy's metadata-cheap covered-fraction estimate
  * (r14 verdict item 6) against the full-layout anti-join it replaced:
  * on every maintained-store shape the policy actually reads —
  * uniform rows-per-key gen-scoped segments (the kNN edge shape),
  * one-row-per-key (the vector layouts), and the postings layout's
  * sidecar-derived variant — the estimate must EQUAL the exact
  * fraction (to float ulp: the two compute 1 − live/total vs
  * covered/total). The anti-join stays here, spec-side; the
  * measurement path never scans the layout. */
class MaintainedStoreEstimateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Tol = 1e-12

  private def exactOf(out: String, rowsPerKey: Int): (Double, Double) = {
    val exact = SegmentedIndex.coveredFraction(spark,
      spark.read.parquet(out), out, keyCol = "id", genCol = "gen")
    val est = SegmentedIndex.coveredFractionEstimate(out,
      rowsPerInstance = rowsPerKey.toDouble)
    (exact, est)
  }

  test("gen-scoped uniform fan-out: estimate == exact through delete / re-add / re-delete") {
    import spark.implicits._
    val out = TempDirs.create("graft-est-spec").resolve("edges").toString
    // the kNN shape: every (key, generation) stores exactly 2 rows
    SegmentedIndex.appendSegment(
      (1L to 10L).flatMap(i => Seq((i, "a"), (i, "b"))).toDF("id", "payload"),
      out, gen = 0L)
    SegmentedIndex.writeRowCount(out, 20L)
    // epoch 1: tombstone 3 keys at gen 0, re-add one of them at gen 1
    SegmentedIndex.tombstone((1L to 3L).toDF("id"), out, "id", uptoGen = 0L)
    SegmentedIndex.appendSegment(
      Seq((2L, "a2"), (2L, "b2")).toDF("id", "payload"), out, gen = 1L)
    val (e1, g1) = exactOf(out, 2)
    assert(math.abs(e1 - g1) < Tol, s"epoch-1 estimate $g1 != exact $e1")
    // epoch 2: re-delete the re-added key (now covering BOTH its
    // generations via two distinct instances) plus a fresh key
    SegmentedIndex.tombstone(Seq(2L, 4L).toDF("id"), out, "id", uptoGen = 1L)
    val (e2, g2) = exactOf(out, 2)
    assert(math.abs(e2 - g2) < Tol, s"epoch-2 estimate $g2 != exact $e2")
    assert(g2 > g1, "coverage must grow with the second epoch")
    // a REPLAYED tombstone write changes neither measure
    SegmentedIndex.tombstone(Seq(2L, 4L).toDF("id"), out, "id", uptoGen = 1L)
    val (e3, g3) = exactOf(out, 2)
    assert((e3, g3) == (e2, g2), "replayed delete moved the measurement")
  }

  test("plain (epoch-wide) tombstones, one row per key: estimate == exact") {
    import spark.implicits._
    val out = TempDirs.create("graft-est-plain").resolve("corpus").toString
    (1L to 8L).map(i => (i, s"v$i")).toDF("id", "payload")
      .write.parquet(out)
    SegmentedIndex.writeRowCount(out, 8L)
    SegmentedIndex.tombstone((1L to 3L).toDF("id"), out, "id", uptoGen = Long.MaxValue)
    // a layout that stores no generation reads as generation 0
    val exact = SegmentedIndex.coveredFraction(spark,
      spark.read.parquet(out).withColumn("gen", lit(0L)), out, keyCol = "id", genCol = "gen")
    val est = SegmentedIndex.coveredFractionEstimate(out)
    assert(math.abs(exact - est) < Tol, s"plain estimate $est != exact $exact")
    assert(est == 3.0 / 8)
  }

  test("no tombstones: both measures are 0 with no layout scan needed") {
    import spark.implicits._
    val out = TempDirs.create("graft-est-none").resolve("corpus").toString
    Seq((1L, "x")).toDF("id", "payload").write.parquet(out)
    SegmentedIndex.writeRowCount(out, 1L)
    assert(SegmentedIndex.coveredFractionEstimate(out) == 0.0)
    assert(SegmentedIndex.tombstoneInstances(out) == 0L)
  }

  test("tracked layout: _rowcount equals the footer count through append / replay / tombstone / compact") {
    import spark.implicits._
    val out = TempDirs.create("graft-est-tracked").resolve("edges").toString
    def footer: Long = spark.read.parquet(out).count()
    def sidecar: Long = SegmentedIndex.readRowCount(out)
      .getOrElse(fail("layout lost its row-count sidecar"))
    SegmentedIndex.appendSegment(
      (1L to 10L).flatMap(i => Seq((i, "a"), (i, "b"))).toDF("id", "payload"),
      out, gen = 0L)
    SegmentedIndex.writeRowCount(out, footer) // opt in after the seed
    // append: arithmetic, no listing
    SegmentedIndex.appendSegment(
      Seq((2L, "a1"), (2L, "b1"), (11L, "a1"), (11L, "b1")).toDF("id", "payload"),
      out, gen = 1L)
    assert(sidecar == footer, s"append drifted: $sidecar != $footer")
    // REPLAY of generation 1 with different content: the overwrite's
    // delta accounting must re-base, not double-count
    SegmentedIndex.appendSegment(
      Seq((2L, "a1"), (2L, "b1")).toDF("id", "payload"), out, gen = 1L)
    assert(sidecar == footer, s"replayed append drifted: $sidecar != $footer")
    // tombstones change NO stored rows
    SegmentedIndex.tombstone(Seq(1L, 2L).toDF("id"), out, "id", uptoGen = 0L)
    assert(sidecar == footer, s"tombstone moved the row count: $sidecar != $footer")
    // the estimate (sidecar denominator) still equals the exact anti-join
    val (e, g) = exactOf(out, 2)
    assert(math.abs(e - g) < Tol, s"tracked estimate $g != exact $e")
    // compaction re-bases the count from the fresh rewrite
    SegmentedIndex.compactWith(out) { tmp =>
      SegmentedIndex.live(spark, spark.read.parquet(out), out,
          keyCol = "id", genCol = "gen").drop("gen")
        .write.parquet(s"$tmp/gen=0")
    }
    assert(sidecar == footer, s"compaction drifted: $sidecar != $footer")
  }

  test("tracked layout via publishGeneration: published and replayed generations keep the count exact") {
    import spark.implicits._
    val out = TempDirs.create("graft-est-pub").resolve("corpus").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    SegmentedIndex.writeRowCount(out, 0L)
    def footer: Long = spark.read.parquet(out).count()
    def sidecar: Long = SegmentedIndex.readRowCount(out).get
    SegmentedIndex.publishGeneration(out, 1L) { stage =>
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "payload")
        .coalesce(1).write.parquet(stage)
    }
    assert(sidecar == 6L && sidecar == footer)
    // replay with a narrower batch: sweep + re-publish re-bases
    SegmentedIndex.publishGeneration(out, 1L) { stage =>
      (1L to 4L).map(i => (i, s"v$i")).toDF("id", "payload")
        .coalesce(1).write.parquet(stage)
    }
    assert(sidecar == 4L && sidecar == footer,
      s"replayed publish drifted: $sidecar != $footer")
    SegmentedIndex.publishGeneration(out, 2L) { stage =>
      Seq((9L, "v9")).toDF("id", "payload").coalesce(1).write.parquet(stage)
    }
    assert(sidecar == 5L && sidecar == footer)
  }

  test("tracked policy path reads NO layout data: the estimate survives the data files vanishing") {
    import spark.implicits._
    // generic estimate: with a _rowcount sidecar the denominator is
    // the maintained number and the numerator is the tombstone
    // sidecar — the layout's data can be GONE and the measurement
    // still answers (the r15 item 5 done-criterion: no layout listing
    // in the policy path).
    val out = TempDirs.create("graft-est-noscan").resolve("edges").toString
    SegmentedIndex.appendSegment(
      (1L to 10L).flatMap(i => Seq((i, "a"), (i, "b"))).toDF("id", "payload"),
      out, gen = 0L)
    SegmentedIndex.writeRowCount(out, 20L)
    SegmentedIndex.tombstone((1L to 4L).toDF("id"), out, "id", uptoGen = 0L)
    graft.core.DirSwap.deleteTree(java.nio.file.Paths.get(out, "gen=0"))
    val est = SegmentedIndex.coveredFractionEstimate(out, rowsPerInstance = 2.0)
    assert(est == 8.0 / 20, s"no-scan estimate wrong: $est")
  }

  test("tracked postings policy path reads only sidecars: measurement survives the data files vanishing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha alpha delta"),
      (3L, "beta beta beta epsilon")).toDF("doc_id", "text")
    val out = TempDirs.create("graft-est-postings-noscan").resolve("postings").toString
    TextOps.writePostingsLayout(spark, docs, out)
    val before = TextOps.postingsCoveredFraction(out)
    assert(before == 0.0)
    val dirty = Seq(1L).toDF("doc_id")
    val removed = TextOps.postingsOf(docs.join(dirty, Seq("doc_id"), "left_semi"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    TextOps.deleteFromPostings(spark, out, dirty, uptoGen = 0L)
    TextOps.updateDfSidecar(spark, out, removed,
      removed.limit(0), gen = 1L)
    val withData = TextOps.postingsCoveredFraction(out)
    // vanish the data files (keep every underscore sidecar): the
    // sidecar-derived measurement must not notice
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.list(
        java.nio.file.Paths.get(out))) { s =>
      s.iterator().asScala.toList
        .filterNot(_.getFileName.toString.startsWith("_"))
        .foreach(graft.core.DirSwap.deleteTree)
    }
    val withoutData = TextOps.postingsCoveredFraction(out)
    assert(withData > 0.0 && withData == withoutData,
      s"postings measurement touched the data files: $withData vs $withoutData")
  }

  test("postings sidecar variant: estimate == exact anti-join under the maintainer discipline") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha alpha delta"),
      (3L, "beta beta beta epsilon"), (4L, "gamma delta"),
      (5L, "zeta eta theta iota")).toDF("doc_id", "text")
    val out = TempDirs.create("graft-est-postings").resolve("postings").toString
    TextOps.writePostingsLayout(spark, docs, out)
    // epoch 1: docs 1 and 3 leave; doc 2 is revised
    val dirty = Seq(1L, 2L, 3L).toDF("doc_id")
    val removed = TextOps.postingsOf(
        docs.join(dirty, Seq("doc_id"), "left_semi"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    TextOps.deleteFromPostings(spark, out, dirty, uptoGen = 0L)
    val reTok = Seq((2L, "alpha revised kappa")).toDF("doc_id", "text")
    TextOps.appendPostings(reTok, out, gen = 1L)
    val added = TextOps.postingsOf(reTok)
      .groupBy("term").agg(count(lit(1)).as("n"))
    TextOps.updateDfSidecar(spark, out, removed, added, gen = 1L)
    val est = TextOps.postingsCoveredFraction(out)
    val exact = SegmentedIndex.coveredFraction(spark,
      spark.read.parquet(out), out, keyCol = "doc_id", genCol = "gen")
    assert(math.abs(est - exact) < Tol,
      s"postings sidecar estimate $est != exact $exact")
    assert(est > 0.0)
  }

  /** Spark jobs submitted while `body` runs — the machine check that
    * a policy measurement is driver-side metadata only. The listener
    * bus is drained before and after so a previous test's stragglers
    * can't leak into the count. */
  private def sparkJobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftdiag.BusDiag.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graftdiag.BusDiag.waitUntilEmpty(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("tracked policy measurements run ZERO Spark jobs (kNN-shape estimate and postings variant)") {
    import spark.implicits._
    // gen-scoped tracked layout with live tombstones
    val out = TempDirs.create("graft-est-nojobs").resolve("edges").toString
    SegmentedIndex.appendSegment(
      (1L to 10L).flatMap(i => Seq((i, "a"), (i, "b"))).toDF("id", "payload"),
      out, gen = 0L)
    SegmentedIndex.writeRowCount(out,
      SegmentedIndex.footerRowCountOf(java.nio.file.Paths.get(out)))
    SegmentedIndex.tombstone((1L to 3L).toDF("id"), out, "id", uptoGen = 0L)
    val (est, jobs) = sparkJobsDuring {
      SegmentedIndex.coveredFractionEstimate(out, rowsPerInstance = 2.0)
    }
    assert(est == 6.0 / 20)
    assert(jobs == 0, s"tracked estimate submitted $jobs Spark job(s)")
    // postings variant: tombstones + df sidecar + _rowcount only
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha alpha delta"),
      (3L, "beta beta beta epsilon")).toDF("doc_id", "text")
    val pOut = TempDirs.create("graft-est-nojobs-postings")
      .resolve("postings").toString
    TextOps.writePostingsLayout(spark, docs, pOut)
    val dirty = Seq(1L).toDF("doc_id")
    val removed = TextOps.postingsOf(docs.join(dirty, Seq("doc_id"), "left_semi"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    TextOps.deleteFromPostings(spark, pOut, dirty, uptoGen = 0L)
    TextOps.updateDfSidecar(spark, pOut, removed, removed.limit(0), gen = 1L)
    val (pEst, pJobs) = sparkJobsDuring(TextOps.postingsCoveredFraction(pOut))
    assert(pEst > 0.0)
    assert(pJobs == 0, s"postings measurement submitted $pJobs Spark job(s)")
  }

  test("driver-side tombstone-instance scan equals the Spark distinct count on both sidecar shapes") {
    import spark.implicits._
    val gen = TempDirs.create("graft-inst-gen").resolve("edges").toString
    Seq((1L, "a")).toDF("id", "payload").write.parquet(gen)
    SegmentedIndex.tombstone((1L to 5L).toDF("id"), gen, "id", uptoGen = 0L)
    SegmentedIndex.tombstone(Seq(2L, 6L).toDF("id"), gen, "id", uptoGen = 3L)
    SegmentedIndex.tombstone(Seq(2L, 6L).toDF("id"), gen, "id", uptoGen = 3L) // replay
    assert(SegmentedIndex.tombstoneInstances(gen) ==
      SegmentedIndex.tombstoneInstancesSpark(spark, gen))
    assert(SegmentedIndex.tombstoneInstances(gen) == 7L)
    val plain = TempDirs.create("graft-inst-plain").resolve("corpus").toString
    Seq((1L, "a")).toDF("id", "payload").write.parquet(plain)
    SegmentedIndex.tombstone((1L to 4L).toDF("id"), plain, "id", uptoGen = Long.MaxValue)
    SegmentedIndex.tombstone(Seq(3L, 4L, 5L).toDF("id"), plain, "id", uptoGen = Long.MaxValue)
    assert(SegmentedIndex.tombstoneInstances(plain) ==
      SegmentedIndex.tombstoneInstancesSpark(spark, plain))
    assert(SegmentedIndex.tombstoneInstances(plain) == 5L)
  }

  test("an untracked layout fails LOUDLY at the policy sites instead of silently listing the layout") {
    import spark.implicits._
    val out = TempDirs.create("graft-est-untracked").resolve("edges").toString
    SegmentedIndex.appendSegment(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), out, gen = 0L)
    SegmentedIndex.tombstone(Seq(1L).toDF("id"), out, "id", uptoGen = 0L)
    intercept[IllegalArgumentException] {
      SegmentedIndex.maybeCompact(out) { _ => fail("must not rewrite") }
    }
    intercept[IllegalArgumentException] {
      SegmentedIndex.coveredFractionEstimate(out)
    }
  }
}
