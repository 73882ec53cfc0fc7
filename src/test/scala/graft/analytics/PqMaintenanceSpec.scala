package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.store.SparkTestSession

/** IVF-PQ stored-index maintenance lifecycle (the PQ member of the
  * index-maintenance family — IncrementalIndexSpec's contracts over
  * the code layout + `_refine` sidecar):
  *  - a tombstoned id disappears from ADC probes IMMEDIATELY, with no
  *    data file touched;
  *  - compaction applies tombstones physically to the codes AND the
  *    refine sidecar, clears them, and keeps both codebooks;
  *  - a post-compaction append under the stored codebooks resurrects
  *    the id and is probe-visible;
  *  - the full p11 loop equals a from-scratch PQ rebuild of the new
  *    snapshot under the same quantizers (also Verify's
  *    `p11_eq_fullrebuild`). */
class PqMaintenanceSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("PQ tombstone hides ids at ADC time; compaction applies to codes AND refine") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val out = graft.core.TempDirs.create("graft-pq-del-spec").resolve("index").toString
    val vecs = Dedup.normalizedVectors(spark, dir)
    Similarity.writeIvfPqLayout(vecs, out, k = 8, iters = 5)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    // materialized EAGERLY: the final round-trip compare re-executes
    // this frame after the compaction deleted its construction-time
    // files (stale plans keep their snapshot only until the files go)
    val before = Similarity.ivfPqStoredTopK(spark, out, queries, k = 10)
      .localCheckpoint(true)
    val victim = before.filter(col("rnk") === 1)
      .select("neighbor_id").first().getLong(0)

    def dataFiles() = Files.walk(Paths.get(out)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("/_"))
      .map(_.toString).toSet
    val filesBefore = dataFiles()

    import spark.implicits._
    Similarity.deleteFromIvfCorpus(spark, out, Seq(victim).toDF("vec_id"))
    val after = Similarity.ivfPqStoredTopK(spark, out, queries, k = 10)
    assert(after.filter(col("neighbor_id") === victim).isEmpty,
      s"tombstoned id $victim still surfaces in ADC probes")
    assert(dataFiles() == filesBefore,
      "tombstoning must not touch any data file")

    val rowsBefore = spark.read.parquet(out).count()
    val refineBefore = spark.read.parquet(s"$out/_refine").count()
    Similarity.compactIvfPqCorpus(spark, out)
    assert(!Files.isDirectory(Paths.get(out, "_tombstones")),
      "compaction must clear the applied tombstones")
    assert(spark.read.parquet(out).count() == rowsBefore - 1,
      "compaction must drop the tombstoned CODE row physically")
    assert(spark.read.parquet(s"$out/_refine").count() == refineBefore - 1,
      "compaction must drop the tombstoned REFINE row physically")
    assert(spark.read.parquet(s"$out/_refine")
        .filter(col("vec_id") === victim).isEmpty)
    // both codebooks survive the rewrite
    assert(spark.read.parquet(s"$out/_codebook").count() == 8)
    assert(spark.read.parquet(s"$out/_pq_codebooks").count() > 0)

    // post-epoch re-append under the STORED codebooks resurrects the id
    Similarity.appendIvfPqCorpus(spark, out,
      Tables.embeddings(spark, dir).filter(col("vec_id") === victim))
    val resurrected = Similarity.ivfPqStoredTopK(spark, out, queries, k = 10)
    assert(resurrected.filter(col("neighbor_id") === victim).count() > 0,
      "post-compaction append must be probe-visible again")
    // and the resurrected probe equals the pre-delete probe exactly:
    // same vectors, same codebooks, same ranking
    assert(resurrected.exceptAll(before).isEmpty &&
      before.exceptAll(resurrected).isEmpty,
      "delete -> compact -> re-append round trip must restore the probe exactly")
  }

  test("gen-scoped tombstone: same-epoch delete + re-append is live with NO compaction") {
    import spark.implicits._
    val out = graft.core.TempDirs.create("graft-pq-gen-spec").resolve("index").toString
    val vecs = Dedup.normalizedVectors(spark, dir)
    Similarity.writeIvfPqLayout(vecs, out, k = 8, iters = 5)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val victim = Similarity.ivfPqStoredTopK(spark, out, queries, k = 10)
      .filter(col("rnk") === 1).select("neighbor_id").first().getLong(0)
    // the streaming-batch move: tombstone covering gen 0, re-append at
    // gen 1 in the same epoch — no compaction in between
    Similarity.deleteFromIvfCorpus(spark, out, Seq(victim).toDF("vec_id"),
      uptoGen = 0L)
    Similarity.appendIvfPqCorpus(spark, out,
      Tables.embeddings(spark, dir).filter(col("vec_id") === victim), gen = 1L)
    val probe = Similarity.ivfPqStoredTopK(spark, out, queries, k = 10)
    assert(probe.filter(col("neighbor_id") === victim).count() > 0,
      "re-append above the tombstoned generation must be live immediately")
    // and exactly ONCE per query list: the old refine row must not
    // double-score the id (the refine-side live view)
    assert(probe.groupBy("query_id", "neighbor_id").count()
      .filter(col("count") > 1).isEmpty,
      "probe returned a (query, neighbor) pair more than once — stale refine row scored")
  }

  test("st25 streamed PQ maintenance equals the p11 batch loop") {
    val streamed = StreamingQueries.st25StreamPqMaintain(spark, dir)
    val batch = Pipeline.p11IncrementalPqIndex(spark, dir)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed PQ maintainer drifted from the batch loop")
  }

  test("p11 incremental PQ maintenance equals the full rebuild of snapshot B") {
    val maintained = Pipeline.p11IncrementalPqIndex(spark, dir)
    val rebuilt = Pipeline.p11FullRebuildProbe(spark, dir)
    assert(maintained.count() > 0)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "incremental PQ maintenance drifted from the from-scratch rebuild")
  }
}
