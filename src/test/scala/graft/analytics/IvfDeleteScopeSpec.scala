package graft.analytics

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SegmentedIndex
import graft.store.SparkTestSession

/** Both delete scopes on ONE plain IVF layout between two compactions:
  * id A deleted with the default `uptoGen` (every generation), id B
  * deleted at `uptoGen = 0` and re-appended at generation 1 with a new
  * vector. The probe, the live view and the compaction that follows
  * must agree: A gone, B's old row gone, B's new row live. */
class IvfDeleteScopeSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("epoch-wide and scoped deletes on one plain IVF layout: probe, live view and compaction agree") {
    import spark.implicits._
    val out = graft.core.TempDirs.create("graft-ivf-scope-spec").resolve("index").toString
    val vecs = Dedup.normalizedVectors(spark, dir)
    Similarity.writeIvfLayout(vecs, out, k = 8, iters = 5)
    val ids = vecs.select("vec_id").as[Long].collect().sorted
    val (a, b) = (ids(1), ids(2))
    val vOf = vecs.filter(col("vec_id").isin(a, b)).select("vec_id", "v")
      .as[(Long, Seq[Double])].collect().toMap
    // B's re-appended vector points the other way: its old and new rows
    // answer different queries
    val bNew = vOf(b).map(-_)

    Similarity.deleteFromIvfCorpus(spark, out, Seq(a).toDF("vec_id"))
    Similarity.deleteFromIvfCorpus(spark, out, Seq(b).toDF("vec_id"), uptoGen = 0L)
    Similarity.appendIvfCorpusWith(Similarity.readIvfCodebook(out), out,
      Seq((b, bNew)).toDF("vec_id", "embedding"), spark.read.parquet(out).columns.toSet,
      gen = 1L)

    // one query per vector: -1 = A's, -2 = B's old, -3 = B's new
    def norm(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    val queries = Seq((-1L, vOf(a)), (-2L, vOf(b)), (-3L, bNew))
      .map { case (q, v) => (q, v, norm(v)) }.toDF("query_id", "qv", "qnorm")
    def hits(): Set[(Long, Long, Double)] =
      Similarity.ivfStoredTopK(spark, out, queries, k = 10)
        .filter(col("neighbor_id").isin(a, b))
        .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
        .collect().toSet
    def liveRows(): Set[(Long, Long)] =
      SegmentedIndex.live(spark, Similarity.withFileGen(spark.read.parquet(out)), out,
          keyCol = "vec_id", genCol = "gen")
        .filter(col("vec_id").isin(a, b)).select("vec_id", "gen").as[(Long, Long)]
        .collect().toSet
    def assertOnlyBNew(when: String): Unit = {
      val h = hits()
      assert(!h.exists(_._2 == a), s"$when: A surfaces in probes: $h")
      assert(!h.contains((-2L, b, 1.0)), s"$when: B's old row surfaces in probes: $h")
      assert(h.contains((-3L, b, 1.0)), s"$when: B's re-append is missing from probes: $h")
    }

    assertOnlyBNew("before compaction")
    assert(liveRows() == Set((b, 1L)))

    Similarity.compactIvfCorpus(spark, out)
    assert(!Files.isDirectory(Paths.get(out, "_tombstones")))
    assertOnlyBNew("after compaction")
    // the rewrite is generation 0, and holds B's new vector only
    assert(liveRows() == Set((b, 0L)))
    assert(spark.read.parquet(out).filter(col("vec_id").isin(a, b))
      .select("vec_id", "v").as[(Long, Seq[Double])].collect().toSeq == Seq((b, bNew)))
  }
}
