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
      SegmentedIndex.live(spark, spark.read.parquet(out), out,
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
    // the rewrite keeps B's generation, and holds B's new vector only
    assert(liveRows() == Set((b, 1L)))
    assert(spark.read.parquet(out).filter(col("vec_id").isin(a, b))
      .select("vec_id", "v").as[(Long, Seq[Double])].collect().toSeq == Seq((b, bNew)))
  }

  test("the plain IVF layout stores gen: 0 at build, the explicit or ad-hoc generation on append, kept by compaction") {
    import spark.implicits._
    val out = graft.core.TempDirs.create("graft-ivf-gen-spec").resolve("index").toString
    val vecs = Dedup.normalizedVectors(spark, dir)
    Similarity.writeIvfLayout(vecs, out, k = 8, iters = 5)
    def gens(): Map[Long, Long] =
      spark.read.parquet(out).select("vec_id", "gen").as[(Long, Long)].collect().toMap
    val built = gens()
    assert(built.nonEmpty && built.values.forall(_ == 0L))
    val cents = Similarity.readIvfCodebook(out)
    val emb = vecs.select(col("vec_id"), col("v").as("embedding")).limit(2)
    Similarity.appendIvfCorpusWith(cents, out,
      emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
      spark.read.parquet(out).columns.toSet, gen = 3L)
    Similarity.appendIvfCorpus(spark, out,
      emb.select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
    val appended = gens()
    val explicit = appended.filter(_._1 >= 1000000L).filter(_._1 < 2000000L)
    val adhoc = appended.filter(_._1 >= 2000000L)
    assert(explicit.size == 2 && explicit.values.forall(_ == 3L))
    assert(adhoc.size == 2 && adhoc.values.toSet.size == 1 && adhoc.values.head >= 1000000000L)
    Similarity.deleteFromIvfCorpus(spark, out, Seq(built.keys.min).toDF("vec_id"))
    Similarity.compactIvfCorpus(spark, out)
    assert(gens() == appended - built.keys.min)
  }

  test("a gen-scoped delete and re-append reads the same live generations on the plain and the PQ layout") {
    import spark.implicits._
    val root = graft.core.TempDirs.create("graft-ivf-pq-scope-spec")
    val vecs = Dedup.normalizedVectors(spark, dir).filter(col("vec_id") % 4 === 0)
    val plain = root.resolve("plain").toString
    val pq = root.resolve("pq").toString
    Similarity.writeIvfLayout(vecs, plain, k = 8, iters = 5)
    Similarity.writeIvfPqLayout(vecs, pq, k = 8, iters = 5)
    val ids = vecs.select("vec_id").as[Long].collect().sorted
    val (a, b) = (ids(1), ids(2))
    val dirty = Seq(a, b).toDF("vec_id")
    val adds = vecs.filter(col("vec_id") === b).select(col("vec_id"), col("v").as("embedding"))
    Similarity.applyIvfBatch(spark, Similarity.readIvfCodebook(plain),
      spark.read.parquet(plain).columns.toSet, plain, gen = 1L, dirty = dirty, adds = adds)
    Similarity.applyIvfPqBatch(spark, Similarity.readIvfCodebook(pq),
      Similarity.readPqCodebooks(pq), pq, gen = 1L, dirty = Some(dirty), adds = Some(adds))
    def live(path: String, tomb: String): Set[(Long, Long)] =
      SegmentedIndex.live(spark, spark.read.parquet(path), tomb, keyCol = "vec_id", genCol = "gen")
        .select("vec_id", "gen").as[(Long, Long)].collect().toSet
    def check(when: String): Unit = {
      val p = live(plain, plain)
      assert(p == live(pq, pq) && p == live(s"$pq/_refine", pq), when)
      assert(!p.exists(_._1 == a) && p.filter(_._1 == b) == Set((b, 1L)), s"$when: $p")
    }
    check("before compaction")
    Similarity.compactIvfCorpus(spark, plain)
    Similarity.compactIvfPqCorpus(spark, pq)
    check("after compaction")
  }
}
