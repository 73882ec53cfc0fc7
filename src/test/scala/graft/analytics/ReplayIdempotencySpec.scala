package graft.analytics

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SegmentedIndex, TempDirs}
import graft.store.SparkTestSession

/** The per-generation OVERWRITE append ([[SegmentedIndex.publishGeneration]])
  * and its adopters: an at-least-once maintainer replaying a batch must
  * land on the same stored bytes — no duplicated postings, codes, or
  * refine rows — which the r13 layouts only guaranteed on the tombstone
  * side. */
class ReplayIdempotencySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dataFiles(out: String): Seq[String] = {
    def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      Files.list(p).iterator().asScala.toList.flatMap { c =>
        val n = c.getFileName.toString
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (Files.isDirectory(c)) walk(c)
        else Seq(c)
      }
    walk(Paths.get(out)).map(p => Paths.get(out).relativize(p).toString).sorted
  }

  test("publishGeneration: a replay replaces its own prior attempt; other generations survive") {
    val out = TempDirs.create("graft-pubgen").resolve("layout").toString
    Files.createDirectories(Paths.get(out))
    SegmentedIndex.publishGeneration(out, 1) { stage =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .repartition(1).write.mode("overwrite").parquet(stage)
    }
    SegmentedIndex.publishGeneration(out, 2) { stage =>
      Seq((3L, "c")).toDF("id", "v")
        .repartition(1).write.mode("overwrite").parquet(stage)
    }
    assert(spark.read.parquet(out).count() == 3)
    // replay generation 1 with DIFFERENT content (a redelivered batch
    // recomputes the same frame in production; different content here
    // proves the old files are really gone, not shadowed)
    SegmentedIndex.publishGeneration(out, 1) { stage =>
      Seq((9L, "z")).toDF("id", "v")
        .repartition(1).write.mode("overwrite").parquet(stage)
    }
    val rows = spark.read.parquet(out).as[(Long, String)].collect().toSet
    assert(rows == Set((9L, "z"), (3L, "c")),
      s"replay did not replace generation 1: $rows")
    // every published file is gen-prefixed; no stage dir survives
    assert(dataFiles(out).forall(f =>
      f.startsWith("gen1-") || f.startsWith("gen2-")), dataFiles(out))
    assert(!Files.list(Paths.get(out)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("_stage")))
  }

  test("publishGeneration mirrors partition dirs (cell=N) and leaves sidecars alone") {
    val out = TempDirs.create("graft-pubgen-part").resolve("layout").toString
    Files.createDirectories(Paths.get(out, "_sidecar"))
    Files.write(Paths.get(out, "_sidecar", "keep.txt"), "x".getBytes)
    SegmentedIndex.publishGeneration(out, 1) { stage =>
      Seq((1L, 0), (2L, 1)).toDF("id", "cell")
        .repartition(1).write.mode("overwrite").partitionBy("cell").parquet(stage)
    }
    SegmentedIndex.publishGeneration(out, 1) { stage =>
      Seq((5L, 0)).toDF("id", "cell")
        .repartition(1).write.mode("overwrite").partitionBy("cell").parquet(stage)
    }
    val rows = spark.read.parquet(out).select("id", "cell")
      .as[(Long, Int)].collect().toSet
    assert(rows == Set((5L, 0)), s"partitioned replay left stale rows: $rows")
    assert(Files.exists(Paths.get(out, "_sidecar", "keep.txt")))
  }

  test("appendPostings replay lands on the same live rows") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).limit(32)
      .select(col("doc_id"), col("text"))
    val out = TempDirs.create("graft-replay-postings")
      .resolve("postings").toString
    TextOps.writePostingsLayout(spark, docs, out)
    val extra = Seq((-1L, "alpha beta"), (-2L, "beta gamma")).toDF("doc_id", "text")
    TextOps.appendPostings(extra, out, gen = 1L)
    val once = spark.read.parquet(out).count()
    TextOps.appendPostings(extra, out, gen = 1L)
    assert(spark.read.parquet(out).count() == once,
      "replayed postings append duplicated rows")
    // the df-sidecar fold is idempotent too: the batch's delta lands
    // as a per-generation OVERWRITE segment, so a replay replaces its
    // own prior fold instead of double-counting (the pre-r14 in-place
    // additive fold was the loop's one remaining non-idempotent write)
    def eff = TextOps.readDfSidecar(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val rem = Seq(("alpha", 1L)).toDF("term", "n")
    val add = Seq(("beta", 2L)).toDF("term", "n")
    TextOps.updateDfSidecar(spark, out, rem, add, gen = 1L)
    val foldedOnce = eff
    TextOps.updateDfSidecar(spark, out, rem, add, gen = 1L)
    assert(eff == foldedOnce, "replayed sidecar fold double-counted")
  }

  test("IVF-PQ append replay lands on the same stored code and refine rows") {
    val dir = "/root/testdata/sf0.001"
    val spark2 = spark
    val base = Pipeline.p11BaselineLayout(spark2, dir)
    val out = Pipeline.copyBaseline(base,
      TempDirs.create("graft-replay-pq").resolve("index"))
    val add = Pipeline.p11Vectors(
      Tables.documents(spark2, dir).limit(8)
        .select((-(col("doc_id") + 1L)).as("doc_id"), col("text")))
    Similarity.appendIvfPqCorpus(spark2, out, add, gen = 1L)
    val codes1 = spark2.read.parquet(out).count()
    val refine1 = spark2.read.parquet(s"$out/_refine").count()
    Similarity.appendIvfPqCorpus(spark2, out, add, gen = 1L)
    assert(spark2.read.parquet(out).count() == codes1,
      "replayed PQ append duplicated code rows")
    assert(spark2.read.parquet(s"$out/_refine").count() == refine1,
      "replayed PQ append duplicated refine rows")
  }

  test("each family's CDC-batch apply, replayed at the same generation, lands on the same live rows") {
    val dir = "/root/testdata/sf0.001"
    val root = TempDirs.create("graft-replay-apply")
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // apply, apply again at the same generation: the replay must change
    // nothing, and the first apply must have changed something
    def replay(family: String, live: () => Seq[String])(apply: => Unit): Unit = {
      val before = live()
      apply
      val once = live()
      assert(once != before, s"$family: the batch changed no live row")
      apply
      assert(live() == once, s"$family: the replayed batch changed the live rows")
    }
    // every family: the two lowest ids are dirty, the lowest re-added
    // with new content, and id -1 added
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .orderBy("doc_id").limit(32).as[(Long, String)].collect().toSeq
    val pOut = root.resolve("postings").toString
    TextOps.writePostingsLayout(spark, docs.toDF("doc_id", "text"), pOut)
    val pIds = docs.map(_._1).take(2)
    val textAdds = Seq((pIds(0), "alpha beta"), (-1L, "beta gamma")).toDF("doc_id", "text")
    replay("postings", () => sorted(TextOps.postingsLive(spark, pOut)) ++
        sorted(TextOps.readDfSidecar(spark, pOut))) {
      TextOps.applyPostingsBatch(spark, pOut, gen = 1L,
        dirty = Some(pIds.toDF("doc_id")), addDocs = Some(textAdds),
        rmDocs = Some(docs.filter(d => pIds.contains(d._1)).toDF("doc_id", "text")))
    }

    val vOut = Pipeline.copyBaseline(Pipeline.p08BaselineLayout(spark, dir), root.resolve("ivf"))
    val stored = spark.read.parquet(vOut).select("vec_id", "v").as[(Long, Seq[Double])]
      .collect().sortBy(_._1).take(2)
    val vecAdds = Seq((stored(0)._1, stored(0)._2.map(-_)), (-1L, stored(1)._2))
      .toDF("vec_id", "embedding")
    replay("ivf", () => sorted(SegmentedIndex.live(spark,
        spark.read.parquet(vOut), vOut, "vec_id", "gen"))) {
      Similarity.applyIvfBatch(spark, Similarity.readIvfCodebook(vOut),
        spark.read.parquet(vOut).columns.toSet, vOut, gen = 1L,
        dirty = stored.map(_._1).toSeq.toDF("vec_id"), adds = vecAdds)
    }

    val qOut = Pipeline.copyBaseline(Pipeline.p11BaselineLayout(spark, dir), root.resolve("pq"))
    val (cents, books) = Pipeline.p11Codebooks(spark, dir)
    val qIds = spark.read.parquet(qOut).select("vec_id").as[Long].collect().sorted.take(2)
    def qLive(path: String) =
      sorted(SegmentedIndex.live(spark, spark.read.parquet(path), qOut, "vec_id", "gen"))
    replay("ivf-pq", () => qLive(qOut) ++ qLive(s"$qOut/_refine")) {
      Similarity.applyIvfPqBatch(spark, cents, books, qOut, gen = 1L,
        dirty = Some(qIds.toSeq.toDF("vec_id")),
        adds = Some(Pipeline.p11Vectors(textAdds.withColumn("doc_id",
          when(col("doc_id") === pIds(0), qIds(0)).otherwise(col("doc_id"))))))
    }
  }
}
