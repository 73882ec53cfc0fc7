package graft.analytics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** Streaming append into the stored IVF layout (st13): per-microbatch
  * assignment under the stored codebook is per-row deterministic and
  * the on-disk append is content-commutative, so the grown layout must
  * equal the one-shot batch assignment of the full corpus under the
  * base codebook and be invariant to arrival slicing. */
class StreamVecAppendSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def layoutCells(out: String): Seq[Seq[Any]] =
    spark.read.parquet(out)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
      .orderBy("cell").collect().map(_.toSeq).toSeq

  test("streamed append equals the one-shot batch assignment; trickle equals one-shot") {
    import java.nio.file.{Files, Paths}

    // gate result (its own base build + streamed odd half)
    val gate = StreamingQueries.st13StreamVecAppend(spark, dir)
      .collect().map(_.toSeq).toSeq

    // batch expectation: full corpus assigned under a base codebook
    // fit the same way (even half, same k/iters — the fit is
    // deterministic, so codebooks agree across builds)
    val tmp = graft.core.TempDirs.create("graft-stream-vec-append-spec")
    val base = s"$tmp/base"
    val all = Dedup.normalizedVectors(spark, dir)
    Similarity.writeIvfLayout(all.filter(col("vec_id") % 2 === 0), base, k = 16, iters = 10)
    val cents = Similarity.readIvfCodebook(base)
    val batch = all
      .withColumn("cell", Similarity.cellOf(cents, col("v"), col("norm")))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
      .orderBy("cell").collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty && gate == batch,
      "streamed layout diverges from the one-shot batch assignment")

    // trickle: odd half arriving one file per microbatch into a fresh
    // copy of the base layout must land the identical layout
    val staging = s"$tmp/staging"
    spark.read.parquet(s"$dir/embeddings.parquet").repartition(3)
      .write.parquet(staging)
    val parts = Files.list(Paths.get(staging)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).sorted
    assert(parts.length == 3)
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = Paths.get(s"$tmp/split$i")
      Files.createDirectories(d)
      Files.move(Paths.get(p), d.resolve("embeddings.parquet"))
    }
    val trickleOut = s"$tmp/trickled"
    Similarity.writeIvfLayout(all.filter(col("vec_id") % 2 === 0), trickleOut,
      k = 16, iters = 10)
    // compact after every microbatch: the harshest maintenance cadence
    // must leave content untouched AND bound the live file count
    StreamingQueries.vecAppendDrive(spark, s"$tmp/split*", trickleOut, Some(1),
      compactEvery = 1)
    assert(layoutCells(trickleOut) == batch,
      "trickled append diverges from the one-shot layout")
    val files = Files.walk(Paths.get(trickleOut)).iterator()
    var n = 0
    files.forEachRemaining { p =>
      val s = p.toString
      if (s.endsWith(".parquet") && !s.contains("_codebook")) n += 1
    }
    val cells = batch.size
    assert(n <= cells,
      s"in-stream compaction left $n live files for $cells cells")
  }
}
