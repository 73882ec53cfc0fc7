package graft.analytics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** Incremental IVF ingest ([[Similarity.appendIvfCorpus]]): appending
  * under the stored codebook must land every vector in the cell a
  * one-shot write with that codebook would have chosen, leave the
  * pruned probe intact, and never rewrite existing data. */
class IvfAppendSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("append == one-shot under the same codebook; base files untouched; probe pruned") {
    import java.nio.file.{Files, Paths}
    val tmp = graft.core.TempDirs.create("graft-ivf-append-spec")
    val out = s"$tmp/grown"
    val all = Dedup.normalizedVectors(spark, dir)
    Similarity.writeIvfLayout(all.filter(col("vec_id") % 2 === 0), out, k = 8, iters = 5)

    def dataFiles(): Set[String] = {
      val b = Set.newBuilder[String]
      Files.walk(Paths.get(out)).forEach { p =>
        val s = p.toString
        if (s.endsWith(".parquet") && !s.contains("_codebook")) b += s
      }
      b.result()
    }
    val baseFiles = dataFiles()

    Similarity.appendIvfCorpus(spark, out,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 2 =!= 0))

    // 1. base part files survive byte-for-byte untouched (append adds,
    //    never rewrites)
    assert(baseFiles.subsetOf(dataFiles()), "append rewrote existing part files")
    val dataFilesBeforeCompact = dataFiles().size
    assert(dataFilesBeforeCompact > baseFiles.size, "append added no files")

    // 2. every appended vector sits in the cell the stored codebook
    //    assigns — i.e. the grown layout equals a one-shot assignment
    //    of the full corpus under the base codebook
    val cents = Similarity.readIvfCodebook(out)
    val expected = all
      .withColumn("cell", Similarity.cellOf(cents, col("v"), col("norm")))
      .select(col("vec_id"), col("cell"))
    val stored = spark.read.parquet(out).select(col("vec_id"), col("cell"))
    assert(stored.count() == all.count(), "grown layout lost or duplicated vectors")
    assert(stored.exceptAll(expected).isEmpty && expected.exceptAll(stored).isEmpty,
      "appended cell assignments diverge from the one-shot codebook assignment")

    // 3. the pruned probe still carries cell partition filters after
    //    the append (pruning is the point of the layout)
    val queries = spark.read.parquet(out).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val probe = Similarity.ivfStoredTopK(spark, out, queries, k = 5, nProbe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"probe scan lost its cell PartitionFilters after append:\n$plan")
    val probeRows = probe.collect().map(_.toSeq).toSeq
    assert(probeRows.nonEmpty)

    // 4. compaction rewrites the accumulated files to one per cell
    //    without changing content, and the probe stays pruned
    Similarity.compactIvfCorpus(spark, out)
    val compactedFiles = dataFiles()
    val cellCount = spark.read.parquet(out).select("cell").distinct().count()
    assert(compactedFiles.size <= cellCount,
      s"compaction left ${compactedFiles.size} files for $cellCount cells")
    assert(compactedFiles.size < dataFilesBeforeCompact,
      "compaction did not reduce the live file count")
    val storedAfter = spark.read.parquet(out).select(col("vec_id"), col("cell"))
    assert(storedAfter.exceptAll(expected).isEmpty && expected.exceptAll(storedAfter).isEmpty,
      "compaction changed the stored content")
    // re-derive the query frame: the pre-compaction one holds a stale
    // file index over the swapped-out part files
    val queriesAfter = spark.read.parquet(out).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val probeAfter = Similarity.ivfStoredTopK(spark, out, queriesAfter, k = 5, nProbe = 2)
    assert("PartitionFilters: \\[[^\\]]*cell".r
      .findFirstIn(probeAfter.queryExecution.executedPlan.toString).isDefined,
      "probe scan lost its cell PartitionFilters after compaction")
    assert(probeAfter.collect().map(_.toSeq).toSeq == probeRows,
      "compaction changed probe results")
  }

  test("interleaved append/probe/compact loses nothing; crashed-run leftovers are cleared") {
    import java.nio.file.{Files, Paths}
    val tmp = graft.core.TempDirs.create("graft-ivf-interleave-spec")
    val out = s"$tmp/corpus"
    val all = Dedup.normalizedVectors(spark, dir)
    Similarity.writeIvfLayout(all.filter(col("vec_id") % 4 === 0), out, k = 8, iters = 5)
    // simulate a compaction that crashed mid-run: stale sibling dirs
    // (junk `_compacting` from before the swap, `_old` from between the
    // renames) must not poison the next maintenance pass
    Files.createDirectories(Paths.get(out + "_compacting/cell=0"))
    Files.write(Paths.get(out + "_compacting/junk.txt"), "stale".getBytes)
    Files.createDirectories(Paths.get(out + "_old"))
    Files.write(Paths.get(out + "_old/junk.txt"), "stale".getBytes)
    // the single-maintainer loop: append a quarter, compact, probe,
    // append the rest, compact, probe — content must equal the one-shot
    // assignment at every step and the two probes must agree
    def storedIds() = spark.read.parquet(out).select("vec_id")
    Similarity.appendIvfCorpus(spark, out,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 4 === 1))
    Similarity.compactIvfCorpus(spark, out)
    assert(!Files.exists(Paths.get(out + "_compacting")), "stale _compacting survived")
    assert(!Files.exists(Paths.get(out + "_old")), "stale _old survived")
    val half = all.filter(col("vec_id") % 4 <= 1).select("vec_id")
    assert(storedIds().exceptAll(half).isEmpty && half.exceptAll(storedIds()).isEmpty,
      "first append+compact lost or duplicated vectors")
    val queries = spark.read.parquet(out).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val probe1 = Similarity.ivfStoredTopK(spark, out, queries, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSeq
    Similarity.appendIvfCorpus(spark, out,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 4 >= 2))
    Similarity.compactIvfCorpus(spark, out)
    val allIds = all.select("vec_id")
    assert(storedIds().exceptAll(allIds).isEmpty && allIds.exceptAll(storedIds()).isEmpty,
      "second append+compact lost or duplicated vectors")
    // the first probe's result set must be reproducible from the grown
    // layout restricted to the rows it saw (compaction/append never
    // mutate or drop rows a reader already returned); the query frame
    // is re-derived — the earlier one indexes swapped-out part files
    val queriesAgain = spark.read.parquet(out)
      .filter(col("vec_id") % 100 === 0 && col("vec_id") % 4 <= 1)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val probe1Again = Similarity.ivfStoredTopK(spark, out,
        queriesAgain, k = 5, nProbe = 2)
      .join(spark.read.parquet(out).filter(col("vec_id") % 4 <= 1)
        .select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"), "left_semi")
    assert(probe1.nonEmpty && probe1Again.count() >= probe1.size / 2,
      "grown layout no longer reproduces the earlier probe's neighbor set")
  }

  test("append fails fast on a schema mismatch; metadata columns ride through") {
    import java.nio.file.Files
    val tmp = graft.core.TempDirs.create("graft-ivf-schema-spec")
    val out = s"$tmp/corpus"
    // layout with a denormalized metadata column (the s13 shape)
    val corpus = Dedup.normalizedVectors(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
    Similarity.writeIvfLayout(corpus.filter(col("vec_id") % 2 === 0), out, k = 8, iters = 5)
    // appending WITHOUT the metadata column must fail loudly, not
    // write rows that read back with null lang
    val bare = Tables.embeddings(spark, dir).filter(col("vec_id") % 2 =!= 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendIvfCorpus(spark, out, bare)
    }
    assert(e.getMessage.contains("schema mismatch"))
    // appending WITH it carries the values into the layout, so a
    // filtered probe sees the appended vectors
    Similarity.appendIvfCorpus(spark, out,
      bare.join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("lang")), "vec_id"))
    val appendedEn = spark.read.parquet(out)
      .filter(col("vec_id") % 2 =!= 0 && col("lang") === "en")
    assert(appendedEn.count() > 0, "appended rows lost their metadata column")
    assert(spark.read.parquet(out).filter(col("lang").isNull).count() == 0)
  }

  test("s11 gate recall floor vs the exact baseline") {
    // the half-corpus codebook costs some recall vs s03's full-corpus
    // fit (0.74 vs 0.78 at sf0.01) — the floor catches a degenerate
    // append (e.g. all vectors dumped in one cell), with headroom for
    // fixture drift only
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().toSeq
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val exact = topSets(Similarity.s01BruteForceTopK(spark, dir))
    val grown = topSets(Similarity.s11IvfAppend(spark, dir))
    assert(exact.nonEmpty)
    val per = exact.map { case (q, ex) =>
      grown.get(q).map(ap => ap.intersect(ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val r = per.sum / per.size
    info(s"recall: s11=$r")
    assert(r >= 0.5, s"appended-layout recall too low: $r")
  }
}
