package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** [[ParquetRows.frame]] resolves a parquet path's schema on the
  * driver and must read exactly what `spark.read.parquet` reads — the
  * same schema (partition columns included) and the same rows — over
  * every fixture table and every layout the library writes, without
  * the schema-inference job: building the frame and reading its
  * columns runs no Spark job. A path with no data file fails as
  * Spark's own read fails. */
class ParquetFrameSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertAsSpark(s: SparkSession, paths: String*): Unit = {
    val want = s.read.parquet(paths: _*)
    val got = ParquetRows.frame(s, paths: _*)
    assert(got.schema == want.schema,
      s"$paths:\n${got.schema.treeString}\nvs Spark's\n${want.schema.treeString}")
    assert(rows(got) == rows(want), s"$paths: rows differ from Spark's read")
  }

  private def layout(name: String): String = TempDirs.create(s"graft-frame-$name").resolve("t").toString

  private def entries(from: Long, until: Long) =
    spark.range(from, until).select(col("id").as("doc_id"), (col("id") * 7 % 5).as("ahash"),
      col("id").cast("string").as("label"), (col("id") / 4.0).as("score"))

  test("fixture tables match Spark's read; events under both nanosAsLong values") {
    val tables = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(tables.contains("events.parquet") && tables.contains("documents.parquet"))
    tables.filterNot(_ == "events.parquet").foreach(t => assertAsSpark(spark, s"$dir/$t"))
    Seq("false", "true").foreach { nanos =>
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
      assertAsSpark(s, s"$dir/events.parquet")
    }
  }

  test("append log, gen= and cell= layouts, a file list, a layout with sidecars") {
    val log = layout("log")
    entries(0, 40).write.parquet(log)
    entries(40, 55).withColumn("op", lit("rm")).coalesce(1).write.mode("append").parquet(log)
    assertAsSpark(spark, log)

    val gens = layout("gen")
    SegmentedIndex.appendSegment(entries(0, 30), gens, 0L)
    SegmentedIndex.appendSegment(entries(30, 45), gens, 1L)
    assertAsSpark(spark, gens)
    assert(ParquetRows.frame(spark, gens).columns.last == "gen")

    val cells = layout("cell")
    entries(0, 60).withColumn("cell", col("doc_id") % 4).write.partitionBy("cell").parquet(cells)
    assertAsSpark(spark, cells)
    // a file list, as the zone-map pruned reads pass it: no partition columns
    assertAsSpark(spark, ParquetRows.dataFiles(Paths.get(cells)).map(_.toUri.toString).sorted.reverse: _*)

    SegmentedIndex.writeRowCount(gens, 45L)
    SegmentedIndex.tombstone(entries(3, 9), gens, keyCol = "doc_id", uptoGen = 0L)
    assert(Files.isDirectory(Paths.get(gens, "_tombstones")))
    assert(Files.exists(Paths.get(gens, "_rowcount")))
    assertAsSpark(spark, gens)
    assertAsSpark(spark, s"$gens/_tombstones")
  }

  test("building the frame and reading its columns runs no Spark job") {
    val gens = layout("jobs")
    SegmentedIndex.appendSegment(entries(0, 20), gens, 0L)
    Seq(gens, s"$dir/documents.parquet", s"$dir/lineitem.parquet").foreach { p =>
      val (_, inferred) = Trace.measure(spark)(spark.read.parquet(p).columns)
      assert(inferred.jobs >= 1, s"$p: Spark's inference ran no job, so this measures nothing")
      val (cols, cost) = Trace.measure(spark)(ParquetRows.frame(spark, p).columns)
      assert(cost.jobs == 0, s"$p: the frame ran ${cost.jobs} Spark jobs")
      assert(cols.toSeq == spark.read.parquet(p).columns.toSeq)
    }
  }

  test("a missing or empty path fails as spark.read.parquet fails") {
    val missing = layout("missing")
    val empty = Files.createDirectories(Paths.get(layout("empty"))).toString
    Seq(missing, empty).foreach { p =>
      val want = intercept[AnalysisException](spark.read.parquet(p))
      val got = intercept[AnalysisException](ParquetRows.frame(spark, p))
      assert(got.getCondition == want.getCondition && got.getMessage == want.getMessage)
    }
  }
}
