package graft.store

import java.nio.file.Paths
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{AssetValue, ParquetRows}

/** A driver-side write killed before its rename leaves only a
  * dot-prefixed temp file, which no reader lists; reopening the store
  * deletes it, and the store reads as if the write never happened. */
class TableStoreCrashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a write halted before its rename leaves no trace after reopen") {
    val dir = graft.core.TempDirs.create("graft-crash-spec")
    val db = new TableStore(spark, dir.toString)
    db.putMenu("""{"v": 1}""", "p", "e")
    db.close()

    val t = TableStore.table("menu")
    val partDir = ParquetRows.partitionDir(dir.resolve("menu"), t.partitionCols, Seq("p", "e"))
    // classpath for the forked JVM: the test and main class directories
    // and every jar beside Spark's
    val cp = (Seq(CrashWorker.getClass, ParquetRows.getClass)
      .map(_.getProtectionDomain.getCodeSource.getLocation.getPath) :+
      Paths.get(classOf[org.apache.spark.sql.Row].getProtectionDomain.getCodeSource.getLocation.toURI)
        .getParent.resolve("*").toString).distinct.mkString(java.io.File.pathSeparator)
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val worker = new ProcessBuilder(javaBin, "-Xmx256m", "-cp", cp, "graft.store.CrashWorker", partDir.toString)
      .redirectErrorStream(true).start()
    assert(worker.waitFor(120, TimeUnit.SECONDS), "worker timed out")
    val out = new String(worker.getInputStream.readAllBytes(), "UTF-8")
    assert(worker.exitValue() == CrashWorker.Halted, s"worker did not reach the halt: $out")
    assert(ParquetRows.tempFiles(dir).nonEmpty, "the worker halted before its temp file existed")

    val reopened = new TableStore(spark, dir.toString)
    try {
      assert(ParquetRows.tempFiles(dir).isEmpty, "the interrupted write's temp file survived the reopen")
      assert(reopened.getMenu("p", "e") == AssetValue.Json("""{"v": 1}"""))
      assert(reopened.listAll().size == 1)
      assert(reopened.liveFrame("menu").get.count() == 1)
      assert(reopened.snapshotSeq() < Long.MaxValue - 1)
    } finally reopened.close()
  }
}
