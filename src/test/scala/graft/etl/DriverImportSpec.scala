package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{AssetValue, ParquetRows, Trace}
import graft.store.{Fixture, JsonFileStore, SparkTestSession, TableStore}

/** The store operations that name partitions run in the driver: a bulk
  * import, a flush, a catalog listing and an experiment delete each
  * start no Spark job ([[graft.core.Trace]] counts them). The import
  * carries exactly what the source lists, by content hash as av06's
  * replica audit compares them, and writes one file per
  * `(table, partition directory)`. */
class DriverImportSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bulk import, flush, query and rmExperimentData run no Spark job") {
    val srcDir = graft.core.TempDirs.create("graft-driver-import-src")
    Fixture.build(srcDir)
    val src = new JsonFileStore(srcDir.toString)
    val db = new TableStore(spark, graft.core.TempDirs.create("graft-driver-import-dst").toString)
    try {
      val (n, importCost) = Trace.measure(spark)(CopyDb.bulkImport(spark, src, db))
      assert(importCost.jobs == 0, s"bulk import ran ${importCost.jobs} Spark jobs")
      assert(n == src.listAll().size)
      // exactly the source's assets, payloads included (av06's audit)
      val srcHashes = graft.catalog.Catalog.contentHashes(spark, srcDir.toString).collect().toSet
      assert(db.contentHashFrame().collect().toSet == srcHashes)
      assert(srcHashes.size == n)
      // one file per (table, partition directory)
      val files = TableStore.tables.flatMap(t =>
        ParquetRows.dataFiles(java.nio.file.Paths.get(db.basedir, t.name)))
      val dirs = src.assetFiles().map { case (e, _) =>
        val t = TableStore.table(TableStore.tableFor(e.route))
        t.name -> t.partitionCols.map(c => e.meta.get(c).filter(_.nonEmpty).orNull)
      }.distinct
      assert(files.size == dirs.size)
      assert(files.map(_.getParent).distinct.size == files.size)

      db.putMenu("""{"late": 1}""", "project", "experiment")
      db.rmByUri(db.query(kwargs = Map("project" -> "project", "experiment" -> "experiment"))
        .find(_.route == graft.core.Route.Ranges).get.uri)
      val (_, flushCost) = Trace.measure(spark)(db.flushAll())
      assert(flushCost.jobs == 0, s"flush ran ${flushCost.jobs} Spark jobs")
      assert(db.getMenu("project", "experiment") == AssetValue.Json("""{"late": 1}"""))
      val (listed, queryCost) = Trace.measure(spark)(db.query())
      assert(queryCost.jobs == 0, s"query ran ${queryCost.jobs} Spark jobs")
      assert(listed.size == n - 1)
      val (_, rmCost) = Trace.measure(spark)(db.rmExperimentData("project", "experiment"))
      assert(rmCost.jobs == 0, s"rmExperimentData ran ${rmCost.jobs} Spark jobs")
      assert(db.query(kwargs = Map("project" -> "project", "experiment" -> "experiment")).isEmpty)
      assert(db.listAll().size == src.query().count(e =>
        !(e.meta.get("project").contains("project") && e.meta.get("experiment").contains("experiment"))))
    } finally { src.close(); db.close() }
  }
}
