package graft.etl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{AssetStore, Fixture, JsonFileStore, SparkTestSession, TableStore}

/** Cross-backend equivalence via copy — the reference's bootstrap test
  * for new backends (`tests/utils/test_copy.py:7-45`). */
class CopySpec extends AnyFunSuite {

  private def jsonFixture(): AssetStore = {
    val dir = graft.core.TempDirs.create("graft-copy-src")
    Fixture.build(dir)
    new JsonFileStore(dir.toString)
  }
  private def freshJson(): AssetStore =
    new JsonFileStore(graft.core.TempDirs.create("graft-copy-dst").toString)
  private def freshTable(): AssetStore =
    new TableStore(SparkTestSession.spark,
      graft.core.TempDirs.create("graft-copy-tbl").toString)

  private def checkCopy(mk: () => AssetStore): Unit = {
    val src = jsonFixture()
    val dst = mk()
    CopyDb.copyDbContents(src, dst)
    assert(dst.listAll().size == src.listAll().size)
    // payloads survive the trip
    val uri = src.query(Seq(graft.core.Route.Menu)).head.uri
    assert(src.getByUri(uri) == dst.getByUri(uri))
    src.close(); dst.close()
  }

  test("copy json -> json preserves catalog cardinality") { checkCopy(freshJson _) }
  test("copy json -> table_store preserves catalog cardinality") { checkCopy(freshTable _) }

  test("distributed bulk import equals the point-copy result") {
    val src = jsonFixture().asInstanceOf[JsonFileStore]
    val viaPoints = freshTable()
    CopyDb.copyDbContents(src, viaPoints)
    val viaBulk = freshTable().asInstanceOf[TableStore]
    val n = CopyDb.bulkImport(SparkTestSession.spark, src, viaBulk)
    assert(n == src.listAll().size)
    assert(viaBulk.listAll().toSet == viaPoints.listAll().toSet)
    // payloads identical through both paths
    val uri = src.query(Seq(graft.core.Route.Menu)).head.uri
    assert(viaBulk.getByUri(uri) == viaPoints.getByUri(uri))
    src.close(); viaPoints.close(); viaBulk.close()
  }

  test("bulk import keys report figures of filename-encoded experiments by decoded names") {
    val dir = graft.core.TempDirs.create("graft-copy-encoded")
    val img = dir.resolve("reports/pro%2ject/my%2exp/img/x.png")
    Files.createDirectories(img.getParent)
    Files.write(img, Fixture.PixelPng)
    val catalog = graft.catalog.Catalog.ingest(SparkTestSession.spark, dir.toString)
    assert(catalog.select("project", "experiment", "path").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("pro_ject", "my_exp", "img/x.png")))
    val src = new JsonFileStore(dir.toString)
    val dst = freshTable().asInstanceOf[TableStore]
    assert(CopyDb.bulkImport(SparkTestSession.spark, src, dst) == 1)
    assert(dst.getReportImage("pro_ject", "my_exp", "img/x.png").sameElements(Fixture.PixelPng))
    src.close(); dst.close()
  }

  test("open(\":memory:\") round-trips like the reference's sqlite special case") {
    import graft.store.StoreRegistry
    val src = jsonFixture()
    val mem = StoreRegistry.open(":memory:", Some(SparkTestSession.spark))
    assert(mem.name == "table_store")
    CopyDb.copyDbContents(src, mem)
    assert(mem.listAll().size == src.listAll().size)
    val uri = src.query(Seq(graft.core.Route.Menu)).head.uri
    assert(src.getByUri(uri) == mem.getByUri(uri))
    // ephemeral: a second :memory: open shares nothing
    val mem2 = StoreRegistry.open(":memory:", Some(SparkTestSession.spark))
    assert(mem2.listAll().isEmpty)
    // close deletes the backing temp dir
    val dir = mem.asInstanceOf[TableStore].basedir
    src.close(); mem.close(); mem2.close()
    assert(!Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("bare *.db resource dispatches to the table_store backend") {
    import graft.store.StoreRegistry
    val path = graft.core.TempDirs.create("graft-ext").resolve("data.db").toString
    val db = StoreRegistry.open(path, Some(SparkTestSession.spark))
    assert(db.name == "table_store")
    db.close()
    val json = StoreRegistry.open(graft.core.TempDirs.create("graft-plain").toString)
    assert(json.name == "json_files")
    json.close()
    // unknown engine prefix errors like the reference's KeyError
    intercept[IllegalArgumentException](StoreRegistry.open("bogus_engine:/tmp/x"))
  }

  test("copy table_store -> table_store preserves catalog cardinality") {
    val src0 = jsonFixture()
    val mid = freshTable()
    CopyDb.copyDbContents(src0, mid)
    val dst = freshTable()
    CopyDb.copyDbContents(mid, dst)
    assert(dst.listAll().size == src0.listAll().size)
    src0.close(); mid.close(); dst.close()
  }
}
