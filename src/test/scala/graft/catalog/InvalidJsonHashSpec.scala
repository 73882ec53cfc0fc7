package graft.catalog

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.TempDirs
import graft.etl.CopyDb
import graft.filters.JsonUtil
import graft.store.{Fixture, JsonFileStore, SparkTestSession, TableStore}

/** av06's replica audit over a store that holds a JSON-route document
  * which does not parse (the fixture's `invalid-json.json`): both
  * backends hash that document by its raw text instead of failing the
  * whole scan, and the two hash sets agree. */
class InvalidJsonHashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def hashes(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toSet

  test("both backends hash an invalid JSON document by its raw text") {
    val srcDir = TempDirs.create("graft-invalid-json-src")
    Fixture.build(srcDir)
    val raw = Files.readString(srcDir.resolve("reports/project/experiment/invalid-json.json"))
    val src = new JsonFileStore(srcDir.toString)
    val db = new TableStore(spark, TempDirs.create("graft-invalid-json-dst").toString)
    try {
      val srcHashes = hashes(Catalog.contentHashes(spark, srcDir.toString))
      val invalid = srcHashes.filter(_._1.endsWith("/invalid-json"))
      assert(invalid.map(_._2) == Set(JsonUtil.md5hex(raw.getBytes("UTF-8"))),
        s"the fixture's invalid document is not hashed by its raw text: $srcHashes")
      CopyDb.bulkImport(spark, src, db)
      assert(hashes(db.contentHashFrame()) == srcHashes)
    } finally { src.close(); db.close() }
  }
}
