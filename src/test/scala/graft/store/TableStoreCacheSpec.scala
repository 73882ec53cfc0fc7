package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.core.AssetValue

/** TableStore's side of the document cache: the data-file listing
  * validator across rewrites and a second writer on the same basedir,
  * and the counters of what a driver-side get reads. The contract both
  * backends share runs in [[AssetStoreBehavior]]. */
class TableStoreCacheSpec extends AnyFunSuite {
  private def open(dir: String) = new TableStore(SparkTestSession.spark, dir)
  private def fresh() = open(graft.core.TempDirs.create("graft-table-cache").toString)

  private def menu(db: TableStore) = db.getMenu("p", "e", cache = true)
  private def heatmap(db: TableStore) = db.getHeatmap("p", "e", "f", "R", "t")
  private def globStats(stat: Int) =
    s"""{"v": {"n": {"l": {"m": {"mv": {"R": {"t": {"stat": $stat}}, "S": {"t": {}}}}}}}}"""

  test("compact and compactRetain between cached reads serve the newest document") {
    val db = fresh()
    db.putMenu("""{"v": 1}""", "p", "e"); db.flushAll()
    db.putMenu("""{"v": 2}""", "p", "e")
    db.putGlobStats(globStats(2), "p", "e", "f")
    assert(menu(db) == AssetValue.Json("""{"v": 2}""") && menu(db) == menu(db))
    assert(heatmap(db) == heatmap(db))
    db.putMenu("""{"v": 3}""", "p", "e")
    db.putGlobStats(globStats(3), "p", "e", "f")
    db.compact("menu")
    db.compact("glob_stats")
    assert(menu(db) == AssetValue.Json("""{"v": 3}"""))
    assert(heatmap(db).toString.contains("\"stat\":3"))
    val hits = db.cacheHits.get()
    assert(menu(db) == AssetValue.Json("""{"v": 3}""") && db.cacheHits.get() == hits + 1)
    val marker = db.snapshotSeq()
    db.putMenu("""{"v": 4}""", "p", "e")
    db.putGlobStats(globStats(4), "p", "e", "f")
    db.flushAll()
    db.compactRetain("menu", marker)
    db.compactRetain("glob_stats", marker)
    assert(menu(db) == AssetValue.Json("""{"v": 4}"""))
    assert(heatmap(db).toString.contains("\"stat\":4"))
    db.close()
  }

  test("a second store on the same basedir writing is seen by cached reads") {
    val dir = graft.core.TempDirs.create("graft-table-cache-two").toString
    val a = open(dir)
    a.putMenu("""{"v": "a"}""", "p", "e")
    a.putGlobStats(globStats(1), "p", "e", "f")
    assert(menu(a) == menu(a) && heatmap(a) == heatmap(a))
    val b = open(dir)
    b.putMenu("""{"v": "b"}""", "p", "e")
    b.putGlobStats(globStats(2), "p", "e", "f")
    b.flushAll()
    assert(menu(a) == AssetValue.Json("""{"v": "b"}"""))
    assert(heatmap(a).toString.contains("\"stat\":2"))
    b.rmByUri("/v0/menu/p/e")
    b.flushAll()
    intercept[java.io.FileNotFoundException](menu(a))
    a.close(); b.close()
  }

  test("a cached contour miss is remembered until a single-document put to its key") {
    val db = fresh()
    // the contour partition holds another obsvar's single document;
    // the requested contour exists only per timestep
    db.putContour("""{"2020": {"o": 1}}""", "p", "e", "other", "m")
    db.putContour("""{"x": 1}""", "p", "e", "v", "m", Some("2020"))
    def contour() = db.getContour("p", "e", "v", "m", "2020", cache = true)
    assert(contour() == AssetValue.Json("""{"x": 1}"""))
    val (opened, misses) = (db.getFilesOpened.get(), db.cacheMisses.get())
    assert(contour() == AssetValue.Json("""{"x": 1}"""))
    assert(db.getFilesOpened.get() == opened, "a repeated cached miss opens no data file")
    assert(db.cacheMisses.get() == misses, "a repeated cached miss counts no cache miss")
    db.putContour("""{"2020": {"y": 2}}""", "p", "e", "v", "m")
    val AssetValue.Json(text) = contour(): @unchecked
    assert(graft.filters.JsonUtil.parse(text) == graft.filters.JsonUtil.parse("""{"y": 2}"""),
      "the single document put after the miss is served")
    db.close()
  }

  test("a cache hit opens no data file; a miss opens every file of the partition") {
    val db = fresh()
    for (v <- 1 to 3) { db.putMenu(s"""{"v": $v}""", "p", "e"); db.flushAll() }
    db.putMenu("""{"v": 0}""", "p", "other"); db.flushAll()
    def read() = (db.getFilesOpened.get(), db.getRowsDecoded.get())
    assert(read() == ((0L, 0L)))
    assert(menu(db) == AssetValue.Json("""{"v": 3}"""))
    assert(read() == ((3L, 3L)), "a miss reads the partition's three files, one row each")
    assert(menu(db) == AssetValue.Json("""{"v": 3}"""))
    assert(read() == ((3L, 3L)), "a cache hit reads nothing")
    db.getMenu("p", "e")
    assert(read() == ((6L, 6L)), "an uncached get reads the partition again")
    db.close()
  }
}
