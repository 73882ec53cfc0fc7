package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{AccessType, AssetValue}

/** LRU file-cache behavior: opt-in per read, hits on repeat reads,
  * invalidation on mtime change — the observable contract of the
  * reference's LRUFileCache (`jsondb/cache.py:114-264`,
  * `tests/jsondb/test_cache.py:35-149`). */
class CacheSpec extends AnyFunSuite {

  private def store(): JsonFileStore = {
    val dir = graft.core.TempDirs.create("graft-cache")
    Fixture.build(dir)
    new JsonFileStore(dir.toString)
  }

  test("cache=false never touches the cache") {
    val db = store()
    db.getMenu("project", "experiment")
    db.getMenu("project", "experiment")
    assert(db.cacheHits.get() == 0 && db.cacheMisses.get() == 0)
    db.close()
  }

  test("repeat cached reads hit; first read misses") {
    val db = store()
    db.getMenu("project", "experiment", cache = true)
    assert(db.cacheMisses.get() == 1 && db.cacheHits.get() == 0)
    db.getMenu("project", "experiment", cache = true)
    db.getMenu("project", "experiment", cache = true)
    assert(db.cacheHits.get() == 2)
    db.close()
  }

  test("mtime change invalidates the cached entry") {
    val db = store()
    db.getMenu("project", "experiment", cache = true)
    val path = db.getConfig("project", "experiment", AccessType.FilePath) match {
      case AssetValue.Path(_) =>
        db.basedir.resolve("project/experiment/menu.json")
      case _ => fail()
    }
    // overwrite behind the store's back with a newer mtime
    Files.writeString(path, """{"menu": "updated"}""")
    Files.setLastModifiedTime(path,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    db.getMenu("project", "experiment", cache = true) match {
      case AssetValue.Json(s) => assert(s.contains("updated"))
      case other => fail(s"unexpected $other")
    }
    assert(db.cacheMisses.get() == 2)
    db.close()
  }

  test("contour single-doc read primes per-timestep cache entries") {
    val db = store()
    db.getContour("project", "experiment", "obsvar", "model", "timestep", cache = true)
    assert(db.contourPrimeHits.get() == 0)
    // second read of the same timestep is served from the primed entry
    db.getContour("project", "experiment", "obsvar", "model", "timestep", cache = true)
    assert(db.contourPrimeHits.get() == 1)
    db.close()
  }

  test("retiring one experiment keeps every other experiment's reverse-parse memo") {
    import scala.jdk.CollectionConverters._
    val db = new JsonFileStore(graft.core.TempDirs.create("graft-rm-memo").toString)
    db.putMenu(Fixture.doc("keep/menu"), "proj", "keep")
    db.putConfig(Fixture.doc("keep/config"), "proj", "keep")
    db.putMenu(Fixture.doc("gone/menu"), "proj", "gone")
    def q(e: String) = db.query(kwargs = Map("project" -> "proj", "experiment" -> e))
    val kept = q("keep")
    assert(kept.size == 2 && q("gone").size == 1)
    def memoized(e: String): Set[String] =
      db.entryCache.keySet.asScala.filter(_.contains(s"/proj/$e/")).toSet
    val keptMemo = memoized("keep")
    assert(keptMemo.size == 2)
    db.rmExperimentData("proj", "gone")
    assert(memoized("keep") == keptMemo,
      "retiring `gone` dropped `keep`'s memoized reverse parses")
    assert(memoized("gone").isEmpty, "the retired experiment's entries outlived its files")
    assert(q("keep") == kept && q("gone").isEmpty)
    db.close()
  }

  test("filtered reads go through the sub-key cache (forced cache=true)") {
    val db = store()
    // regional stats forces cache=true; same underlying file read once
    db.getRegionalStats("project", "experiment", "frequency", "network", "variable", "layer")
    db.getRegionalStats("project", "experiment", "frequency", "network", "variable", "layer")
    assert(db.cacheMisses.get() == 1)
    db.close()
  }
}
