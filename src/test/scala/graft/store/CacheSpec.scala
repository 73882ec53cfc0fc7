package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{AccessType, AssetValue, Route}

/** JsonFileStore's side of the document cache: invalidation by file
  * attributes and by the store's own writes (the contract both
  * backends share runs in [[AssetStoreBehavior]]), and the catalog's
  * reverse-parse memo. Reference: `jsondb/cache.py:114-264`,
  * `tests/jsondb/test_cache.py:35-149`. */
class CacheSpec extends AnyFunSuite {

  private def store(): JsonFileStore = {
    val dir = graft.core.TempDirs.create("graft-cache")
    Fixture.build(dir)
    new JsonFileStore(dir.toString)
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

  /** Puts A, reads it cached, puts B (same size, usually the same
    * millisecond), reads it cached; counts iterations that read either
    * document stale. */
  private def staleOverwrites(a: String, b: String)
                             (put: String => Unit, get: () => AssetValue, view: String => String): Int =
    (1 to 2000).count { _ =>
      put(a)
      val gotA = get()
      put(b)
      gotA != AssetValue.Json(view(a)) || get() != AssetValue.Json(view(b))
    }

  test("an overwrite is never served stale from the whole-document cache") {
    val db = store()
    val stale = staleOverwrites("""{"menu": "A"}""", """{"menu": "B"}""")(
      db.putMenu(_, "project", "experiment"), () => db.getMenu("project", "experiment", cache = true), identity)
    assert(stale == 0, s"$stale of 2000 iterations read a stale menu")
    db.close()
  }

  test("an overwrite is never served stale from the filtered sub-key cache") {
    val db = store()
    def doc(stat: Int) = s"""{"variable": {"network": {"layer": {"model": {"modvar": {"region": {"time": {"stat": $stat}}}}}}}}"""
    def view(d: String) = graft.filters.JsonUtil.serialize(AssetStore.applyFilter(Route.Heatmap,
      graft.filters.JsonUtil.parse(d), Map("region" -> "region", "time" -> "time")))
    val stale = staleOverwrites(doc(1), doc(2))(
      db.putGlobStats(_, "project", "experiment", "frequency"),
      () => db.getHeatmap("project", "experiment", "frequency", "region", "time"), view)
    assert(stale == 0, s"$stale of 2000 iterations read a stale heatmap")
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
}
