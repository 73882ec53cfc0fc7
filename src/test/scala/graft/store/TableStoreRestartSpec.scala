package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.core.AssetValue

/** The write sequence survives a restart: `seq` is a per-JVM counter,
  * so a store reopened in a fresh JVM must continue above the seqs
  * already in its log, or a marker pinned before the restart would see
  * the writes made after it. */
class TableStoreRestartSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a marker pinned before a restart does not see overwrites made after it") {
    val dir = graft.core.TempDirs.create("graft-restart-spec").toString
    val saved = TableStore.seqCounter.get()
    try {
      val before = new TableStore(spark, dir)
      before.putMenu("""{"gen": 1}""", "p", "e")
      before.putMap("""{"m": 1}""", "p", "e", "n", "o", "l", "m", "mv", "t")
      val marker = before.snapshotSeq()
      before.close()

      TableStore.seqCounter.set(0L) // the state a fresh JVM starts in
      val after = new TableStore(spark, dir)
      after.putMenu("""{"gen": 2}""", "p", "e")
      after.flushAll()
      val uri = after.listAll().find(_.startsWith("/v0/menu/")).get
      assert(after.getByUriAsOf(uri, marker).contains(AssetValue.Json("""{"gen": 1}""")),
        "the pre-restart marker reads a post-restart overwrite")
      assert(after.getMenu("p", "e") == AssetValue.Json("""{"gen": 2}"""))
      assert(after.snapshotSeq() > marker)
      after.close()
    } finally TableStore.seqCounter.accumulateAndGet(saved, (a: Long, b: Long) => math.max(a, b))
  }
}
