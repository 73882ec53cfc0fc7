package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.core._
import graft.etl.CopyDb

/** Shared interface-level behavior suite run against every backend —
  * the reference's test pattern (`tests/test_aerovaldb.py:33-49`: one
  * golden suite × all backends). */
trait AssetStoreBehavior { this: AnyFunSuite =>

  /** Builds a store loaded with the golden fixture. */
  def makeStore(): AssetStore
  def backendName: String
  def supportsFilePath: Boolean

  private def json(v: AssetValue): String = v match {
    case AssetValue.Json(s) => s
    case other => fail(s"expected Json, got $other")
  }

  test(s"$backendName: simple getters round-trip fixture payloads") {
    val db = makeStore()
    assert(json(db.getExperiments("project")).contains("./project/experiments.json"))
    assert(json(db.getMenu("project", "experiment")).contains("menu.json"))
    assert(json(db.getRanges("project", "experiment")).contains("ranges.json"))
    assert(json(db.getRegions("project", "experiment")).contains("regions.json"))
    assert(json(db.getStatistics("project", "experiment")).contains("statistics.json"))
    assert(json(db.getConfig("project", "experiment")).contains("0.13.5"))
    assert(json(db.getReport("project", "experiment", "title")).contains("title"))
    assert(json(db.getTimeseries("project", "experiment", "location", "network", "obsvar", "layer"))
      .contains("/ts/"))
    assert(json(db.getTimeseriesWeekly("project", "experiment", "location", "network", "obsvar", "layer"))
      .contains("diurnal"))
    assert(json(db.getProfiles("project", "experiment", "location", "network", "obsvar"))
      .contains("profiles"))
    assert(json(db.getForecast("project", "experiment", "region", "network", "obsvar", "layer"))
      .contains("forecast"))
    assert(json(db.getFairmode("project", "experiment", "region", "network", "obsvar", "layer", "model", "time"))
      .contains("fairmode"))
    assert(json(db.getGriddedMap("project", "experiment", "obsvar", "model"))
      .contains("gridded"))
    assert(json(db.getHeatmapTimeseries("project", "experiment", "region", "network", "obsvar", "layer"))
      .contains("hm/ts"))
    db.close()
  }

  test(s"$backendName: version-dependent layout (legacy experiment)") {
    val db = makeStore()
    // 0.0.5 → pre-0.13.2 MAP layout without {time}
    assert(json(db.getMap("project", "experiment-old", "network", "obsvar", "layer",
      "model", "modvar", "time")).contains("experiment-old/map"))
    assert(json(db.getScatter("project", "experiment-old", "network", "obsvar", "layer",
      "model", "modvar", "time")).contains("experiment-old/scat"))
    // 0.0.5 → oldest heatmap-ts layout (stats_ts.json)
    assert(json(db.getHeatmapTimeseries("project", "experiment-old", "region", "network",
      "obsvar", "layer")).contains("hm/ts"))
    db.close()
  }

  test(s"$backendName: models-style experiment fallback to project level") {
    val db = makeStore()
    assert(json(db.getModelsStyle("project", Some("experiment")))
      .contains("./project/experiment/models-style.json"))
    // provided-but-missing experiment-level doc raises: the priority
    // fallback applies only when `experiment` is not given
    intercept[java.io.FileNotFoundException] {
      db.getModelsStyle("project", Some("experiment-old"))
    }
    assert(json(db.getModelsStyle("project"))
      .contains("./project/models-style.json"))
    db.close()
  }

  test(s"$backendName: contour single-doc + timesplit fallback") {
    val db = makeStore()
    assert(json(db.getContour("project", "experiment", "obsvar", "model", "timestep"))
      .contains("single-doc"))
    assert(json(db.getContour("project", "experiment", "obsvar", "model", "timestep2"))
      .contains("split"))
    val miss = db.getContour("project", "experiment", "obsvar", "model", "nope",
      default = Some(AssetValue.Json("fallback")))
    assert(json(miss) == "fallback")
    db.close()
  }

  test(s"$backendName: glob_stats filters (heatmap + regional stats)") {
    val db = makeStore()
    val whole = json(db.getGlobStats("project", "experiment", "frequency"))
    assert(whole.contains("othertime"))

    val regional = json(db.getRegionalStats("project", "experiment", "frequency",
      "network", "variable", "layer"))
    assert(regional.contains("model") && !regional.contains("variable"))

    val hm = json(db.getHeatmap("project", "experiment", "frequency", "region", "time"))
    // keeps only region/time leaf...
    assert(hm.contains("\"region\"") && hm.contains("\"time\""))
    assert(!hm.contains("othertime") && !hm.contains("otherregion"))
    // ...but preserves empty shells for keys without the leaf
    assert(hm.contains("emptymodel") && hm.contains("othervar"))
    db.close()
  }

  test(s"$backendName: map frequency/season filter (golden check)") {
    val db = makeStore()
    val filtered = json(db.getMap("project", "experiment", "network", "obsvar", "layer",
      "model", "modvar", "time", frequency = Some("frequency"), season = Some("season")))
    assert(filtered.contains("\"season\""))
    assert(!filtered.contains("excluded_season") && !filtered.contains("excluded_frequency"))
    assert(filtered.contains("station_name") && filtered.contains("latitude"))
    val unfiltered = json(db.getMap("project", "experiment", "network", "obsvar", "layer",
      "model", "modvar", "time"))
    assert(unfiltered.contains("excluded_frequency"))
    db.close()
  }

  test(s"$backendName: getByUri routes contour timestep kwarg through the fallback") {
    val db = makeStore()
    assert(json(db.getByUri("/v0/contour/project/experiment/obsvar/model?timestep=timestep"))
      .contains("single-doc"))
    assert(json(db.getByUri("/v0/contour/project/experiment/obsvar/model?timestep=timestep2"))
      .contains("split"))
    db.close()
  }

  test(s"$backendName: default= returned verbatim on missing asset") {
    val db = makeStore()
    val v = db.getMenu("project", "no-such-experiment",
      default = Some(AssetValue.Json("""{"d": 1}""")))
    assert(json(v) == """{"d": 1}""")
    intercept[java.io.FileNotFoundException] {
      db.getMenu("project", "no-such-experiment")
    }
    db.close()
  }

  test(s"$backendName: invalid JSON raises even with default") {
    val db = makeStore()
    intercept[Exception] {
      db.getReport("project", "experiment", "invalid-json", AccessType.Obj,
        default = Some(AssetValue.Json("fallback")))
    }
    db.close()
  }

  test(s"$backendName: blobs round-trip (report image + overlay sniffing)") {
    val db = makeStore()
    assert(db.getReportImage("project", "experiment", "img/pixel.png")
      .sameElements(Fixture.PixelPng))
    assert(db.getMapOverlay("project", "experiment", "source", "variable", "date")
      .sameElements(Fixture.PixelPng))
    db.putMapOverlay(Fixture.TinyWebp, "project", "experiment", "source2", "variable2", "date2")
    assert(db.getMapOverlay("project", "experiment", "source2", "variable2", "date2")
      .sameElements(Fixture.TinyWebp))
    db.close()
  }

  test(s"$backendName: putters round-trip on fresh keys") {
    val db = makeStore()
    db.putMenu("""{"new": true}""", "project", "experiment")
    assert(json(db.getMenu("project", "experiment")) == """{"new": true}""")
    db.putMap("""[{"s": 1}]""", "project", "experiment", "n2", "o2", "l2", "m2", "mv2", "t2")
    assert(json(db.getMap("project", "experiment", "n2", "o2", "l2", "m2", "mv2", "t2"))
      == """[{"s": 1}]""")
    db.putGlobStats("""{"g": 2}""", "project", "experiment", "monthly")
    assert(json(db.getGlobStats("project", "experiment", "monthly")) == """{"g": 2}""")
    db.putExperiments("""{"e": 3}""", "project2")
    assert(json(db.getExperiments("project2")) == """{"e": 3}""")
    db.close()
  }

  test(s"$backendName: mtime access type") {
    val db = makeStore()
    db.getConfig("project", "experiment", AccessType.Mtime) match {
      case AssetValue.Time(t) => assert(t.toEpochMilli > 0)
      case other => fail(s"expected Time, got $other")
    }
    assert(db.getExperimentMtime("project", "experiment").toEpochMilli > 0)
    db.close()
  }

  test(s"$backendName: query + listing + uri round trips") {
    val db = makeStore()
    val all = db.listAll()
    assert(all.size == 29, s"expected 29 assets, got ${all.size}: $all")
    // every uri resolves back through getByUri
    all.foreach { uri =>
      val (route, _, _) = graft.codec.UriCodec.parse(uri)
      if (Route.blobRoutes.contains(route)) db.getByUri(uri, AccessType.Blob)
      else db.getByUri(uri, AccessType.JsonStr)
    }
    // pruned queries
    assert(db.query(kwargs = Map("project" -> "project", "experiment" -> "experiment-old")).size == 4)
    assert(db.listTimeseries("project", "experiment").size == 1)
    assert(db.listMap("project", "experiment").size == 2)
    val gs = db.listGlobStats("project", "experiment")
    assert(gs.size == 1 && gs.head.startsWith("/v0/heatmap/"))
    // glob_stats files surface as HEATMAP (reference quirk): GLOB_STATS
    // route yields no catalog entries
    assert(db.query(Seq(Route.GlobStats)).isEmpty)
    db.close()
  }

  /** jsondb removes the experiment dir (reports survive, 20 assets);
    * the table backend deletes rows across all tables including reports
    * (23) — mirroring the reference's jsondb/sqlitedb difference
    * (`jsonfiledb.py:415-428` vs `sqlitedb.py:687-720`). */
  def rmExperimentRemoves: Int

  test(s"$backendName: rm experiment data") {
    val db = makeStore()
    val before = db.listAll().size
    db.rmExperimentData("project", "experiment")
    val after = db.listAll().size
    assert(before - after == rmExperimentRemoves, s"removed ${before - after}")
    db.close()
  }

  test(s"$backendName: rm experiment data retires experiments with filename-encoded names") {
    val db = makeStore()
    db.putConfig("""{"c": 1}""", "pro_ject", "my_exp")
    db.putMenu("""{"m": 1}""", "pro_ject", "my_exp")
    db.putMenu("""{"m": 2}""", "pro_ject", "other")
    assert(db.listExperiments("pro_ject") == Seq("my_exp", "other"))
    db.rmExperimentData("pro_ject", "my_exp")
    assert(db.listExperiments("pro_ject") == Seq("other"))
    assert(db.query(kwargs = Map("project" -> "pro_ject", "experiment" -> "my_exp")).isEmpty)
    db.close()
  }

  test(s"$backendName: concurrent calls return what sequential calls return") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val db = makeStore()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val reads: Seq[() => Any] = Seq(
        () => db.getMenu("project", "experiment"),
        () => db.getConfig("project", "experiment"),
        () => db.getGlobStats("project", "experiment", "frequency"),
        () => db.getHeatmap("project", "experiment", "frequency", "region", "time"),
        () => db.getContour("project", "experiment", "obsvar", "model", "timestep"),
        () => db.getMap("project", "experiment", "network", "obsvar", "layer", "model", "modvar", "time"),
        () => db.getReportImage("project", "experiment", "img/pixel.png").toSeq,
        () => db.getByUri("/v0/menu/project/experiment"),
        () => db.getByUri("/v0/contour/project/experiment/obsvar/model?timestep=timestep2"),
        () => db.query(kwargs = Map("project" -> "project", "experiment" -> "experiment")).map(_.uri).sorted,
        () => db.listTimeseries("project", "experiment"))
      val sequential = reads.map(_())
      val putThenGet = Future {
        db.putMenu("""{"written": "concurrently"}""", "project", "exp-concurrent")
        db.getMenu("project", "exp-concurrent")
      }
      val concurrent = Await.result(Future.sequence(reads.map(r => Future(r()))), 5.minutes)
      assert(concurrent == sequential)
      assert(Await.result(putThenGet, 5.minutes) == AssetValue.Json("""{"written": "concurrently"}"""))
    } finally {
      pool.shutdown()
      db.close()
    }
  }

  // ---- the document cache contract, on both backends
  // (`tests/jsondb/test_cache.py:35-149`) ----

  test(s"$backendName: cache=false never touches the cache") {
    val db = makeStore()
    db.getMenu("project", "experiment")
    db.getMenu("project", "experiment")
    assert(db.cacheHits.get() == 0 && db.cacheMisses.get() == 0)
    db.close()
  }

  test(s"$backendName: repeat cached reads hit; first read misses") {
    val db = makeStore()
    db.getMenu("project", "experiment", cache = true)
    assert(db.cacheMisses.get() == 1 && db.cacheHits.get() == 0)
    db.getMenu("project", "experiment", cache = true)
    db.getMenu("project", "experiment", cache = true)
    assert(db.cacheHits.get() == 2)
    db.close()
  }

  test(s"$backendName: contour single-doc read primes per-timestep cache entries") {
    val db = makeStore()
    db.getContour("project", "experiment", "obsvar", "model", "timestep", cache = true)
    assert(db.contourPrimeHits.get() == 0)
    // second read of the same timestep is served from the primed entry
    db.getContour("project", "experiment", "obsvar", "model", "timestep", cache = true)
    assert(db.contourPrimeHits.get() == 1)
    db.close()
  }

  test(s"$backendName: filtered reads go through the sub-key cache (forced cache=true)") {
    val db = makeStore()
    // regional stats forces cache=true; same underlying file read once
    db.getRegionalStats("project", "experiment", "frequency", "network", "variable", "layer")
    db.getRegionalStats("project", "experiment", "frequency", "network", "variable", "layer")
    assert(db.cacheMisses.get() == 1)
    db.close()
  }

  test(s"$backendName: cache=false gets of every kind leave the counters at zero") {
    val db = makeStore()
    for (_ <- 1 to 2) {
      db.getMenu("project", "experiment")
      db.getMenu("project", "experiment", AccessType.Obj)
      db.getMap("project", "experiment", "network", "obsvar", "layer", "model", "modvar", "time",
        frequency = Some("frequency"), season = Some("season"))
      db.getContour("project", "experiment", "obsvar", "model", "timestep")
      db.getContour("project", "experiment", "obsvar", "model", "timestep2")
      db.getByUri("/v0/contour/project/experiment/obsvar/model?timestep=timestep")
      db.getConfig("project", "experiment", AccessType.Mtime)
      db.getReportImage("project", "experiment", "img/pixel.png")
    }
    assert((db.cacheHits.get(), db.cacheMisses.get(), db.contourPrimeHits.get()) == ((0L, 0L, 0L)))
    db.close()
  }

  test(s"$backendName: cached reads see overwrites, pending puts and deletes") {
    val db = makeStore()
    def menu() = json(db.getMenu("project", "experiment", cache = true))
    def heatmap() = json(db.getHeatmap("project", "experiment", "frequency", "region", "time"))
    def step() = json(db.getContour("project", "experiment", "obsvar", "model", "timestep", cache = true))
    def twice[T](read: () => T): T = { val first = read(); assert(read() == first); first }
    assert(twice(menu).contains("menu.json"))
    assert(twice(heatmap).contains("1.0"))
    assert(twice(step).contains("single-doc"))
    assert(db.cacheHits.get() >= 1 && db.contourPrimeHits.get() == 1)
    // on the table backend each put is still pending when the next
    // cached get runs: the get must flush it before validating
    db.putMenu("""{"v": 2}""", "project", "experiment")
    assert(twice(menu) == """{"v": 2}""")
    db.putGlobStats("""{"variable": {"network": {"layer": {"model": {"modvar": {"region": {"time": {"stat": 9.5}}}}}}}}""",
      "project", "experiment", "frequency")
    assert(twice(heatmap).contains("9.5"))
    db.putContour("""{"timestep": {"v": 3}}""", "project", "experiment", "obsvar", "model")
    assert(twice(step) == """{"v":3}""")
    db.rmByUri(db.query(Seq(Route.Menu), Map("project" -> "project", "experiment" -> "experiment")).head.uri)
    intercept[java.io.FileNotFoundException](menu())
    db.rmExperimentData("project", "experiment")
    intercept[java.io.FileNotFoundException](heatmap())
    intercept[java.io.FileNotFoundException](step())
    db.close()
  }

  test(s"$backendName: a caller mutating a cached Obj result leaves the cache intact") {
    import com.fasterxml.jackson.databind.node.ObjectNode
    val db = makeStore()
    def obj(v: AssetValue): ObjectNode = v match {
      case AssetValue.Obj(n: ObjectNode) => n
      case other => fail(s"expected an object, got $other")
    }
    val reads: Seq[() => AssetValue] = Seq(
      () => db.getMenu("project", "experiment", AccessType.Obj, cache = true),
      () => db.getHeatmap("project", "experiment", "frequency", "region", "time", AccessType.Obj),
      () => db.getContour("project", "experiment", "obsvar", "model", "timestep", AccessType.Obj, cache = true))
    reads.foreach { read =>
      val first = obj(read())
      val pristine = first.deepCopy()
      first.put("mutated", true)
      for (_ <- 1 to 2) {
        val again = obj(read())
        assert(again == pristine && (again ne first))
        again.removeAll()
      }
    }
    assert(db.cacheHits.get() >= 2 && db.contourPrimeHits.get() == 2)
    db.close()
  }

  test(s"$backendName: rm by uri") {
    val db = makeStore()
    val uri = db.query(Seq(Route.Menu),
      Map("project" -> "project", "experiment" -> "experiment")).head.uri
    db.rmByUri(uri)
    intercept[java.io.FileNotFoundException](db.getMenu("project", "experiment"))
    db.close()
  }

  test(s"$backendName: a put with an empty key component is refused and the listings still work") {
    val db = makeStore()
    val before = db.listAll().sorted
    intercept[IllegalArgumentException](db.putMenu("{}", "project", ""))
    intercept[IllegalArgumentException](db.putReportImage(Array[Byte](1), "project", "", "x.png"))
    intercept[IllegalArgumentException](db.putByUri("/v0/menu/project/", "{}"))
    assert(db.listAll().sorted == before)
    assert(db.query(Seq(Route.Menu), Map("project" -> "project")).nonEmpty)
    db.close()
  }
}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark 4's per-query checkpoint-checksum pool never shuts down
      // (see EventStream.boundedDriveSession) — specs that start streams
      // directly would otherwise leak 32 threads per started query
      // across the suite
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class JsonFileStoreSpec extends AnyFunSuite with AssetStoreBehavior {
  def backendName = "json_files"
  def supportsFilePath = true
  def rmExperimentRemoves = 20
  def makeStore(): AssetStore = {
    val dir = graft.core.TempDirs.create("graft-jsondb")
    Fixture.build(dir)
    new JsonFileStore(dir.toString)
  }

  test("json_files: NaN payloads round-trip as null through putNode") {
    // reference NaN policy test shape (test_aerovaldb.py:453-464)
    val db = makeStore()
    val node = graft.filters.JsonUtil.parse("""{"x": NaN, "y": [1.5, Infinity]}""")
    db.putNode(node, graft.core.Route.Menu,
      Map("project" -> "project", "experiment" -> "experiment"))
    db.getMenu("project", "experiment") match {
      case AssetValue.Json(s) => assert(s == """{"x":null,"y":[1.5,null]}""")
      case other => fail(s"unexpected $other")
    }
    db.close()
  }

  test("json_files: symlinked project dir reads through canonical paths") {
    // reference symlink case (tests/jsondb/test_jsonfiledb.py:22-26)
    val dir = graft.core.TempDirs.create("graft-symlink")
    Fixture.build(dir)
    val link = dir.resolve("linked-project")
    Files.createSymbolicLink(link, dir.resolve("project"))
    val db = new JsonFileStore(dir.toString)
    // reads via the symlinked name resolve and cache consistently
    db.getMenu("linked-project", "experiment", cache = true) match {
      case AssetValue.Json(s) => assert(s.contains("menu.json"))
      case other => fail(s"unexpected $other")
    }
    db.getMenu("linked-project", "experiment", cache = true)
    assert(db.asInstanceOf[JsonFileStore].cacheHits.get() == 1)
    db.close()
  }

  test("json_files: listExperiments distinct + hasResults") {
    val db = makeStore()
    assert(db.listExperiments("project").contains("experiment"))
    assert(db.listExperiments("project").contains("experiment-old"))
    assert(db.listExperiments("project", hasResults = true).contains("experiment"))
    db.close()
  }

  test("json_files: FILE_PATH access points at the backing file") {
    val db = makeStore()
    db.getConfig("project", "experiment", AccessType.FilePath) match {
      case AssetValue.Path(p) =>
        assert(p.endsWith("cfg_project_experiment.json") && Files.exists(java.nio.file.Paths.get(p)))
      case other => fail(s"unexpected $other")
    }
    db.close()
  }

  test("json_files: keys with underscores/slashes are filename-encoded") {
    val db = makeStore()
    db.putMenu("""{"enc": 1}""", "pro_ject", "exp/eriment")
    assert(db.asInstanceOf[JsonFileStore].basedir
      .resolve("pro%2ject/exp%1eriment/menu.json").toFile.exists())
    db.getMenu("pro_ject", "exp/eriment") match {
      case AssetValue.Json(s) => assert(s == """{"enc": 1}""")
      case other => fail(s"unexpected $other")
    }
    db.close()
  }
}

class TableStoreSpec extends AnyFunSuite with AssetStoreBehavior {
  def backendName = "table_store"
  def supportsFilePath = false
  def rmExperimentRemoves = 23

  /** Fixture loaded via cross-backend copy, mirroring how the reference
    * builds its sqlite fixture (`scripts/build_sqlite_test_database.py`). */
  def makeStore(): AssetStore = {
    val jsonDir = graft.core.TempDirs.create("graft-jsondb-src")
    Fixture.build(jsonDir)
    val src = new JsonFileStore(jsonDir.toString)
    val dst = new TableStore(SparkTestSession.spark,
      graft.core.TempDirs.create("graft-tablestore").toString)
    CopyDb.copyDbContents(src, dst)
    src.close()
    dst
  }

  test("table_store: FILE_PATH access raises UnsupportedOperation") {
    val db = makeStore()
    intercept[UnsupportedOperation] {
      db.getConfig("project", "experiment", AccessType.FilePath)
    }
    db.close()
  }
}
