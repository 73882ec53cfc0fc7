package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.codec.UriCodec
import graft.core.{AccessType, AssetValue, Route}
import graft.etl.CopyDb
import graft.filters.JsonUtil
import graft.store.{AssetStore, JsonFileStore, TableStore}

/** `serve`: the aeroval web API's read traffic. A seeded store is
  * written to JsonFileStore, bulk-imported into TableStore, and one
  * read-only Zipf request stream is replayed on both. */
final class Serve(spark: SparkSession, a: Main.Args, trace: Option[Trace], res: Main.Result)
    extends Workload {
  import Serve._

  private def tspan[T](name: String, sparkWork: Boolean = false)(f: => T): T =
    trace.fold(f)(_.span(name, sparkWork)(f))

  /** Generate the store's assets from the seed. */
  def assets(): Seq[Asset] = {
    val g = new AssetGen(a.seed)
    val r = g.rng
    Seq("cams2-83", "emep").flatMap { p =>
      val exps = ExperimentNames.pick(r, ExpsPerProject)
      val experiments = Asset(Route.Experiments, Map("project" -> p), Map.empty,
        exps.map(e => s""""$e": {"public": true, "name": "${e.toUpperCase}"}""").mkString("{", ", ", "}"), null)
      val style = Asset(Route.ModelsStyle, Map("project" -> p), Map.empty, g.doc(1), null)
      Seq(experiments, style) ++ exps.zipWithIndex.flatMap { case (e, i) =>
        // every layout generation: >=0.29, 0.13.x, and one 0.0.5
        val version = if (p == "emep" && i == 0) "0.0.5" else Versions(i % Versions.size)
        Experiment.assets(g, p, e, version, big = i < BigExpsPerProject)
      }
    }
  }

  /** Write the JSON store and bulk-import it into a TableStore. */
  def build(dir: Path, all: Seq[Asset]): (JsonFileStore, TableStore) = {
    val t0 = System.nanoTime()
    val js = new JsonFileStore(dir.resolve("json").toString)
    all.foreach(_.put(js))
    val t1 = System.nanoTime()
    val ts = new TableStore(spark, dir.resolve("table").toString)
    tspan("etl.bulk_import", sparkWork = true)(CopyDb.bulkImport(spark, js, ts))
    System.err.println(f"[perfbench] serve set-up: json write ${(t1 - t0) / 1e9}%.2f s, " +
      f"bulk import ${(System.nanoTime() - t1) / 1e9}%.2f s")
    (js, ts)
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    val all = assets()
    val (js, ts) = build(a.work.resolve("serve"), all)
    val setupS = (System.nanoTime() - t0) / 1e9
    val nJson = js.listAll().size
    val nTable = ts.listAll().size
    if (nJson != all.size || nTable != all.size) {
      res.setupOk = false
      res.notes += s"store cardinality: generated ${all.size}, json lists $nJson, table lists $nTable"
    }
    val reqs = Requests.of(all)
    val stream = new ZipfStream(reqs.map(_.stratum), a.seed)
    val jsonFiltered = scala.collection.mutable.Map.empty[Int, String]
    val knownDefects = probeKnownDefects(ts, all, reqs)

    def check(i: Int, req: Request, v: AssetValue, table: Boolean): Boolean = (req.expect, v) match {
      case (Some(Left(s)), AssetValue.Json(got)) => s == got
      case (Some(Right(b)), AssetValue.Blob(got)) => java.util.Arrays.equals(b, got)
      case (None, AssetValue.Json(got)) if req.filtered =>
        if (!table) { if (i < TableCompareWindow) jsonFiltered(i) = got; true }
        else jsonFiltered.get(i).forall(_ == got)
      case _ => false
    }
    def serveOne(store: AssetStore, i: Int, table: Boolean): Unit = {
      val req = reqs(stream(i))
      val err = try { if (check(i, req, req.call(store), table)) None else Some("wrong result") }
      catch { case e: Exception => Some(e.toString) }
      res.op(err.isEmpty, s"${if (table) "table" else "json"} ${req.kind} ${req.uri}: ${err.getOrElse("")}")
    }

    Main.phase("serve set-up done")
    // JSON backend: untimed warm-up (after a full collection, so the
    // import's garbage is not collected inside the timed loop), then a
    // timed closed loop
    System.gc()
    var i = 0
    val warmEnd = System.nanoTime() + (JsonWarmupS * 1e9).toLong
    while (i < 1000 || System.nanoTime() < warmEnd) { serveOne(js, i, table = false); i += 1 }
    Main.phase("json warm-up done")
    // TableStore warm-up: the first requests of the same stream; the
    // timed gets continue the stream after them. Both pass over the
    // requests of a known defect (probed above).
    var k = 0
    def skipKnownDefects(): Unit = while (knownDefects(stream(k))) k += 1
    for (_ <- 0 until TableWarmup) { skipKnownDefects(); serveOne(ts, k, table = true); k += 1 }
    Main.phase("table warm-up done")
    // timed: Slots alternations of a JSON block and a TableStore block,
    // so both backends sample the whole window and a stretch slowed by
    // other tenants costs one JSON block, not the whole JSON figure
    val jsonLat = new Array[Double](2000000)
    var nj = 0
    val tableLat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val hits0 = js.cacheHits.get
    val miss0 = js.cacheMisses.get
    val slotNs = (a.seconds * 1e9 / Slots).toLong
    val slotEnds = scala.collection.mutable.ArrayBuffer(0)
    for (_ <- 0 until Slots) {
      val jsonEnd = System.nanoTime() + (slotNs * JsonShare).toLong
      while (System.nanoTime() < jsonEnd && nj < jsonLat.length) {
        val req = reqs(stream(i))
        val t0 = System.nanoTime()
        tspan("store.json_get")(serveOne(js, i, table = false))
        jsonLat(nj) = (System.nanoTime() - t0) / 1e6
        if (trace.isDefined && nj % LayerProbeEvery == 0) probeLayers(js, req)
        nj += 1; i += 1
      }
      slotEnds += nj
      val tableEnd = System.nanoTime() + (slotNs * (1 - JsonShare)).toLong
      while (System.nanoTime() < tableEnd) {
        skipKnownDefects()
        val t0 = System.nanoTime()
        tspan("store.table_get", sparkWork = true)(serveOne(ts, k, table = true))
        tableLat += (System.nanoTime() - t0) / 1e6
        k += 1
      }
    }
    val hits = js.cacheHits.get - hits0
    val misses = js.cacheMisses.get - miss0
    val jl = java.util.Arrays.copyOf(jsonLat, nj)
    val tl = tableLat.toArray
    System.err.println(s"[perfbench] serve: ${all.size} assets (${all.map(_.bytes).sum} B), " +
      s"${reqs.size} request keys, json gets $nj, table gets ${tl.length}, " +
      s"cache hits $hits misses $misses")
    System.err.println("[perfbench] serve: json get quantiles " +
      Seq(0.1, 0.5, 0.9, 0.99).map(q => f"p${(q * 100).toInt} ${Stats.quantile(jl, q) * 1e3}%.1f").mkString(" ") +
      s" us (n=$nj); table get p50 ${Stats.quantile(tl, 0.5)} ms (n=${tl.length}, after $TableWarmup untimed)")
    trace match {
      case None =>
        res.metric("setup_s", setupS, "s")
      case Some(t) => layerMetrics(t, hits, misses)
    }
    // light: p50 of the fastest JSON block (thousands of gets each);
    // heavy: p50 over every timed TableStore get (~40, so ~20 beyond it)
    res.paths(trace.isDefined,
      slotEnds.zip(slotEnds.tail).collect { case (b, e) if e > b => Stats.quantile(jl.slice(b, e), 0.5) }.min,
      Stats.quantile(tl, 0.5))
    js.close(); ts.close()
  }

  /** Known defect: `CopyDb.bulkImport` keys the report figures of an
    * experiment whose name holds `_` by the filename-encoded name, so
    * the TableStore does not find them. Each such request is tried
    * once per run, untimed, and printed when it fails; failing ones
    * stay out of the TableStore stream, so whether a run fails does
    * not depend on how far its time-bounded stream gets. A library
    * that serves them lets them back into the stream. Returns the
    * request indices left out. */
  private def probeKnownDefects(ts: TableStore, all: Seq[Asset], reqs: IndexedSeq[Request]): Set[Int] = {
    val uris = all.filter(x => x.route == Route.ReportImage && x.experiment.exists(_.contains('_')))
      .map(_.uri).toSet
    reqs.indices.filter(n => reqs(n).kind == "blob.report_image" && uris(reqs(n).uri)).filter { n =>
      val req = reqs(n)
      val err = try {
        (req.expect, req.call(ts)) match {
          case (Some(Right(b)), AssetValue.Blob(got)) if java.util.Arrays.equals(b, got) => None
          case _ => Some("wrong result")
        }
      } catch { case e: Exception => Some(e.toString) }
      err.foreach(e => System.err.println(
        s"[perfbench] known defect, left out of the TableStore stream: ${req.kind} ${req.uri}: $e"))
      err.isDefined
    }.toSet
  }

  /** Traced run only: time the layers a JSON get passes through, by
    * calling each layer's public function directly on the same input. */
  private def probeLayers(js: JsonFileStore, req: Request): Unit = {
    val t = trace.get
    t.span("codec.uri_parse")(UriCodec.parse(req.uri))
    if (!req.kind.startsWith("miss") && !req.kind.startsWith("blob"))
      try t.span("store.json_resolve")(js.getByUri(req.uri.takeWhile(_ != '?'), AccessType.FilePath))
      catch { case _: Exception => () }
    req.filterInput.foreach { case (asset, args) =>
      val node = t.span("filters.parse")(JsonUtil.parse(asset.json))
      val out = t.span("filters.apply")(graft.store.AssetStore.applyFilter(asset.route, node, args))
      t.span("filters.serialize")(JsonUtil.serialize(out))
    }
  }

  private def layerMetrics(t: Trace, hits: Long, misses: Long): Unit = {
    def us(name: String, metric: String) = {
      val s = t.spansNamed(name).map(_.wallS * 1e6)
      res.metric(metric, Stats.median(s), "us")
    }
    us("codec.uri_parse", "codec.uri_parse_us")
    us("store.json_resolve", "store.json_resolve_us")
    res.metric("store.json_cache_hit_ratio", hits.toDouble / math.max(1L, hits + misses), "ratio")
    us("filters.parse", "filters.parse_us")
    us("filters.apply", "filters.apply_us")
    us("filters.serialize", "filters.serialize_us")
    val gets = t.spansNamed("store.table_get")
    def per(f: Trace.Span => Double) = Stats.median(gets.map(f))
    res.metric("store.table_jobs_per_get", per(_.cost.get.jobs.toDouble), "count")
    res.metric("store.table_tasks_per_get", per(_.cost.get.tasks.toDouble), "count")
    res.metric("store.table_plan_ms_per_get", per(_.cost.get.planS * 1e3), "ms")
    res.metric("store.table_job_ms_per_get", per(_.cost.get.jobS * 1e3), "ms")
    res.metric("store.table_driver_gap_ms_per_get", per(_.gapS * 1e3), "ms")
    res.metric("store.table_files_per_get", per(_.cost.get.filesRead.toDouble), "count")
    res.metric("store.table_rows_scanned_per_get", per(_.cost.get.rowsScanned.toDouble), "rows")
    val imports = t.spansNamed("etl.bulk_import").map(_.wallS)
    res.metric("etl.bulk_import_s", Stats.median(imports), "s")
  }
}

object Serve {
  val ExpsPerProject = 4
  val BigExpsPerProject = 1
  val Versions = Seq("0.30.0", "0.13.5", "0.29.1", "0.14.0")
  val JsonShare = 0.35
  val Slots = 10
  val JsonWarmupS = 1.5
  val TableWarmup = 15
  val LayerProbeEvery = 4
  val TableCompareWindow = 100000
}

/** Zipf(s=1) popularity over request keys; `apply(i)` is the i-th
  * request of the stream (same seed, same stream). Ranks are dealt
  * round-robin over strata (request kind × payload size class, in
  * their fixed generation order) and shuffled by seed only within a
  * stratum, so every seed gets the same traffic mix: an unstratified
  * shuffle lets one seed put a 5 MB filtered heatmap at rank 1 (~15%
  * of all requests) and another a 1 KB menu. */
final class ZipfStream(strata: IndexedSeq[String], seed: Long) {
  private val n = strata.size
  private val rank: Array[Int] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val order = strata.distinct
    val groups = order.map { st =>
      val g = strata.indices.filter(strata(_) == st).toArray
      for (i <- g.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = g(i); g(i) = g(j); g(j) = t }
      g
    }
    val out = Array.newBuilder[Int]
    for (round <- 0 until groups.map(_.length).max; g <- groups if round < g.length) out += g(round)
    out.result()
  }
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / (i + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }
  private val draws = scala.collection.mutable.ArrayBuffer.empty[Int]
  private val r = new java.util.SplittableRandom(seed)
  def apply(i: Int): Int = {
    while (draws.size <= i) {
      var idx = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      if (idx < 0) idx = -idx - 1
      draws += rank(math.min(idx, n - 1))
    }
    draws(i)
  }
}

/** The request keys the serve stream draws from: typed getters,
  * getByUri, filtered views, contour timesteps, blobs, and misses. */
object Requests {
  private def json(s: String) = Some(Left(s))
  def of(all: Seq[Asset]): IndexedSeq[Request] = {
    val out = IndexedSeq.newBuilder[Request]
    all.zipWithIndex.foreach { case (x, n) =>
      val b = Seq.newBuilder[Request]
      val p = x.project
      val e = x.experiment.getOrElse("")
      val ar = x.args
      x.route match {
        case Route.ReportImage =>
          b += Request("blob.report_image", x.uri, s => AssetValue.Blob(s.getReportImage(p, e, ar("path"))),
            Some(Right(x.blob)), filtered = false)
        case Route.MapOverlay =>
          b += Request("blob.map_overlay", x.uri, s => AssetValue.Blob(
            s.getMapOverlay(p, e, ar("source"), ar("variable"), ar("date"))), Some(Right(x.blob)), filtered = false)
          b += Request("blob.uri", x.uri, s => s.getByUri(x.uri, AccessType.Blob), Some(Right(x.blob)), filtered = false)
        case Route.Timeseries =>
          b += Request("ts", x.uri, s => s.getTimeseries(p, e, ar("location"), ar("network"), ar("obsvar"),
            ar("layer"), cache = true), json(x.json), filtered = false)
        case Route.MapRoute =>
          val t = x.kwargs("time")
          b += Request("map", x.uri, s => s.getMap(p, e, ar("network"), ar("obsvar"), ar("layer"),
            ar("model"), ar("modvar"), t, cache = true), json(x.json), filtered = false)
          val (f, se) = (Seq("monthly", "yearly", "daily")(n % 3), Seq("DJF", "JJA", "all")(n % 3))
          b += Request("map.filtered", x.uri, s => s.getMap(p, e, ar("network"), ar("obsvar"), ar("layer"),
            ar("model"), ar("modvar"), t, frequency = Some(f), season = Some(se), cache = true),
            None, filtered = true, Some((x, Map("frequency" -> f, "season" -> se))))
        case Route.GlobStats =>
          val fr = ar("frequency")
          for (reg <- Seq("EUROPE", "ASIA"); time <- Seq("2020-all", "2010-all"))
            b += Request("heatmap.filtered", x.uri, s => s.getHeatmap(p, e, fr, reg, time),
              None, filtered = true, Some((x, Map("region" -> reg, "time" -> time))))
          b += Request("regional_stats.filtered", x.uri, s => s.getRegionalStats(p, e, fr, "AERONETSun",
            "od550aer", "Surface"), None, filtered = true,
            Some((x, Map("variable" -> "od550aer", "network" -> "AERONETSun", "layer" -> "Surface"))))
        case Route.Contour =>
          val steps = JsonUtil.parse(x.json).fieldNames()
          steps.forEachRemaining { ts =>
            b += Request("contour.timestep", x.uri, s => s.getContour(p, e, ar("obsvar"), ar("model"), ts,
              cache = true), None, filtered = true)
          }
        case Route.Menu =>
          b += Request("menu", x.uri, s => s.getMenu(p, e, cache = true), json(x.json), filtered = false)
          b += Request("miss.menu", x.uri, s => s.getMenu(p, e + "-retired",
            default = Some(AssetValue.Json("{}"))), json("{}"), filtered = false)
        case Route.Config =>
          b += Request("config", x.uri, s => s.getConfig(p, e, cache = true), json(x.json), filtered = false)
        case Route.Ranges =>
          b += Request("ranges", x.uri, s => s.getRanges(p, e, cache = true), json(x.json), filtered = false)
        case Route.Regions =>
          b += Request("regions", x.uri, s => s.getRegions(p, e, cache = true), json(x.json), filtered = false)
        case _ =>
          b += Request("uri." + x.route.name.toLowerCase, x.uri, s => s.getByUri(x.uri, cache = true),
            json(x.json), filtered = false)
      }
      val sizeClass = math.log10(x.bytes.toDouble).toInt
      out ++= b.result().map(_.copy(sizeClass = sizeClass))
    }
    out.result()
  }
}
