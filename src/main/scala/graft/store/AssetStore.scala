package graft.store

import java.time.Instant

import com.fasterxml.jackson.databind.JsonNode

import graft.core._
import graft.codec.UriCodec
import graft.filters.{ContentFilters, JsonUtil}

/** The aerovaldb API surface: point get/put by composite string key on
  * 24 asset routes, post-read content filters, catalog query, listing,
  * deletes, locking — backend-agnostic.
  *
  * Mirrors the reference's abstract class
  * (`/root/reference/src/aerovaldb/aerovaldb.py:91-1453`): every getter
  * and putter funnels into `_get`/`_put`; the typed methods below are
  * the 24 thin wrappers. Getters accept an access type, an optional
  * default (returned verbatim on missing key), and a cache opt-in.
  */
trait AssetStore extends AutoCloseable {
  import AssetStore._

  /** Backend name (used by the registry). */
  def name: String

  // ------------------------------------------------------------------
  // backend primitives
  // ------------------------------------------------------------------

  /** Point lookup. `kwargs` holds non-template key components (e.g.
    * `time` for MAP) and filter args (dispatched per FILTERS). */
  protected def _get(route: Route, routeArgs: Map[String, String],
                     kwargs: Map[String, String],
                     accessType: AccessType,
                     default: Option[AssetValue],
                     cache: Boolean): AssetValue

  /** Keyed upsert of a JSON document (raw string passthrough — the
    * reference writes str obj unmodified). */
  protected def _put(json: String, route: Route, routeArgs: Map[String, String],
                     kwargs: Map[String, String]): Unit

  /** Blob write for REPORT_IMAGE / MAP_OVERLAY. */
  protected def _putBlob(obj: Array[Byte], route: Route, routeArgs: Map[String, String]): Unit

  /** Catalog query: route-set membership + exact-equality meta match
    * (`jsonfiledb.py:711-763`). */
  def query(assetTypes: Seq[Route] = Route.all,
            kwargs: Map[String, String] = Map.empty): Seq[QueryEntry]

  def rmByUri(uri: String): Unit
  def rmExperimentData(project: String, experiment: String): Unit

  /** Whole-database advisory lock (single-writer discipline). */
  def lock(): graft.lock.AdvisoryLock

  def close(): Unit = ()

  // ------------------------------------------------------------------
  // generic derived API
  // ------------------------------------------------------------------

  /** All URIs (deprecated in the reference in favor of query). */
  def listAll(): Seq[String] = query().map(_.uri)

  def getByUri(uri: String, accessType: AccessType = AccessType.JsonStr,
               default: Option[AssetValue] = None, cache: Boolean = false): AssetValue = {
    val (route, args, kw) = UriCodec.parse(uri)
    if (Route.blobRoutes.contains(route) &&
        (accessType == AccessType.Blob || accessType == AccessType.JsonStr))
      AssetValue.Blob(getBlob(route, args))
    else if (route == Route.Contour && kw.contains("timestep"))
      // contour URIs carrying a timestep go through the two-layout
      // fallback + timestep selection, like the typed getter
      getContour(args("project"), args("experiment"), args("obsvar"), args("model"),
        kw("timestep"), accessType, default, cache)
    else _get(route, args, kw - "version", accessType, default, cache)
  }

  def putByUri(uri: String, obj: String): Unit = {
    val (route, args, kw) = UriCodec.parse(uri)
    require(!Route.blobRoutes.contains(route),
      s"putByUri with a JSON payload is not valid for blob route $route")
    _put(obj, route, args, kw - "version")
  }

  def putBlobByUri(uri: String, obj: Array[Byte]): Unit = {
    val (route, args, _) = UriCodec.parse(uri)
    require(Route.blobRoutes.contains(route), s"Blob put requires a blob route, got $route")
    _putBlob(obj, route, args)
  }

  /** Serialize a parsed document (NaN→null) and put it. */
  def putNode(node: JsonNode, route: Route, routeArgs: Map[String, String],
              kwargs: Map[String, String] = Map.empty): Unit =
    _put(JsonUtil.serialize(node), route, routeArgs, kwargs)

  /** Mtime of the experiment's config asset (`aerovaldb.py:1401-1410`). */
  def getExperimentMtime(project: String, experiment: String): Instant =
    _get(Route.Config, Map("project" -> project, "experiment" -> experiment),
      Map.empty, AccessType.Mtime, None, cache = false) match {
      case AssetValue.Time(t) => t
      case other => throw new IllegalStateException(s"Unexpected $other")
    }

  // ------------------------------------------------------------------
  // listing wrappers
  // ------------------------------------------------------------------

  def listTimeseries(project: String, experiment: String): Seq[String] =
    query(Seq(Route.Timeseries), Map("project" -> project, "experiment" -> experiment)).map(_.uri)

  def listMap(project: String, experiment: String): Seq[String] =
    query(Seq(Route.MapRoute), Map("project" -> project, "experiment" -> experiment)).map(_.uri)

  /** Compat quirk preserved: returns HEATMAP-route URIs for the
    * glob_stats files (`jsonfiledb.py:1077-1096`). */
  def listGlobStats(project: String, experiment: String): Seq[String] =
    query(Seq(Route.Heatmap), Map("project" -> project, "experiment" -> experiment)).map(_.uri)

  /** Distinct experiments of a project (`aerovaldb.py:483-486` — left
    * unimplemented in the reference backends; the documented Spark
    * shape is a distinct over the catalog). `hasResults` keeps only
    * experiments with at least one non-config asset. */
  def listExperiments(project: String, hasResults: Boolean = false): Seq[String] = {
    val entries = query(kwargs = Map("project" -> project))
    val byExp = entries.flatMap(e => e.meta.get("experiment").map(_ -> e.route))
    val all = byExp.map(_._1).distinct
    if (!hasResults) all.sorted
    else byExp.filter(_._2 != Route.Config).map(_._1).distinct.sorted
  }

  // ------------------------------------------------------------------
  // the 24-route typed surface (getters/putters)
  // ------------------------------------------------------------------

  def getGlobStats(project: String, experiment: String, frequency: String,
                   accessType: AccessType = AccessType.JsonStr,
                   default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.GlobStats, pe(project, experiment) + ("frequency" -> frequency),
      Map.empty, accessType, default, cache)

  def putGlobStats(obj: String, project: String, experiment: String, frequency: String): Unit =
    _put(obj, Route.GlobStats, pe(project, experiment) + ("frequency" -> frequency), Map.empty)

  /** Filtered view of glob_stats; forces cache=true (`jsonfiledb.py:459`). */
  def getRegionalStats(project: String, experiment: String, frequency: String,
                       network: String, variable: String, layer: String,
                       accessType: AccessType = AccessType.JsonStr,
                       default: Option[AssetValue] = None): AssetValue =
    _get(Route.RegionalStats, pe(project, experiment) + ("frequency" -> frequency),
      Map("network" -> network, "variable" -> variable, "layer" -> layer),
      accessType, default, cache = true)

  /** Filtered view of glob_stats; forces cache=true (`jsonfiledb.py:489`). */
  def getHeatmap(project: String, experiment: String, frequency: String,
                 region: String, time: String,
                 accessType: AccessType = AccessType.JsonStr,
                 default: Option[AssetValue] = None): AssetValue =
    _get(Route.Heatmap, pe(project, experiment) + ("frequency" -> frequency),
      Map("region" -> region, "time" -> time), accessType, default, cache = true)

  /** Contour with two-layout fallback: single-doc `[timestep]` first,
    * then the per-timestep split file (`jsonfiledb.py:938-1023`). */
  def getContour(project: String, experiment: String, obsvar: String, model: String,
                 timestep: String,
                 accessType: AccessType = AccessType.JsonStr,
                 default: Option[AssetValue] = None, cache: Boolean = false): AssetValue = {
    val base = pe(project, experiment) + ("obsvar" -> obsvar) + ("model" -> model)
    // a cached single-doc read splits the document into one sub-key
    // entry per timestep, under the validator taken before the read,
    // so later timestep reads skip the read and the filter
    // (`jsonfiledb.py:988-993`)
    val stamp = if (cache) docStamp(Route.Contour, base) else None
    stamp.flatMap(s => subKeyCache.get(s, ContourStep + timestep)) match {
      case Some(json) =>
        contourPrimeHits.incrementAndGet()
        return textValue(json, accessType)
      case None => ()
    }
    try {
      val whole = _get(Route.Contour, base, Map.empty, AccessType.Obj, None, cache)
      whole match {
        case AssetValue.Obj(node) =>
          stamp.foreach(s => node.properties().forEach(e =>
            subKeyCache.put(s, ContourStep + e.getKey, JsonUtil.serialize(e.getValue))))
          val sel = ContentFilters.filterContour(node, Some(timestep))
          convertNode(sel, accessType)
        case other => other
      }
    } catch {
      case _: java.io.FileNotFoundException | _: NoSuchElementException =>
        try _get(Route.ContourTimesplit, base + ("timestep" -> timestep),
          Map.empty, accessType, None, cache)
        catch {
          case e: java.io.FileNotFoundException =>
            default.getOrElse(throw e)
        }
    }
  }

  def putContour(obj: String, project: String, experiment: String, obsvar: String,
                 model: String, timestep: Option[String] = None): Unit = {
    val base = pe(project, experiment) + ("obsvar" -> obsvar) + ("model" -> model)
    timestep match {
      case None    => _put(obj, Route.Contour, base, Map.empty)
      case Some(t) => _put(obj, Route.ContourTimesplit, base + ("timestep" -> t), Map.empty)
    }
  }

  def getTimeseries(project: String, experiment: String, location: String,
                    network: String, obsvar: String, layer: String,
                    accessType: AccessType = AccessType.JsonStr,
                    default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Timeseries, pe(project, experiment) ++ Map(
      "location" -> location, "network" -> network, "obsvar" -> obsvar, "layer" -> layer),
      Map.empty, accessType, default, cache)

  def putTimeseries(obj: String, project: String, experiment: String, location: String,
                    network: String, obsvar: String, layer: String): Unit =
    _put(obj, Route.Timeseries, pe(project, experiment) ++ Map(
      "location" -> location, "network" -> network, "obsvar" -> obsvar, "layer" -> layer), Map.empty)

  def getTimeseriesWeekly(project: String, experiment: String, location: String,
                          network: String, obsvar: String, layer: String,
                          accessType: AccessType = AccessType.JsonStr,
                          default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.TimeseriesWeekly, pe(project, experiment) ++ Map(
      "location" -> location, "network" -> network, "obsvar" -> obsvar, "layer" -> layer),
      Map.empty, accessType, default, cache)

  def putTimeseriesWeekly(obj: String, project: String, experiment: String, location: String,
                          network: String, obsvar: String, layer: String): Unit =
    _put(obj, Route.TimeseriesWeekly, pe(project, experiment) ++ Map(
      "location" -> location, "network" -> network, "obsvar" -> obsvar, "layer" -> layer), Map.empty)

  def getExperiments(project: String, accessType: AccessType = AccessType.JsonStr,
                     default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Experiments, Map("project" -> project), Map.empty, accessType, default, cache)

  def putExperiments(obj: String, project: String): Unit =
    _put(obj, Route.Experiments, Map("project" -> project), Map.empty)

  def getConfig(project: String, experiment: String,
                accessType: AccessType = AccessType.JsonStr,
                default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Config, pe(project, experiment), Map.empty, accessType, default, cache)

  def putConfig(obj: String, project: String, experiment: String): Unit =
    _put(obj, Route.Config, pe(project, experiment), Map.empty)

  def getMenu(project: String, experiment: String,
              accessType: AccessType = AccessType.JsonStr,
              default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Menu, pe(project, experiment), Map.empty, accessType, default, cache)

  def putMenu(obj: String, project: String, experiment: String): Unit =
    _put(obj, Route.Menu, pe(project, experiment), Map.empty)

  def getStatistics(project: String, experiment: String,
                    accessType: AccessType = AccessType.JsonStr,
                    default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Statistics, pe(project, experiment), Map.empty, accessType, default, cache)

  def putStatistics(obj: String, project: String, experiment: String): Unit =
    _put(obj, Route.Statistics, pe(project, experiment), Map.empty)

  def getRanges(project: String, experiment: String,
                accessType: AccessType = AccessType.JsonStr,
                default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Ranges, pe(project, experiment), Map.empty, accessType, default, cache)

  def putRanges(obj: String, project: String, experiment: String): Unit =
    _put(obj, Route.Ranges, pe(project, experiment), Map.empty)

  def getRegions(project: String, experiment: String,
                 accessType: AccessType = AccessType.JsonStr,
                 default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Regions, pe(project, experiment), Map.empty, accessType, default, cache)

  def putRegions(obj: String, project: String, experiment: String): Unit =
    _put(obj, Route.Regions, pe(project, experiment), Map.empty)

  /** models-style: experiment-level doc, falling back to the
    * project-level doc (`jsonfiledb.py:120-123`). */
  def getModelsStyle(project: String, experiment: Option[String] = None,
                     accessType: AccessType = AccessType.JsonStr,
                     default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.ModelsStyle, Map("project" -> project),
      experiment.map("experiment" -> _).toMap, accessType, default, cache)

  def putModelsStyle(obj: String, project: String, experiment: Option[String] = None): Unit =
    _put(obj, Route.ModelsStyle, Map("project" -> project),
      experiment.map("experiment" -> _).toMap)

  def getMap(project: String, experiment: String, network: String, obsvar: String,
             layer: String, model: String, modvar: String, time: String,
             frequency: Option[String] = None, season: Option[String] = None,
             accessType: AccessType = AccessType.JsonStr,
             default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.MapRoute, pe(project, experiment) ++ Map(
      "network" -> network, "obsvar" -> obsvar, "layer" -> layer,
      "model" -> model, "modvar" -> modvar),
      Map("time" -> time) ++ frequency.map("frequency" -> _) ++ season.map("season" -> _),
      accessType, default, cache)

  def putMap(obj: String, project: String, experiment: String, network: String,
             obsvar: String, layer: String, model: String, modvar: String, time: String): Unit =
    _put(obj, Route.MapRoute, pe(project, experiment) ++ Map(
      "network" -> network, "obsvar" -> obsvar, "layer" -> layer,
      "model" -> model, "modvar" -> modvar), Map("time" -> time))

  def getScatter(project: String, experiment: String, network: String, obsvar: String,
                 layer: String, model: String, modvar: String, time: String,
                 accessType: AccessType = AccessType.JsonStr,
                 default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Scatter, pe(project, experiment) ++ Map(
      "network" -> network, "obsvar" -> obsvar, "layer" -> layer,
      "model" -> model, "modvar" -> modvar),
      Map("time" -> time), accessType, default, cache)

  def putScatter(obj: String, project: String, experiment: String, network: String,
                 obsvar: String, layer: String, model: String, modvar: String, time: String): Unit =
    _put(obj, Route.Scatter, pe(project, experiment) ++ Map(
      "network" -> network, "obsvar" -> obsvar, "layer" -> layer,
      "model" -> model, "modvar" -> modvar), Map("time" -> time))

  def getProfiles(project: String, experiment: String, location: String,
                  network: String, obsvar: String,
                  accessType: AccessType = AccessType.JsonStr,
                  default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Profiles, pe(project, experiment) ++ Map(
      "location" -> location, "network" -> network, "obsvar" -> obsvar),
      Map.empty, accessType, default, cache)

  def putProfiles(obj: String, project: String, experiment: String, location: String,
                  network: String, obsvar: String): Unit =
    _put(obj, Route.Profiles, pe(project, experiment) ++ Map(
      "location" -> location, "network" -> network, "obsvar" -> obsvar), Map.empty)

  /** Heatmap-timeseries: the URI template carries only project/
    * experiment; region/network/obsvar/layer travel as kwargs (they
    * appear in the physical filename for pre-0.29 layouts). */
  def getHeatmapTimeseries(project: String, experiment: String, region: String,
                           network: String, obsvar: String, layer: String,
                           accessType: AccessType = AccessType.JsonStr,
                           default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.HeatmapTimeseries, pe(project, experiment),
      Map("region" -> region, "network" -> network, "obsvar" -> obsvar, "layer" -> layer),
      accessType, default, cache)

  def putHeatmapTimeseries(obj: String, project: String, experiment: String, region: String,
                           network: String, obsvar: String, layer: String): Unit =
    _put(obj, Route.HeatmapTimeseries, pe(project, experiment),
      Map("region" -> region, "network" -> network, "obsvar" -> obsvar, "layer" -> layer))

  def getForecast(project: String, experiment: String, region: String,
                  network: String, obsvar: String, layer: String,
                  accessType: AccessType = AccessType.JsonStr,
                  default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Forecast, pe(project, experiment) ++ Map(
      "region" -> region, "network" -> network, "obsvar" -> obsvar, "layer" -> layer),
      Map.empty, accessType, default, cache)

  def putForecast(obj: String, project: String, experiment: String, region: String,
                  network: String, obsvar: String, layer: String): Unit =
    _put(obj, Route.Forecast, pe(project, experiment) ++ Map(
      "region" -> region, "network" -> network, "obsvar" -> obsvar, "layer" -> layer), Map.empty)

  def getFairmode(project: String, experiment: String, region: String, network: String,
                  obsvar: String, layer: String, model: String, time: String,
                  accessType: AccessType = AccessType.JsonStr,
                  default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Fairmode, pe(project, experiment) ++ Map(
      "region" -> region, "network" -> network, "obsvar" -> obsvar,
      "layer" -> layer, "model" -> model, "time" -> time),
      Map.empty, accessType, default, cache)

  def putFairmode(obj: String, project: String, experiment: String, region: String,
                  network: String, obsvar: String, layer: String, model: String, time: String): Unit =
    _put(obj, Route.Fairmode, pe(project, experiment) ++ Map(
      "region" -> region, "network" -> network, "obsvar" -> obsvar,
      "layer" -> layer, "model" -> model, "time" -> time), Map.empty)

  def getGriddedMap(project: String, experiment: String, obsvar: String, model: String,
                    accessType: AccessType = AccessType.JsonStr,
                    default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.GriddedMap, pe(project, experiment) + ("obsvar" -> obsvar) + ("model" -> model),
      Map.empty, accessType, default, cache)

  def putGriddedMap(obj: String, project: String, experiment: String, obsvar: String,
                    model: String): Unit =
    _put(obj, Route.GriddedMap, pe(project, experiment) + ("obsvar" -> obsvar) + ("model" -> model),
      Map.empty)

  def getReport(project: String, experiment: String, title: String,
                accessType: AccessType = AccessType.JsonStr,
                default: Option[AssetValue] = None, cache: Boolean = false): AssetValue =
    _get(Route.Report, pe(project, experiment) + ("title" -> title),
      Map.empty, accessType, default, cache)

  def putReport(obj: String, project: String, experiment: String, title: String): Unit =
    _put(obj, Route.Report, pe(project, experiment) + ("title" -> title), Map.empty)

  def getReportImage(project: String, experiment: String, path: String): Array[Byte] =
    getBlob(Route.ReportImage, pe(project, experiment) + ("path" -> path))

  def putReportImage(obj: Array[Byte], project: String, experiment: String, path: String): Unit =
    _putBlob(obj, Route.ReportImage, pe(project, experiment) + ("path" -> path))

  def getMapOverlay(project: String, experiment: String, source: String,
                    variable: String, date: String): Array[Byte] =
    getBlob(Route.MapOverlay, pe(project, experiment) ++ Map(
      "source" -> source, "variable" -> variable, "date" -> date))

  def putMapOverlay(obj: Array[Byte], project: String, experiment: String, source: String,
                    variable: String, date: String): Unit =
    _putBlob(obj, Route.MapOverlay, pe(project, experiment) ++ Map(
      "source" -> source, "variable" -> variable, "date" -> date))

  // ------------------------------------------------------------------
  // document caches (`jsondb/cache.py:114-371`): a whole-document LRU
  // and a filtered sub-key LRU of serialized JSON, each entry stamped
  // with the validator its backend took before the read. Only strings
  // are cached: an Obj get parses a fresh node on every call.
  // ------------------------------------------------------------------

  /** Cache observability (hit/miss counters, exposed for tests and
    * ops — the reference asserts on equivalent counters in
    * `tests/jsondb/test_cache.py:35-149`): whole-document LRU lookups
    * of cached gets; sub-key hits count in neither. */
  val cacheHits = new java.util.concurrent.atomic.AtomicLong(0)
  val cacheMisses = new java.util.concurrent.atomic.AtomicLong(0)
  /** Contour timestep reads served from a primed per-timestep entry. */
  val contourPrimeHits = new java.util.concurrent.atomic.AtomicLong(0)

  private val docCache = new DocCache[Option[String]](64)
  private val subKeyCache = new DocCache[String](512)

  /** The identity and validator of the document a get for `keyVals`
    * on `route` reads, taken before the read: the validator changes
    * whenever the document may have. None when there is no document. */
  protected def docStamp(route: Route, keyVals: Map[String, String]): Option[DocStamp]

  /** The JsonStr/Obj value of a stored document — the whole text, or
    * `route`'s filter applied to it — or None when `read` finds no
    * document. With a stamp (a cache=true get) the whole text and the
    * filtered output go through the two LRUs, and so does a document's
    * absence: a put to the key changes the validator. */
  protected final def jsonValue(route: Route, filterArgs: Map[String, String],
                                accessType: AccessType, stamp: Option[DocStamp])
                               (read: => Option[String]): Option[AssetValue] = {
    def filtered(text: String) =
      JsonUtil.serialize(AssetStore.applyFilter(route, JsonUtil.parse(text), filterArgs))
    def whole(s: DocStamp) = docCache.get(s, "") match {
      case Some(hit) => cacheHits.incrementAndGet(); hit
      case None => cacheMisses.incrementAndGet(); val t = read; docCache.put(s, "", t); t
    }
    // sub-key: route + sorted filter args (`jsonfiledb.py:367-368`)
    def sub = route.name + filterArgs.toSeq.sorted.mkString("::", ",", "")
    val text = stamp match {
      case None => if (filterArgs.isEmpty) read else read.map(filtered)
      case Some(s) if filterArgs.isEmpty => whole(s)
      case Some(s) =>
        subKeyCache.get(s, sub).orElse(whole(s).map { t =>
          val out = filtered(t); subKeyCache.put(s, sub, out); out
        })
    }
    text.map(textValue(_, accessType))
  }

  /** Drops every cached entry of the documents `ids` (a backend's own
    * writes call it; the validators catch everyone else's). */
  protected final def evictCached(ids: Iterable[Any]): Unit =
    if (ids.nonEmpty) Seq(docCache, subKeyCache).foreach(_.evict(ids.toSet))

  private def textValue(json: String, accessType: AccessType): AssetValue =
    accessType match {
      case AccessType.JsonStr => AssetValue.Json(json)
      case AccessType.Obj     => AssetValue.Obj(JsonUtil.parse(json))
      case other => throw new UnsupportedOperation(s"Cannot convert parsed node to $other")
    }

  /** Blob read for REPORT_IMAGE / MAP_OVERLAY: `_get` with BLOB access. */
  private def getBlob(route: Route, routeArgs: Map[String, String]): Array[Byte] =
    _get(route, routeArgs, Map.empty, AccessType.Blob, None, cache = false) match {
      case AssetValue.Blob(b) => b
      case other => throw new IllegalStateException(s"Unexpected $other")
    }

  private def pe(project: String, experiment: String): Map[String, String] =
    Map("project" -> project, "experiment" -> experiment)

  private def convertNode(node: JsonNode, accessType: AccessType): AssetValue =
    accessType match {
      case AccessType.Obj     => AssetValue.Obj(node)
      case AccessType.JsonStr => AssetValue.Json(JsonUtil.serialize(node))
      case other => throw new UnsupportedOperation(s"Cannot convert parsed node to $other")
    }
}

object AssetStore {
  /** A document's cache identity: `id` names it within one store, and
    * `validator` is equal between two reads only if the document did
    * not change in between. */
  final case class DocStamp(id: Any, validator: Any)

  private val ContourStep = "contour.timestep::"

  /** An LRU of serialized documents (or of their absence) keyed by
    * (document id, sub-key), each entry valid while its document's
    * validator is unchanged. */
  private final class DocCache[V](maxSize: Int) {
    private val entries = new java.util.LinkedHashMap[(Any, String), (Any, V)](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(Any, String), (Any, V)]): Boolean =
        size() > maxSize
    }
    def get(s: DocStamp, sub: String): Option[V] = synchronized {
      Option(entries.get((s.id, sub))).collect { case (v, value) if v == s.validator => value }
    }
    def put(s: DocStamp, sub: String, value: V): Unit =
      synchronized(entries.put((s.id, sub), (s.validator, value)))
    def evict(ids: Set[Any]): Unit = synchronized(entries.keySet.removeIf(k => ids(k._1)))
  }

  /** Per-route content filters (reference FILTERS registration,
    * `jsonfiledb.py:193-197`): the kwargs consumed by each filter. */
  val filterParams: Map[Route, Set[String]] = Map(
    Route.RegionalStats -> Set("variable", "network", "layer"),
    Route.Heatmap       -> Set("region", "time"),
    Route.MapRoute      -> Set("frequency", "season"),
  )

  /** Apply the registered filter for `route` given its args. */
  def applyFilter(route: Route, node: JsonNode, args: Map[String, String]): JsonNode =
    route match {
      case Route.RegionalStats =>
        ContentFilters.filterRegionalStats(node, args("variable"), args("network"), args("layer"))
      case Route.Heatmap =>
        ContentFilters.filterHeatmap(node, args("region"), args("time"))
      case Route.MapRoute =>
        ContentFilters.filterMap(node, args.get("frequency"), args.get("season"))
      case _ => node
    }
}
