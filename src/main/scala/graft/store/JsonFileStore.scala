package graft.store

import java.io.FileNotFoundException
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.core._
import graft.codec._
import graft.filters.JsonUtil
import graft.lock.{AdvisoryLock, Locking}

/** File-tree backend — one file per asset, layout-compatible with the
  * reference's jsondb (`/root/reference/src/aerovaldb/jsondb/
  * jsonfiledb.py`): per-route path templates with version-dependent
  * generations, filename-encoded key components (`/→%1, _→%2, %→%0`),
  * unencoded-retry fallback, post-read content filters, an LRU file
  * cache with mtime invalidation, and a reverse-parsing catalog scan.
  *
  * This backend exists for layout compatibility and point access; the
  * scalable Spark-native layout is [[TableStore]] (the reference's
  * jsondb/sqlitedb split, same trade-off).
  */
final class JsonFileStore(basedirRaw: String) extends AssetStore {
  import StringMapper._

  val basedir: Path = Paths.get(basedirRaw).toAbsolutePath
  Files.createDirectories(basedir)

  def name: String = "json_files"

  /** Path templates per route and data generation
    * (`jsonfiledb.py:85-191`). */
  private val pathLookup: Seq[(Route, Seq[Mapper])] = Seq(
    Route.Heatmap -> Seq(Constant("./{project}/{experiment}/hm/glob_stats_{frequency}.json")),
    Route.GlobStats -> Seq(Constant("./{project}/{experiment}/hm/glob_stats_{frequency}.json")),
    Route.RegionalStats -> Seq(Constant("./{project}/{experiment}/hm/glob_stats_{frequency}.json")),
    // extension appended on write after magic sniffing
    Route.MapOverlay -> Seq(Constant("./{project}/{experiment}/overlay/{variable}_{source}/{variable}_{source}_{date}")),
    Route.Contour -> Seq(Constant("./{project}/{experiment}/contour/{obsvar}_{model}.geojson")),
    Route.ContourTimesplit -> Seq(Constant("./{project}/{experiment}/contour/{obsvar}_{model}/{obsvar}_{model}_{timestep}.geojson")),
    Route.TimeseriesWeekly -> Seq(
      VersionConstraint.min("./{project}/{experiment}/ts/diurnal/{location}_{network}_{obsvar}_{layer}.json", "0.29.0.dev1"),
      VersionConstraint.max("./{project}/{experiment}/ts/diurnal/{location}_{network}-{obsvar}_{layer}.json", "0.29.0.dev1")),
    Route.Timeseries -> Seq(
      VersionConstraint.min("./{project}/{experiment}/ts/{location}_{network}_{obsvar}_{layer}.json", "0.29.0.dev1"),
      VersionConstraint.max("./{project}/{experiment}/ts/{location}_{network}-{obsvar}_{layer}.json", "0.29.0.dev1")),
    Route.Experiments -> Seq(Constant("./{project}/experiments.json")),
    Route.Config -> Seq(Constant("./{project}/{experiment}/cfg_{project}_{experiment}.json")),
    Route.Menu -> Seq(Constant("./{project}/{experiment}/menu.json")),
    Route.Statistics -> Seq(Constant("./{project}/{experiment}/statistics.json")),
    Route.Ranges -> Seq(Constant("./{project}/{experiment}/ranges.json")),
    Route.Regions -> Seq(Constant("./{project}/{experiment}/regions.json")),
    Route.ModelsStyle -> Seq(Priority(Seq(
      "./{project}/{experiment}/models-style.json",
      "./{project}/models-style.json"))),
    Route.MapRoute -> Seq(
      VersionConstraint.min("./{project}/{experiment}/map/{network}_{obsvar}_{layer}_{model}_{modvar}_{time}.json", "0.29.0.dev1"),
      VersionConstraint.range("./{project}/{experiment}/map/{network}-{obsvar}_{layer}_{model}-{modvar}_{time}.json", "0.13.2", "0.29.0.dev1"),
      VersionConstraint.max("./{project}/{experiment}/map/{network}-{obsvar}_{layer}_{model}-{modvar}.json", "0.13.2")),
    Route.Scatter -> Seq(
      VersionConstraint.min("./{project}/{experiment}/scat/{network}_{obsvar}_{layer}_{model}_{modvar}_{time}.json", "0.29.0.dev1"),
      VersionConstraint.range("./{project}/{experiment}/scat/{network}-{obsvar}_{layer}_{model}-{modvar}_{time}.json", "0.13.2", "0.29.0.dev1"),
      VersionConstraint.max("./{project}/{experiment}/scat/{network}-{obsvar}_{layer}_{model}-{modvar}.json", "0.13.2")),
    Route.Profiles -> Seq(Constant("./{project}/{experiment}/profiles/{location}_{network}_{obsvar}.json")),
    Route.HeatmapTimeseries -> Seq(
      VersionConstraint.min("./{project}/{experiment}/hm/ts/{region}_{network}_{obsvar}_{layer}.json", "0.29.0.dev1"),
      VersionConstraint.range("./{project}/{experiment}/hm/ts/{region}-{network}-{obsvar}-{layer}.json", "0.13.2", "0.29.0.dev1"),
      VersionConstraint.range("./{project}/{experiment}/hm/ts/{network}-{obsvar}-{layer}.json", "0.12.2", "0.13.2"),
      VersionConstraint.max("./{project}/{experiment}/hm/ts/stats_ts.json", "0.12.2")),
    Route.Forecast -> Seq(
      VersionConstraint.min("./{project}/{experiment}/forecast/{region}_{network}_{obsvar}_{layer}.json", "0.29.0.dev1"),
      VersionConstraint.max("./{project}/{experiment}/forecast/{region}_{network}-{obsvar}_{layer}.json", "0.29.0.dev1")),
    Route.Fairmode -> Seq(Constant("./{project}/{experiment}/fairmode/{region}_{network}_{obsvar}_{layer}_{model}_{time}.json")),
    Route.GriddedMap -> Seq(Constant("./{project}/{experiment}/contour/{obsvar}_{model}.json")),
    Route.Report -> Seq(Constant("./reports/{project}/{experiment}/{title}.json")),
    Route.ReportImage -> Seq(Constant("./reports/{project}/{experiment}/{path}")),
  )

  private val fallbackVersion = Pep440Version.parse("0.0.1")

  /** Version lookup: reads the experiment config's
    * `exp_info.pyaerocom_version`, memoized; missing/invalid config →
    * 0.0.1 (`jsonfiledb.py:224-258`). */
  private val versionCache = new java.util.concurrent.ConcurrentHashMap[(String, String), Pep440Version]()
  private[store] def getVersion(project: String, experiment: String): Pep440Version =
    versionCache.computeIfAbsent((project, experiment), { case (p, e) =>
      if (p.isEmpty || e.isEmpty) fallbackVersion
      else {
        val cfg = basedir.resolve(p).resolve(e).resolve(
          s"cfg_${ArgCodec.encodeFname(p)}_${ArgCodec.encodeFname(e)}.json")
        val cfgAlt = basedir.resolve(p).resolve(e).resolve(s"cfg_${p}_${e}.json")
        val path = if (Files.exists(cfg)) cfg else cfgAlt
        if (!Files.exists(path)) fallbackVersion
        else
          try {
            val node = JsonUtil.parse(Files.readString(path))
            val v = node.path("exp_info").path("pyaerocom_version").asText("")
            if (v.isEmpty) fallbackVersion else Pep440Version.parse(v)
          } catch { case scala.util.control.NonFatal(_) => fallbackVersion }
      }
    })

  private val mapper = new StringMapper(pathLookup.toMap, getVersion _)

  // --------------------------------------------------------------
  // LRU caches: whole-file (64) + filtered sub-key (512), mtime-
  // invalidated (`jsondb/cache.py:114-371`).
  // --------------------------------------------------------------
  import JsonFileStore.CacheEntry
  private def lruMap[K, V](maxSize: Int) =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > maxSize
      })
  private val fileCache = lruMap[String, CacheEntry](64)
  private val subKeyCache = lruMap[String, CacheEntry](512)

  /** Cache observability (hit/miss counters, exposed for tests and
    * ops — the reference asserts on equivalent counters in
    * `tests/jsondb/test_cache.py:35-149`). */
  val cacheHits = new java.util.concurrent.atomic.AtomicLong(0)
  val cacheMisses = new java.util.concurrent.atomic.AtomicLong(0)

  private def readThroughCache(path: Path, useCache: Boolean): String = {
    if (!useCache) return Files.readString(path)
    val key = path.toRealPath().toString
    val mtime = Files.getLastModifiedTime(path).toMillis
    val hit = Option(fileCache.get(key)).filter(_.mtimeMs == mtime)
    hit match {
      case Some(e) =>
        cacheHits.incrementAndGet()
        e.content
      case None =>
        cacheMisses.incrementAndGet()
        val content = Files.readString(path)
        fileCache.put(key, CacheEntry(content, mtime))
        content
    }
  }

  // --------------------------------------------------------------

  /** Substitutions are filename-encoded except the literal-path args
    * (REPORT_IMAGE `path` — `jsonfiledb.py:51-59`). */
  private def encodeSubs(route: Route, subs: Map[String, String]): Map[String, String] =
    subs.map { case (k, v) =>
      if (route == Route.ReportImage && k == "path") k -> v
      else k -> ArgCodec.encodeFname(v)
    }

  /** The asset's file and whether it exists: the filename-encoded
    * path, else the legacy unencoded one (`jsonfiledb.py:319-322`);
    * the encoded path when neither exists. Overlay paths are
    * extension-less stems, so overlays probe the known image
    * extensions first (`jsonfiledb.py:855-876`). */
  private def resolvePath(route: Route, subs: Map[String, String]): (Path, Boolean) = {
    val template = mapper.lookup(route, subs)
    val encoded = basedir.resolve(TemplateCodec.format(template, encodeSubs(route, subs)).stripPrefix("./"))
    lazy val unencoded = basedir.resolve(TemplateCodec.format(template, subs).stripPrefix("./"))
    val overlay =
      if (route != Route.MapOverlay) None
      else JsonFileStore.ImgExts.iterator
        .map(e => encoded.resolveSibling(encoded.getFileName.toString + e)).find(Files.exists(_))
    overlay.map(_ -> true).getOrElse {
      if (Files.exists(encoded)) (encoded, true)
      else if (Files.exists(unencoded)) (unencoded, true)
      else (encoded, false)
    }
  }

  protected def _get(route: Route, routeArgs: Map[String, String],
                     kwargs: Map[String, String],
                     accessType: AccessType,
                     default: Option[AssetValue],
                     cache: Boolean): AssetValue = {
    val filterArgs = kwargs.filter { case (k, _) =>
      AssetStore.filterParams.getOrElse(route, Set.empty).contains(k) }
    val (path, found) = resolvePath(route, routeArgs ++ kwargs)
    if (!found) {
      if (accessType == AccessType.FilePath)
        throw new FileNotFoundException(s"File $path does not exist.")
      return default.getOrElse(throw new FileNotFoundException(s"File $path does not exist."))
    }

    accessType match {
      case AccessType.FilePath => AssetValue.Path(path.toString)
      case AccessType.Uri =>
        AssetValue.Uri(QueryEntry.of(route, routeArgs ++ (kwargs -- filterArgs.keys)).uri)
      case AccessType.Mtime =>
        AssetValue.Time(Files.getLastModifiedTime(path).toInstant)
      case AccessType.Ctime =>
        val attrs = Files.readAttributes(path, classOf[java.nio.file.attribute.BasicFileAttributes])
        AssetValue.Time(attrs.creationTime().toInstant)
      case AccessType.Blob =>
        AssetValue.Blob(Files.readAllBytes(path))
      case _ =>
        if (filterArgs.isEmpty) {
          val content = readThroughCache(path, cache)
          accessType match {
            case AccessType.JsonStr => AssetValue.Json(content)
            case AccessType.Obj     => AssetValue.Obj(JsonUtil.parse(content))
            case other => throw new UnsupportedOperation(s"access type $other")
          }
        } else {
          // sub-key cache: "{path}::{sorted filter values}" (`jsonfiledb.py:367-368`)
          val subKey = path.toString + "::" + filterArgs.toSeq.sortBy(_._1).map(_._2).mkString(",")
          val mtime = Files.getLastModifiedTime(path).toMillis
          val cached = if (cache) Option(subKeyCache.get(subKey)).filter(_.mtimeMs == mtime) else None
          val filteredJson = cached.map(_.content).getOrElse {
            val node = JsonUtil.parse(readThroughCache(path, cache))
            val out = JsonUtil.serialize(AssetStore.applyFilter(route, node, filterArgs))
            if (cache) subKeyCache.put(subKey, CacheEntry(out, mtime))
            out
          }
          accessType match {
            case AccessType.JsonStr => AssetValue.Json(filteredJson)
            case AccessType.Obj     => AssetValue.Obj(JsonUtil.parse(filteredJson))
            case other => throw new UnsupportedOperation(s"access type $other")
          }
        }
    }
  }

  protected def _put(json: String, route: Route, routeArgs: Map[String, String],
                     kwargs: Map[String, String]): Unit = {
    val subs = routeArgs ++ kwargs
    val template = mapper.lookup(route, subs)
    val path = basedir.resolve(TemplateCodec.format(template, encodeSubs(route, subs)).stripPrefix("./"))
    Files.createDirectories(path.getParent)
    val tmp = Files.createTempFile(path.getParent, ".tmp", ".json")
    Files.writeString(tmp, json)
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  protected def _putBlob(obj: Array[Byte], route: Route, routeArgs: Map[String, String]): Unit = {
    val template = mapper.lookup(route, routeArgs)
    val rel = TemplateCodec.format(template, encodeSubs(route, routeArgs)).stripPrefix("./")
    val path = route match {
      case Route.ReportImage => basedir.resolve(rel)
      case Route.MapOverlay =>
        // append extension from magic-byte sniffing (`jsonfiledb.py:927-932`)
        val ext = JsonFileStore.sniffImageExt(obj).getOrElse(
          throw new IllegalArgumentException(
            s"Could not guess image file extension of provided image data starting with " +
              s"'0x${obj.take(20).map("%02x".format(_)).mkString}'."))
        basedir.resolve(rel + "." + ext)
      case other => throw new UnsupportedOperation(s"Blob put on route $other")
    }
    Files.createDirectories(path.getParent)
    Files.write(path, obj)
  }

  // --------------------------------------------------------------
  // contour per-timestep cache priming (`jsonfiledb.py:988-993`):
  // a cached single-doc read splits the document into one sub-key
  // entry per timestep, so later timestep reads skip file + filter.
  // --------------------------------------------------------------

  /** Counter exposed for tests: primed-entry hits. */
  val contourPrimeHits = new java.util.concurrent.atomic.AtomicLong(0)

  override protected def primeContourCache(routeArgs: Map[String, String],
                                           node: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val (path, found) = resolvePath(Route.Contour, routeArgs)
    if (found) {
      val mtime = Files.getLastModifiedTime(path).toMillis
      node.properties().forEach { e =>
        subKeyCache.put(s"$path::${e.getKey}",
          CacheEntry(JsonUtil.serialize(e.getValue), mtime))
      }
    }
  }

  override protected def contourCacheGet(routeArgs: Map[String, String],
                                         timestep: String): Option[String] = {
    val (path, found) = resolvePath(Route.Contour, routeArgs)
    if (!found) None
    else {
      val mtime = Files.getLastModifiedTime(path).toMillis
      val hit = Option(subKeyCache.get(s"$path::$timestep")).filter(_.mtimeMs == mtime)
      hit.foreach(_ => contourPrimeHits.incrementAndGet())
      hit.map(_.content)
    }
  }

  // --------------------------------------------------------------
  // catalog
  // --------------------------------------------------------------

  /** Reverse-parse one file into a QueryEntry
    * (`jsonfiledb.py:492-597`), memoized. */
  private val entryCache = new java.util.concurrent.ConcurrentHashMap[String, Option[QueryEntry]]()
  def queryEntryForFile(file: Path): Option[QueryEntry] =
    entryCache.computeIfAbsent(file.toString, { _ =>
      val relRaw = basedir.relativize(file.toAbsolutePath).toString.replace('\\', '/')
      val ext = {
        val i = relRaw.lastIndexOf('.')
        if (i >= 0) relRaw.substring(i) else ""
      }
      // overlay files: strip the extension before template matching
      val rel = if (relRaw.contains("/overlay/")) relRaw.stripSuffix(ext) else relRaw

      if (rel.startsWith("reports/") && JsonFileStore.ImgExts.contains(ext.toLowerCase)) {
        val split = rel.split("/")
        Some(QueryEntry.of(Route.ReportImage, Map(
          "project" -> ArgCodec.decodeFname(split(1)),
          "experiment" -> ArgCodec.decodeFname(split(2)),
          "path" -> split.drop(3).mkString("/"))))
      } else {
        pathLookup.view.flatMap { case (route, _) =>
          val subsOpt =
            if (route != Route.ModelsStyle) {
              val parts = (if (rel.startsWith("reports/")) rel.split("/").drop(1) else rel.split("/")).take(2)
              if (parts.length < 2) None
              else Some(Map("project" -> ArgCodec.decodeFname(parts(0)),
                            "experiment" -> ArgCodec.decodeFname(parts(1))))
            } else {
              try Some(TemplateCodec.parseFormattedString("{project}/{experiment}/models-style.json", rel)
                .map { case (k, v) => k -> ArgCodec.decodeFname(v) })
              catch {
                case _: TemplateCodec.TemplateMismatch =>
                  try Some(TemplateCodec.parseFormattedString("{project}/models-style.json", rel)
                    .map { case (k, v) => k -> ArgCodec.decodeFname(v) })
                  catch { case _: TemplateCodec.TemplateMismatch => None }
              }
            }
          subsOpt.flatMap { subs =>
            val version =
              if (subs.contains("experiment")) getVersion(subs("project"), subs("experiment"))
              else fallbackVersion
            try {
              val template = mapper.lookup(route, subs)
              val allArgs = TemplateCodec.parseFormattedString(template, "./" + rel)
              val routeArgNames = route.argNames.toSet
              val rawArgs = allArgs.view.filterKeys(routeArgNames.contains).toMap
              val rawKwargs = allArgs.view.filterKeys(!routeArgNames.contains(_)).toMap
              val (ppArgs, ppKwargs) = LegacyArgs.postProcessArgs(route, rawArgs, rawKwargs, version)
              val args = ppArgs.map { case (k, v) => k -> ArgCodec.decodeFname(v) }
              val kw = ppKwargs.map { case (k, v) => k -> ArgCodec.decodeFname(v) }
              val uri = UriCodec.build(route, args, kw + ("version" -> version.toString))
              Some(QueryEntry(uri, route, args ++ kw))
            } catch { case scala.util.control.NonFatal(_) => None }
          }
        }.headOption
      }
    })

  def query(assetTypes: Seq[Route] = Route.all,
            kwargs: Map[String, String] = Map.empty): Seq[QueryEntry] = {
    val routeSet = assetTypes.toSet
    // directory pruning when project/experiment are constrained
    // (`jsonfiledb.py:727-749`) — the file-listing analogue of
    // partition pruning
    val root = (kwargs.get("project"), kwargs.get("experiment")) match {
      case (Some(p), Some(e)) =>
        basedir.resolve(ArgCodec.encodeFname(p)).resolve(ArgCodec.encodeFname(e))
      case (Some(p), None) => basedir.resolve(ArgCodec.encodeFname(p))
      case _ => basedir
    }
    if (!Files.exists(root)) return Seq.empty
    val files = Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    files.flatMap(queryEntryForFile)
      .filter(e => routeSet.contains(e.route))
      .filter(e => kwargs.forall { case (k, v) => e.meta.get(k).contains(v) })
  }

  def rmByUri(uri: String): Unit = {
    getByUri(uri, AccessType.FilePath) match {
      case AssetValue.Path(p) =>
        Files.deleteIfExists(Paths.get(p))
        entryCache.remove(p)
      case other => throw new IllegalStateException(s"Unexpected $other")
    }
  }

  /** Deletes the experiment's directory: the filename-encoded one
    * `_put` writes, and the raw-named one where a legacy tree has it
    * (the forms `getVersion` probes). A raw name that is not one
    * directory level (`a/b`, `..`) is never deleted. `reports/`
    * survives (`jsonfiledb.py:415-428`). */
  def rmExperimentData(project: String, experiment: String): Unit = {
    val dirs = Seq(
      basedir.resolve(ArgCodec.encodeFname(project)).resolve(ArgCodec.encodeFname(experiment)),
      basedir.resolve(project).resolve(experiment))
      .distinct.filter(d => d.getParent.getParent == basedir && Files.exists(d))
    dirs.foreach(d => Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)))
    if (dirs.nonEmpty) {
      entryCache.clear()
      versionCache.remove((project, experiment))
    }
  }

  def lock(): AdvisoryLock = Locking.forBasedir(basedir.toString)
}

object JsonFileStore {
  /** LRU payload + mtime stamp (top-level so the pattern-match type
    * test carries no outer-instance reference). */
  private[store] final case class CacheEntry(content: String, mtimeMs: Long)

  /** Supported image extensions (`/root/reference/src/aerovaldb/
    * const.py:1-3`), probed in sorted order. */
  val ImgExts: Seq[String] =
    Seq(".apng", ".avif", ".gif", ".jpeg", ".jpg", ".png", ".svg", ".webp")

  /** Magic-byte image sniffing (the reference uses the `filetype`
    * package; same observable extensions). */
  def sniffImageExt(b: Array[Byte]): Option[String] = {
    def startsWith(prefix: Array[Int], at: Int = 0): Boolean =
      b.length >= at + prefix.length &&
        prefix.indices.forall(i => (b(at + i) & 0xFF) == prefix(i))
    if (startsWith(Array(0x89, 0x50, 0x4E, 0x47))) Some("png")
    else if (startsWith(Array(0xFF, 0xD8, 0xFF))) Some("jpg")
    else if (startsWith(Array('G', 'I', 'F', '8'))) Some("gif")
    else if (startsWith(Array('R', 'I', 'F', 'F')) && startsWith(Array('W', 'E', 'B', 'P'), 8)) Some("webp")
    else if (startsWith(Array('f', 't', 'y', 'p'), 4) &&
             b.length >= 12 && new String(b, 8, 4, "ASCII") == "avif") Some("avif")
    else if (b.length >= 5 && (new String(b.take(5), "ASCII") == "<?xml" ||
             new String(b.take(4), "ASCII") == "<svg")) Some("svg")
    else None
  }
}
