package perfbench

import java.util.SplittableRandom

import graft.codec.UriCodec
import graft.core.{AssetValue, Route}
import graft.store.AssetStore

/** One generated asset: its key, its payload, and how to put it. */
final case class Asset(route: Route, args: Map[String, String], kwargs: Map[String, String],
                       json: String, blob: Array[Byte]) {
  def isBlob: Boolean = blob != null
  def bytes: Long = if (isBlob) blob.length.toLong else json.getBytes("UTF-8").length.toLong
  def uri: String = UriCodec.build(route, args, kwargs)
  def project: String = args("project")
  def experiment: Option[String] = args.get("experiment")
  def put(s: AssetStore): Unit =
    if (isBlob) s.putBlobByUri(uri, blob) else s.putByUri(uri, json)
}

/** A read the serve stream replays: the call, and what it must return
  * (`expect` for unfiltered reads and misses; filtered reads are
  * compared between the two backends). */
final case class Request(kind: String, uri: String, call: AssetStore => AssetValue,
                         expect: Option[Either[String, Array[Byte]]], filtered: Boolean,
                         filterInput: Option[(Asset, Map[String, String])] = None,
                         sizeClass: Int = 0) {
  def stratum: String = s"$kind/$sizeClass"
}

/** Seeded aeroval-shaped payloads. Numbers and station/region names
  * give the payloads realistic entropy: padded text would compress
  * ~18x in parquet and flatter the table store's space metric. */
final class AssetGen(seed: Long) {
  private val r = new SplittableRandom(seed)
  private def num(): String = ((r.nextInt(2500000) - 500000) / 10000.0).toString
  private def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))

  val regions = Seq("ALL", "EUROPE", "ASIA", "AFRICA", "NAMERICA", "SAMERICA", "OCEANIA", "NAFRICA")
  val seasons = Seq("DJF", "MAM", "JJA", "SON", "all")
  val freqs = Seq("monthly", "yearly", "daily")
  val networks = Seq("AERONETSun", "EBASMC", "AirNow", "GAWTAD", "EEAEN")
  val obsvars = Seq("od550aer", "concpm10", "concpm25", "vmro3", "ang4487aer", "concno2")
  val models = Seq("EMEP", "ECMWFIFS", "CAMSMEDIAN", "MONARCH", "SILAM")
  val stations = (0 until 400).map(i => f"Station${i}%03d")

  private def statsObj(n: Int): String =
    Seq("nmb", "mnmb", "R", "rms", "fge", "nrms", "data_mean", "refdata_mean", "num_valid")
      .take(n).map(k => s""""$k": ${num()}""").mkString("{", ", ", "}")

  /** ~`kb` KB of nested name→number objects. */
  def doc(kb: Int): String = {
    val sb = new StringBuilder("{")
    var i = 0
    while (sb.length < kb * 1024) {
      if (i > 0) sb ++= ", "
      sb ++= s""""${pick(stations)}_$i": ${statsObj(9)}"""
      i += 1
    }
    sb += '}'
    sb.toString
  }

  def series(kb: Int): String = {
    val n = kb * 1024 / 40
    val dates = (0 until n).map(i => 1262304000000L + i * 86400000L).mkString("[", ", ", "]")
    def vals = (0 until n).map(_ => num()).mkString("[", ", ", "]")
    s"""{"date": $dates, "obs": $vals, "mod": $vals, "station_name": "${pick(stations)}"}"""
  }

  /** MAP payload: per-station entries with frequency → season stats,
    * the shape `filterMap(frequency, season)` projects. */
  def mapDoc(kb: Int): String = {
    val sb = new StringBuilder("[")
    var i = 0
    while (sb.length < kb * 1024) {
      if (i > 0) sb ++= ", "
      val f = freqs.map(fr => s""""$fr": ${seasons.map(se => s""""$se": ${statsObj(4)}""").mkString("{", ", ", "}")}""")
      sb ++= s"""{"station_name": "${stations(i % stations.size)}", "latitude": ${num()}, "longitude": ${num()}, "altitude": ${num()}, "region": "${pick(regions)}", ${f.mkString(", ")}}"""
      i += 1
    }
    sb += ']'
    sb.toString
  }

  /** glob_stats: var → network → layer → model → modvar → region →
    * time → stats, the shape both heatmap and regional-stats filters
    * walk. */
  def globStats(vars: Int, nets: Int, mods: Int, times: Seq[String]): String = {
    def obj(keys: Seq[String])(v: String => String) = keys.map(k => s""""$k": ${v(k)}""").mkString("{", ", ", "}")
    obj(obsvars.take(vars))(_ => obj(networks.take(nets))(_ => obj(Seq("Surface", "Column"))(_ =>
      obj(models.take(mods))(m => obj(Seq(m.toLowerCase + "var"))(_ =>
        obj(regions)(_ => obj(times)(_ => statsObj(9))))))))
  }

  def contour(timesteps: Seq[String], kbEach: Int): String =
    timesteps.map(t => s""""$t": {"type": "FeatureCollection", "features": ${
      (0 until kbEach * 1024 / 120).map(_ =>
        s"""{"type": "Feature", "geometry": {"type": "Point", "coordinates": [${num()}, ${num()}]}, "properties": {"value": ${num()}}}"""
      ).mkString("[", ", ", "]")}}""").mkString("{", ", ", "}")

  def png(kb: Int): Array[Byte] = {
    val b = new Array[Byte](kb * 1024)
    r.nextBytes(b)
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).zipWithIndex.foreach { case (v, i) => b(i) = v.toByte }
    b
  }

  def config(project: String, experiment: String, version: String): String =
    s"""{"exp_info": {"pyaerocom_version": "$version", "exp_id": "$experiment", "proj_id": "$project", "public": true, "exp_name": "${experiment.toUpperCase}"}, "model_cfg": ${models.map(m => s""""$m": {"model_id": "$m", "model_ts_type_read": "daily"}""").mkString("{", ", ", "}")}, "obs_cfg": ${networks.map(n => s""""$n": {"obs_id": "$n", "obs_vars": ["${obsvars.head}"]}""").mkString("{", ", ", "}")}}"""

  def rng: SplittableRandom = r
}

/** Experiment names in real pyaerocom style: some carry `_`. */
object ExperimentNames {
  private val stems = Seq("ap", "cams", "emep", "ctrl", "hindcast", "nrt", "reanalysis", "test")
  def pick(r: java.util.SplittableRandom, n: Int): Seq[String] =
    Iterator.continually {
      val s = stems(r.nextInt(stems.size))
      val y = 2015 + r.nextInt(10)
      r.nextInt(3) match {
        case 0 => s"${s}_$y"
        case 1 => s"$s-$y-v${r.nextInt(9)}"
        case _ => s"$s$y"
      }
    }.distinct.take(n).toSeq
}

/** What pyaerocom writes for one experiment in bulk: config, menu,
  * glob_stats, many time series, maps, and report figures (blobs, kept
  * under the store's `reports/` tree). Six tables on TableStore. */
object PublishedExperiment {
  def assets(g: AssetGen, project: String, experiment: String): Seq[Asset] = {
    val pe = Map("project" -> project, "experiment" -> experiment)
    val b = Seq.newBuilder[Asset]
    def j(route: Route, args: Map[String, String], json: String, kw: Map[String, String] = Map.empty) =
      b += Asset(route, pe ++ args, kw, json, null)
    j(Route.Config, Map.empty, g.config(project, experiment, "0.30.0"))
    j(Route.Menu, Map.empty, g.doc(2))
    val times = Seq("2020-all", "2020-DJF", "2020-JJA")
    for (f <- Seq("monthly", "yearly")) j(Route.GlobStats, Map("frequency" -> f), g.globStats(2, 2, 2, times))
    for (i <- 0 until 150)
      j(Route.Timeseries, Map("location" -> g.stations(i), "network" -> g.networks(i % g.networks.size),
        "obsvar" -> g.obsvars(i % g.obsvars.size), "layer" -> "Surface"), g.series(3))
    for (i <- 0 until 40) {
      val o = g.obsvars(i / g.networks.size % g.obsvars.size)
      j(Route.MapRoute, Map("network" -> g.networks(i % g.networks.size), "obsvar" -> o, "layer" -> "Surface",
        "model" -> g.models(i / 30), "modvar" -> o), g.mapDoc(20), Map("time" -> "2020"))
    }
    for (i <- 0 until 4)
      b += Asset(Route.ReportImage, pe + ("path" -> s"figs/fig$i.png"), Map.empty, null, g.png(20))
    b.result()
  }
}

/** One experiment of the serve store: every route, ~60 assets, with
  * 1-5 MB glob_stats and contour documents when `big`. Config comes
  * first: the JSON store resolves layout generations from it, so it
  * must exist before other puts. */
object Experiment {
  def assets(g: AssetGen, project: String, experiment: String, version: String,
             big: Boolean): Seq[Asset] = {
    val pe = Map("project" -> project, "experiment" -> experiment)
    val b = Seq.newBuilder[Asset]
    def j(route: Route, args: Map[String, String], json: String, kw: Map[String, String] = Map.empty) =
      b += Asset(route, pe ++ args, kw, json, null)
    j(Route.Config, Map.empty, g.config(project, experiment, version))
    j(Route.Menu, Map.empty, g.doc(1))
    j(Route.Ranges, Map.empty, g.doc(1))
    j(Route.Regions, Map.empty, g.doc(1))
    j(Route.Statistics, Map.empty, g.doc(1))
    val years = Seq("2010", "2015", "2020")
    val times = Seq("2010-all", "2015-all", "2020-all", "2020-DJF", "2020-JJA")
    // a few 1–5 MB documents: glob_stats for big experiments
    j(Route.GlobStats, Map("frequency" -> "monthly"),
      if (big) g.globStats(6, 5, 5, times) else g.globStats(2, 2, 2, times))
    j(Route.GlobStats, Map("frequency" -> "yearly"), g.globStats(2, 2, 2, times))
    for (i <- 0 until 20) {
      val loc = g.stations(i * 7 % g.stations.size)
      val n = g.networks(i % g.networks.size)
      val o = g.obsvars(i % g.obsvars.size)
      j(Route.Timeseries, Map("location" -> loc, "network" -> n, "obsvar" -> o, "layer" -> "Surface"), g.series(10))
      if (i % 3 == 0)
        j(Route.TimeseriesWeekly, Map("location" -> loc, "network" -> n, "obsvar" -> o, "layer" -> "Surface"), g.series(3))
      if (i % 3 == 1)
        j(Route.Profiles, Map("location" -> loc, "network" -> n, "obsvar" -> o), g.doc(10))
    }
    for (i <- 0 until 8) {
      val n = g.networks(i % g.networks.size)
      val o = g.obsvars(i % g.obsvars.size)
      val m = g.models(i % g.models.size)
      val t = years(i % years.size)
      val key = Map("network" -> n, "obsvar" -> o, "layer" -> "Surface", "model" -> m, "modvar" -> o)
      // pre-0.13.2 layouts carry no time component: one map per key
      val legacy = graft.codec.Pep440Version.parse(version) <
        graft.codec.Pep440Version.parse("0.13.2")
      if (!legacy || i < g.networks.size) {
        j(Route.MapRoute, key, g.mapDoc(100), Map("time" -> t))
        if (i % 2 == 0) j(Route.Scatter, key, g.doc(100), Map("time" -> t))
      }
    }
    if (big) j(Route.Contour, Map("obsvar" -> "od550aer", "model" -> "EMEP"),
      g.contour(Seq("2020-01", "2020-02", "2020-03", "2020-04", "2020-05", "2020-06"), 300))
    j(Route.Contour, Map("obsvar" -> "concpm10", "model" -> "SILAM"),
      g.contour(Seq("2020-01", "2020-02", "2020-03"), 10))
    j(Route.HeatmapTimeseries, Map.empty, g.doc(10),
      Map("region" -> "EUROPE", "network" -> "AERONETSun", "obsvar" -> "od550aer", "layer" -> "Column"))
    j(Route.Forecast, Map("region" -> "EUROPE", "network" -> "EEAEN", "obsvar" -> "concno2", "layer" -> "Surface"), g.doc(10))
    j(Route.Fairmode, Map("region" -> "EUROPE", "network" -> "EEAEN", "obsvar" -> "concpm10",
      "layer" -> "Surface", "model" -> "EMEP", "time" -> "2020"), g.doc(10))
    j(Route.GriddedMap, Map("obsvar" -> "od550aer", "model" -> "ECMWFIFS"), g.doc(10))
    j(Route.Report, Map("title" -> "summary"), g.doc(10))
    b += Asset(Route.ReportImage, pe + ("path" -> "figs/bias_map.png"), Map.empty, null, g.png(20))
    for (d <- Seq("20200101", "20200102"))
      b += Asset(Route.MapOverlay, pe ++ Map("source" -> "EMEP", "variable" -> "od550aer", "date" -> d),
        Map.empty, null, g.png(30))
    b.result()
  }
}
