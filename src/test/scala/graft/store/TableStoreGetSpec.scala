package graft.store

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.codec.UriCodec
import graft.core.{AccessType, AssetValue, QueryEntry, Route}

/** Differential check of TableStore's driver-side point get: a seeded
  * sequence of puts, same-millisecond overwrites, rm tombstones,
  * experiment deletes, markers and (retention) compactions runs on one
  * store, and at every checkpoint each `_get` (through the typed
  * getters) and each `getByUriAsOf` answer is compared with a
  * reference resolve over `liveFrameAsOf` — the key predicate and
  * winner order of the DataFrame point get, run on a DataFrame. Keys
  * cover NULL generation keys beside set ones (map, scatter,
  * heatmap_ts), project-level models_style docs beside experiment-level
  * ones, project/experiment names that need Hive path escaping, an
  * empty-string experiment and partitions that do not exist. A put
  * whose route template takes the empty experiment is refused; only
  * models_style, whose template has no experiment, stores one. */
class TableStoreGetSpec extends AnyFunSuite {
  import TableStoreGetSpec._
  private lazy val spark = SparkTestSession.spark

  private val Miss = AssetValue.Json("\"<miss>\"")

  /** The reference resolve: newest live row per key as of `asOf`, then
    * the generation-aware key predicate and the winner order, on a
    * DataFrame (the live rows are collected into a local relation once
    * per table and marker, not re-scanned per key). */
  private def reference(live: DataFrame, t: TableStore.Table,
                        keyVals: Map[String, String]): Option[Row] = {
    val keys = t.keys
    val wc = t.generationKeys
    val provided = keyVals.view.filterKeys(keys.contains).toMap
    val surplus = keys.filterNot(provided.contains)
    val pred = provided.map { case (k, v) =>
      if (wc.contains(k)) col(k) === v || col(k).isNull else col(k) === v
    }.reduceOption(_ && _).getOrElse(lit(true))
    val orderCols = Seq.newBuilder[org.apache.spark.sql.Column]
    val providedWc = provided.keys.filter(wc.contains).toSeq.sorted
    if (providedWc.nonEmpty)
      orderCols += providedWc.map(k => when(col(k).isNull, 1).otherwise(0)).reduce(_ + _).asc
    if (surplus.nonEmpty)
      orderCols += surplus.map(k => when(col(k).isNull, 0).otherwise(1)).reduce(_ + _).asc
    orderCols += col("put_time").desc
    orderCols += col("seq").desc
    live.filter(pred).orderBy(orderCols.result(): _*).limit(1).collect().headOption
  }

  private def expected(r: Option[Row], blob: Boolean): Option[AssetValue] =
    r.map(row => if (blob) AssetValue.Blob(row.getAs[Array[Byte]]("blob"))
                 else AssetValue.Json(row.getAs[String]("json")))

  /** Blob values compare by content. */
  private def same(a: Option[AssetValue], b: Option[AssetValue]): Boolean = (a, b) match {
    case (Some(AssetValue.Blob(x)), Some(AssetValue.Blob(y))) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  // partitions: names that Hive path escaping changes, a non-ASCII
  // name (the test JVM runs under a UTF-8 locale, see build.sbt), and
  // an empty-string experiment (which Spark stores as NULL)
  private val pes = Seq("p" -> "e1", "a=b" -> "x%y", "sp ace" -> "c:d", "p" -> "", "p" -> "ünï")
  private val Times = Seq("t1", "t2")
  private val Regions = Seq("R1", "R2")

  private def mapArgs(p: String, e: String) =
    Map("project" -> p, "experiment" -> e, "network" -> "n", "obsvar" -> "o",
      "layer" -> "l", "model" -> "m", "modvar" -> "mv")
  private def hmArgs(p: String, e: String, region: String) =
    Map("project" -> p, "experiment" -> e, "region" -> region, "network" -> "N",
      "obsvar" -> "O", "layer" -> "L")

  private def getsFor(p: String, e: String): Seq[Get] = {
    def json(f: (TableStore, AccessType, Option[AssetValue]) => AssetValue) =
      (db: TableStore, a: AccessType) => f(db, a, Some(Miss))
    val image = Map("project" -> p, "experiment" -> e, "path" -> "img.png")
    Seq(Get("menu", Map("project" -> p, "experiment" -> e),
          json((db, a, d) => db.getMenu(p, e, a, d)))) ++
      Option.when(e.nonEmpty)(Get("report_image", image, (db, a) =>
        try {
          if (a == AccessType.Blob) AssetValue.Blob(db.getReportImage(p, e, "img.png"))
          else db.getByUri(QueryEntry.of(Route.ReportImage, image).uri, a)
        } catch { case _: java.io.FileNotFoundException => Miss })) ++
      Seq(Get("models_style", Map("project" -> p, "experiment" -> e),
          json((db, a, d) => db.getModelsStyle(p, Some(e), a, d))),
        Get("models_style", Map("project" -> p),
          json((db, a, d) => db.getModelsStyle(p, None, a, d)))) ++
      (Times :+ "t3").flatMap { time => Seq(
        Get("map", mapArgs(p, e) + ("time" -> time),
          json((db, a, d) => db.getMap(p, e, "n", "o", "l", "m", "mv", time, accessType = a, default = d))),
        Get("scatter", mapArgs(p, e) + ("time" -> time),
          json((db, a, d) => db.getScatter(p, e, "n", "o", "l", "m", "mv", time, a, d)))) } ++
      Regions.map { region =>
        Get("heatmap_ts", hmArgs(p, e, region),
          json((db, a, d) => db.getHeatmapTimeseries(p, e, region, "N", "O", "L", a, d)))
      }
  }

  private val gets: Seq[Get] = pes.flatMap { case (p, e) => getsFor(p, e) } ++
    getsFor("p", "never") ++ getsFor("nobody", "e1")

  // what the checks saw, so the sequence is known to reach each case
  private var hits, misses, nullKeyWins, markerReads = 0

  /** Every get's answer against the reference, now and at each marker. */
  private def checkAll(db: TableStore, markers: Seq[Long], step: Int): Unit = {
    val now = db.snapshotSeq()
    val live = scala.collection.mutable.Map.empty[(String, Long), Option[DataFrame]]
    def liveAt(t: String, asOf: Long) = live.getOrElseUpdate((t, asOf),
      db.liveFrameAsOf(t, asOf).map(df => spark.createDataFrame(df.collect().toList.asJava, df.schema)))
    for (g <- gets) {
      val ref = liveAt(g.table, now).flatMap(reference(_, g.t, g.keyVals))
      val access = if (g.blob) AccessType.Blob else AccessType.JsonStr
      val got = Some(g.call(db, access)).filter(_ != Miss)
      if (ref.isEmpty) misses += 1 else hits += 1
      if (ref.exists(r => g.t.generationKeys.exists(k => g.keyVals.contains(k) && r.isNullAt(r.fieldIndex(k)))))
        nullKeyWins += 1
      assert(same(got, expected(ref, g.blob)),
        s"step $step: ${g.table} ${g.keyVals}: got $got, reference ${expected(ref, g.blob)}")
      val mtime = g.call(db, AccessType.Mtime)
      assert(ref.map(r => AssetValue.Time(java.time.Instant.ofEpochMilli(r.getAs[Long]("put_time"))))
          .getOrElse(Miss) == mtime, s"step $step: ${g.table} ${g.keyVals}: mtime $mtime")
      for (m <- markers; uri <- g.uri) {
        val atRef = liveAt(g.table, m).flatMap(reference(_, g.t, g.keyVals))
        val at = db.getByUriAsOf(uri, m)
        markerReads += 1
        assert(same(at, expected(atRef, g.blob)),
          s"step $step: ${g.table} $uri at marker $m: got $at, reference ${expected(atRef, g.blob)}")
      }
    }
  }

  test("driver-side point gets match the DataFrame resolve over a seeded op sequence") {
    val db = new TableStore(spark, graft.core.TempDirs.create("graft-get-spec").toString)
    val rng = new scala.util.Random(20261019L)
    var n = 0
    def doc() = { n += 1; s"""{"v": $n}""" }
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    val markers = scala.collection.mutable.ArrayBuffer.empty[Long]
    val uriPes = pes.filter(_._2.nonEmpty)

    /** A put keyed by experiment `e`: refused when `e` is empty. */
    def keyed(e: String)(put: => Unit): Unit =
      if (e.isEmpty) intercept[IllegalArgumentException](put) else put

    /** One random put; NULL generation keys go through URIs that leave
      * the key out, as an older layout generation writes them. */
    def put(): Unit = {
      val (p, e) = pick(pes)
      rng.nextInt(7) match {
        case 0 => keyed(e)(db.putMenu(doc(), p, e))
        case 1 => keyed(e)(db.putReportImage(doc().getBytes("UTF-8"), p, e, "img.png"))
        case 2 => db.putModelsStyle(doc(), p, if (rng.nextBoolean()) Some(e) else None)
        case k =>
          val (q, x) = pick(uriPes)
          (k, rng.nextInt(3)) match {
            case (3, 2) => db.putByUri(UriCodec.build(Route.MapRoute, mapArgs(q, x)), doc())
            case (3, i) => db.putMap(doc(), q, x, "n", "o", "l", "m", "mv", Times(i))
            case (4, 2) => db.putByUri(UriCodec.build(Route.Scatter, mapArgs(q, x)), doc())
            case (4, i) => db.putScatter(doc(), q, x, "n", "o", "l", "m", "mv", Times(i))
            case (_, i) =>
              // all four generation keys, none, or the region alone
              val kw = i match {
                case 0 => hmArgs(q, x, pick(Regions)) -- Seq("project", "experiment")
                case 1 => Map.empty[String, String]
                case _ => Map("region" -> pick(Regions))
              }
              db.putByUri(UriCodec.build(Route.HeatmapTimeseries,
                Map("project" -> q, "experiment" -> x), kw), doc())
          }
      }
    }

    def rm(): Unit = {
      val g = pick(gets.filter(_.uri.isDefined))
      val uri = g.uri.get
      // a URI without the generation keys tombstones the NULL-key row
      db.rmByUri(if (rng.nextBoolean()) uri.takeWhile(_ != '?') else uri)
    }

    for (step <- 1 to 150) {
      rng.nextInt(20) match {
        case 0 | 1 => rm()
        case 2 => markers += db.snapshotSeq()
        case 3 =>
          // same-millisecond overwrites: two puts of one key back to back
          val (p, e) = pick(pes)
          keyed(e)(db.putMenu(doc(), p, e)); keyed(e)(db.putMenu(doc(), p, e))
          db.putMap(doc(), "p", "e1", "n", "o", "l", "m", "mv", "t1")
          db.putMap(doc(), "p", "e1", "n", "o", "l", "m", "mv", "t1")
        case 4 if step % 3 == 0 =>
          val (p, e) = pick(pes)
          db.rmExperimentData(p, e)
        case 5 if step % 4 == 0 =>
          if (markers.nonEmpty && rng.nextBoolean()) db.compactRetain(pick(Seq("map", "heatmap_ts")), pick(markers.toSeq))
          else db.compact(pick(Seq("menu", "models_style", "scatter")))
        case _ => put()
      }
      if (step % 30 == 0) checkAll(db, markers.takeRight(3).toSeq, step)
    }
    db.close()
    assert(hits > 0 && misses > 0 && nullKeyWins > 0 && markerReads > 0,
      s"the sequence missed a case: $hits hits, $misses misses, " +
        s"$nullKeyWins NULL generation-key winners, $markerReads marker reads")
  }
}

object TableStoreGetSpec {
  /** A get: the table, the key values the get provides, and the typed
    * getter that serves it. */
  private final case class Get(table: String, keyVals: Map[String, String],
                               call: (TableStore, AccessType) => AssetValue) {
    val t: TableStore.Table = TableStore.table(table)
    def blob: Boolean = Route.blobRoutes.contains(t.route)
    /** The URI `getByUriAsOf` reads, when the route's template can carry
      * the key (an empty path component cannot). */
    def uri: Option[String] = {
      val (args, kw) = keyVals.partition { case (k, _) => t.route.argNames.contains(k) }
      if (args.values.exists(_.isEmpty)) None
      else Some(UriCodec.build(t.route, args, kw))
    }
  }
}
