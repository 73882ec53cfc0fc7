package graft.store

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{AccessType, AssetValue, ParquetRows, QueryEntry}

/** Differential check of the driver-side writer
  * ([[graft.core.ParquetRows.write]]): one seeded log of full table
  * rows (puts, same-millisecond overwrites, rm tombstones, NULL
  * generation keys) goes once through Spark's partitioned write and
  * once through the driver writer, and the two stores must read back
  * the same through every reader: `liveFrame`, typed gets, gets after
  * `compact`, `contentHashFrame`, the footer `seq` maximum the store
  * seeds its sequence from, and `query`/`queryAsOf` against a Spark
  * `liveFrameAsOf` listing at three markers. Partition names are
  * TableStoreGetSpec's: names that Spark's path escaping changes, a
  * non-ASCII name, and (for project-level models_style documents) an
  * empty and a NULL experiment, both Spark's default partition. */
class TableStoreWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Miss = AssetValue.Json("\"<miss>\"")

  private val pes = Seq("p" -> "e1", "a=b" -> "x%y", "sp ace" -> "c:d", "p" -> "", "p" -> null, "p" -> "ünï")
  private val tableNames = Seq("menu", "map", "report_image", "models_style")
  private val Markers = Seq(60L, 150L, 241L)

  /** The seeded log: (table, full row), seq 1..240, three rows per
    * millisecond so `seq` breaks `put_time` ties. */
  private def log(): Seq[(TableStore.Table, Row)] = {
    val rng = new scala.util.Random(20261020L)
    (1 to 240).map { i =>
      val t = TableStore.table(tableNames(rng.nextInt(tableNames.size)))
      // only models_style keys a document without an experiment (a
      // project-level one); the other routes' URIs need it
      val (p, e) = pes(rng.nextInt(pes.size)) match {
        case (q, x) if (x == null || x.isEmpty) && t.name != "models_style" => (q, "e1")
        case pe => pe
      }
      val pe = Map("project" -> p, "experiment" -> e)
      val keys = t.name match {
        case "map" => pe ++ Map("network" -> "n", "obsvar" -> "o", "layer" -> "l", "model" -> "m",
          "modvar" -> "mv") ++ Option.when(rng.nextInt(3) > 0)("time" -> s"t${1 + rng.nextInt(2)}")
        case "report_image" => pe + ("path" -> "img.png")
        case _ => pe
      }
      val rm = rng.nextInt(6) == 0
      val blob = t.name == "report_image"
      val doc = s"""{"v": $i}"""
      t -> Row.fromSeq(t.keys.map(keys.get(_).orNull) ++ Seq(
        if (rm || blob) null else doc, if (rm || !blob) null else doc.getBytes("UTF-8"),
        1700000000000L + i / 3, i.toLong, if (rm) "rm" else "put"))
    }
  }

  /** Every typed get the log can answer, as (label, call). */
  private def gets(db: TableStore): Seq[(String, AssetValue)] = {
    val d = Some(Miss)
    pes.filter(_._2 != null).flatMap { case (p, e) =>
      Seq(s"menu $p/$e" -> db.getMenu(p, e, AccessType.JsonStr, d),
        s"menu mtime $p/$e" -> db.getMenu(p, e, AccessType.Mtime, d),
        s"models_style $p/$e" -> db.getModelsStyle(p, Some(e), AccessType.JsonStr, d),
        s"models_style $p" -> db.getModelsStyle(p, None, AccessType.JsonStr, d),
        s"report_image $p/$e" -> (try AssetValue.Blob(db.getReportImage(p, e, "img.png"))
          catch { case _: java.io.FileNotFoundException => Miss })) ++
        Seq("t1", "t2", "t3").map(time => s"map $p/$e/$time" ->
          db.getMap(p, e, "n", "o", "l", "m", "mv", time, accessType = AccessType.JsonStr, default = d))
    }
  }

  private def plain(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case AssetValue.Blob(b) => b.toSeq
    case x => x
  }

  private def liveRows(db: TableStore): Map[String, Set[Seq[Any]]] = tableNames.map { t =>
    t -> db.liveFrame(t).toSeq.flatMap(_.collect().toSeq.map(_.toSeq.map(plain))).toSet
  }.toMap

  /** The catalog a Spark `liveFrameAsOf` scan lists at `asOf`. */
  private def listing(db: TableStore, asOf: Long): Set[String] = tableNames.flatMap { name =>
    val t = TableStore.table(name)
    db.liveFrameAsOf(name, asOf).toSeq.flatMap(_.collect().toSeq.map { r =>
      QueryEntry.of(t.route, t.keys.flatMap(k => Option(r.getAs[String](k)).map(k -> _)).toMap).uri
    })
  }.toSet

  test("a driver-written table reads back as the same rows written by Spark") {
    val rows = log()
    val (viaSpark, viaDriver) = (graft.core.TempDirs.create("graft-writer-spark"),
      graft.core.TempDirs.create("graft-writer-driver"))
    val conf = spark.sparkContext.hadoopConfiguration
    for ((t, rs) <- rows.groupBy(_._1); tableRows = rs.map(_._2)) {
      spark.createDataFrame(tableRows.asJava, t.schema).write.mode("append")
        .partitionBy(t.partitionCols: _*).parquet(viaSpark.resolve(t.name).toString)
      for ((vals, part) <- tableRows.groupBy(r => t.partitionCols.map(c => r.getString(t.keys.indexOf(c)))))
        ParquetRows.write(ParquetRows.partitionDir(viaDriver.resolve(t.name), t.partitionCols, vals),
          t.schema, part.iterator, conf, t.partitionCols.toSet)
    }
    assert(ParquetRows.maxLong(ParquetRows.dataFiles(viaDriver), "seq", conf) ==
      ParquetRows.maxLong(ParquetRows.dataFiles(viaSpark), "seq", conf))
    assert(ParquetRows.maxLong(ParquetRows.dataFiles(viaDriver), "seq", conf).contains(240L))

    val (a, b) = (new TableStore(spark, viaSpark.toString), new TableStore(spark, viaDriver.toString))
    try {
      assert(liveRows(b) == liveRows(a))
      assert(liveRows(b).values.map(_.size).sum > 10)
      val (getsA, getsB) = (gets(a), gets(b))
      assert(getsB.map { case (l, v) => l -> plain(v) } == getsA.map { case (l, v) => l -> plain(v) })
      assert(getsB.count(_._2 != Miss) > 10)
      assert(b.contentHashFrame().collect().toSet == a.contentHashFrame().collect().toSet)

      for (db <- Seq(a, b)) {
        assert(db.query().map(_.uri).toSet == listing(db, Long.MaxValue))
        for (m <- Markers) assert(db.queryAsOf(m).map(_.uri).toSet == listing(db, m), s"marker $m")
        for ((p, e) <- pes.filter(_._2 != null)) {
          val kw = Map("project" -> p, "experiment" -> e)
          val want = listing(db, Long.MaxValue).filter { uri =>
            val (_, args, kw) = graft.codec.UriCodec.parse(uri)
            (args ++ kw).get("project").contains(p) && (args ++ kw).get("experiment").contains(e)
          }
          assert(db.query(kwargs = kw).map(_.uri).toSet == want, s"query $kw")
        }
      }
      assert(b.queryAsOf(Markers.head).map(_.uri).toSet != b.query().map(_.uri).toSet,
        "the first marker should hide some of the log")

      tableNames.foreach { t => a.compact(t); b.compact(t) }
      assert(liveRows(b) == liveRows(a))
      assert(gets(b).map { case (l, v) => l -> plain(v) } == getsA.map { case (l, v) => l -> plain(v) })
    } finally { a.close(); b.close() }
  }
}
