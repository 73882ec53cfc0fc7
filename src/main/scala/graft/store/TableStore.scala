package graft.store

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.codec.UriCodec
import graft.filters.JsonUtil
import graft.lock.{AdvisoryLock, Locking}

/** Spark-managed table backend — the scalable analogue of the
  * reference's sqlitedb (`/root/reference/src/aerovaldb/sqlitedb/
  * sqlitedb.py`): one parquet table per asset type, one row per asset,
  * key columns + `ctime`/`mtime` + a single opaque `json` (or `blob`)
  * payload column.
  *
  * Physical design for scale:
  *  - Writes are an append log; readers resolve the newest row per key
  *    (the parquet equivalent of sqlite's `REPLACE INTO` + UNIQUE key,
  *    `sqlitedb.py:341-369,500-531`). Point puts buffer in memory and
  *    flush as batch appends — one parquet file per flushed batch, not
  *    per asset, so a bulk copy produces a handful of files per table.
  *  - Key-equality gets push every predicate into the parquet scan
  *    (column pruning + row-group min/max skipping are free).
  *  - Tables sharing storage in the reference share here too:
  *    GLOB_STATS / HEATMAP / REGIONAL_STATS → one `glob_stats` table
  *    (`sqlitedb.py:184-249`).
  *  - Layout generations are unified into one superset column set per
  *    table; rows from older generations leave surplus keys NULL, and
  *    gets prefer the row with fewest non-null surplus keys — the
  *    reference's row-disambiguation loop (`sqlitedb.py:441-449`)
  *    expressed as a deterministic ORDER BY.
  */
final class TableStore(spark: SparkSession, basedirRaw: String) extends AssetStore {
  import TableStore._

  /** `":memory:"` opens an ephemeral store (the sqlite in-memory
    * analogue, `plugins.py:74-77`): a fresh temp directory per
    * instance, deleted on close — contents are not persistent and two
    * `:memory:` opens never share data, like two sqlite `:memory:`
    * connections. */
  private val ephemeral = basedirRaw == ":memory:"
  val basedir: String =
    if (ephemeral) graft.core.TempDirs.create("graft-memdb").toAbsolutePath.toString
    else Paths.get(basedirRaw).toAbsolutePath.toString
  Files.createDirectories(Paths.get(basedir))
  recoverInterruptedRewrites()

  def name: String = "table_store"

  // in-memory append buffers, flushed per table on read/close
  private val pending = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Row]]

  private def tablePath(t: Table) = s"$basedir/${t.name}"

  // per-table write monitors: two appends to the SAME table must not
  // write into one directory concurrently (shared _temporary dir), but
  // different tables are independent paths and may write in parallel
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def writeLock(t: Table): Object = writeLocks.computeIfAbsent(t.name, _ => new Object)

  /** The one physical write of table rows, partitioned on the table's
    * leading key columns: point gets and rmExperimentData prune to one
    * directory subtree at scale (`NULL` keys land in the default
    * partition and read back as NULL). */
  private def write(t: Table, rows: DataFrame, mode: SaveMode, path: String): Unit = {
    val w = rows.write.mode(mode)
    (if (t.partitionCols.nonEmpty) w.partitionBy(t.partitionCols: _*) else w).parquet(path)
  }

  private def append(t: Table, rows: DataFrame): Unit =
    writeLock(t).synchronized(write(t, rows, SaveMode.Append, tablePath(t)))

  private def flush(t: Table): Unit =
    writeLock(t).synchronized {
      // snapshot-and-clear under the store lock; the Spark write runs
      // outside it so concurrent flushes of other tables proceed
      val snapshot = synchronized {
        pending.get(t.name).filter(_.nonEmpty).map { rows =>
          val r = rows.toSeq; rows.clear(); r
        }
      }
      snapshot.foreach { rows =>
        try append(t, spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), t.schema))
        catch {
          case e: Throwable =>
            // failed write must not lose the buffered rows: put the
            // snapshot back at the FRONT (it predates anything appended
            // meanwhile) so the next flush retries it
            synchronized {
              pending.getOrElseUpdate(
                t.name, scala.collection.mutable.ArrayBuffer.empty)
                .prependAll(rows)
            }
            throw e
        }
      }
    }

  private[store] def readTable(t: Table): Option[DataFrame] = {
    flush(t)
    val p = tablePath(t)
    if (!Files.exists(Paths.get(p))) None
    else Some(spark.read.schema(t.schema).parquet(p))
  }

  /** Newest row per key, honoring rm tombstones. With `asOf` set,
    * rows written at or after the snapshot marker (seq ≥ asOf) are
    * invisible — INCLUDING tombstones, so an asset deleted after the
    * snapshot still reads back at it. The append log makes this free:
    * nothing is ever rewritten, so history survives until a
    * `compact()` collapses it. */
  private def liveRows(t: Table, asOf: Option[Long] = None): Option[DataFrame] =
    readTable(t).map { df =>
      newest(t, asOf.fold(df)(s => df.filter(col("seq") < s)))
        .withColumn("mtime", col("put_time"))
    }

  /** The one newest-per-key resolve: each key's row with the greatest
    * `(put_time, seq)`, dropped when that row is an rm tombstone. */
  private def newest(t: Table, rows: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(t.keys.map(col): _*).orderBy(col("put_time").desc, col("seq").desc)
    rows.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") === "put")
      .drop("_rn")
  }

  /** Snapshot marker for time-travel reads: every row written so far
    * carries seq < the returned value, so
    * `queryAsOf(marker)`/`getByUriAsOf(uri, marker)` reproduce the
    * store EXACTLY as it is now — puts, overwrites, and deletes that
    * land later are invisible at the marker. Pin one before a
    * training run and the run's inputs stay reproducible for as long
    * as the log is kept (`compact()` collapses history; compact only
    * tables whose markers you no longer need). */
  def snapshotSeq(): Long = { flushAll(); TableStore.seqCounter.get() }

  /** [[AssetStore.query]] as of a snapshot marker. */
  def queryAsOf(asOf: Long, assetTypes: Seq[Route] = Route.all,
                kwargs: Map[String, String] = Map.empty): Seq[QueryEntry] =
    queryImpl(assetTypes, kwargs, Some(asOf))

  def listAllAsOf(asOf: Long): Seq[String] = queryAsOf(asOf).map(_.uri)

  /** Time-travel point read: the asset as it existed at the snapshot —
    * `Json` for JSON routes, `Blob` for blob routes; None if it did
    * not exist yet or was already deleted. */
  def getByUriAsOf(uri: String, asOf: Long): Option[AssetValue] = {
    val (route, args, kw) = UriCodec.parse(uri)
    lookupRow(byRoute(route), args ++ (kw - "version"), Some(asOf)).flatMap { r =>
      if (Route.blobRoutes.contains(route))
        Option(r.getAs[Array[Byte]]("blob")).map(AssetValue.Blob.apply)
      else Option(r.getAs[String]("json")).map(AssetValue.Json.apply)
    }
  }

  private def appendRow(t: Table, keyVals: Map[String, String],
                        json: Option[String], blob: Option[Array[Byte]],
                        op: String): Unit = synchronized {
    val row = Row.fromSeq(
      t.keys.map(k => keyVals.get(k).orNull) ++
        Seq(json.orNull, blob.orNull, System.currentTimeMillis(),
          TableStore.seqCounter.getAndIncrement(), op))
    pending.getOrElseUpdate(t.name, scala.collection.mutable.ArrayBuffer.empty) += row
  }

  /** Key-equality lookup with generation-aware NULL handling: a NULL
    * key column matches any requested value (rows written by an older
    * layout generation lack the newer key components — the analogue of
    * sqlite's per-generation tables, `sqlitedb.py:184-249`), and among
    * matches the row with the most exactly-matching keys and the
    * fewest non-null surplus keys wins (`sqlitedb.py:441-449`). */
  private def lookupRow(t: Table, keyVals: Map[String, String],
                        asOf: Option[Long] = None): Option[Row] =
    liveRows(t, asOf).flatMap { df =>
      val keys = t.keys
      val wc = t.generationKeys
      val provided = keyVals.view.filterKeys(keys.contains).toMap
      val surplus = keys.filterNot(provided.contains)
      val pred = provided.map { case (k, v) =>
        if (wc.contains(k)) col(k) === v || col(k).isNull else col(k) === v
      }.reduceOption(_ && _).getOrElse(lit(true))
      // constant literals in orderBy would be read as column ordinals —
      // only add the disambiguation keys when they reference columns
      val orderCols = Seq.newBuilder[org.apache.spark.sql.Column]
      val providedWc = provided.keys.filter(wc.contains).toSeq.sorted
      if (providedWc.nonEmpty)
        orderCols += providedWc.map(k => when(col(k).isNull, 1).otherwise(0)).reduce(_ + _).asc
      if (surplus.nonEmpty)
        orderCols += surplus.map(k => when(col(k).isNull, 0).otherwise(1)).reduce(_ + _).asc
      orderCols += col("put_time").desc
      orderCols += col("seq").desc
      df.filter(pred).orderBy(orderCols.result(): _*).limit(1).collect().headOption
    }

  protected def _get(route: Route, routeArgs: Map[String, String],
                     kwargs: Map[String, String],
                     accessType: AccessType,
                     default: Option[AssetValue],
                     cache: Boolean): AssetValue = {
    if (accessType == AccessType.FilePath)
      throw new UnsupportedOperation(
        "Accessing FILE_PATH is not supported by TableStore.")
    val filterArgs = kwargs.filter { case (k, _) =>
      AssetStore.filterParams.getOrElse(route, Set.empty).contains(k) }
    val keyVals = routeArgs ++ (kwargs -- filterArgs.keys)
    lookupRow(byRoute(route), keyVals) match {
      case None =>
        default.getOrElse(throw new FileNotFoundException(
          s"No asset for $route with key $keyVals"))
      case Some(r) =>
        accessType match {
          case AccessType.Uri => AssetValue.Uri(QueryEntry.of(route, keyVals).uri)
          case AccessType.Mtime => AssetValue.Time(Instant.ofEpochMilli(r.getAs[Long]("put_time")))
          case AccessType.Ctime =>
            // creation time = oldest put for the key; approximated by
            // the surviving row's time unless history is retained
            AssetValue.Time(Instant.ofEpochMilli(r.getAs[Long]("put_time")))
          case AccessType.Blob => AssetValue.Blob(r.getAs[Array[Byte]]("blob"))
          case AccessType.JsonStr | AccessType.Obj =>
            val json = r.getAs[String]("json")
            if (json == null) throw new FileNotFoundException(s"No JSON payload for $keyVals")
            if (filterArgs.isEmpty) {
              if (accessType == AccessType.JsonStr) AssetValue.Json(json)
              else AssetValue.Obj(JsonUtil.parse(json))
            } else {
              val filtered = AssetStore.applyFilter(route, JsonUtil.parse(json), filterArgs)
              convertNode(filtered, accessType)
            }
          case other => throw new UnsupportedOperation(s"access type $other")
        }
    }
  }

  protected def _put(json: String, route: Route, routeArgs: Map[String, String],
                     kwargs: Map[String, String]): Unit =
    appendRow(byRoute(route), routeArgs ++ kwargs, Some(json), None, "put")

  protected def _putBlob(obj: Array[Byte], route: Route, routeArgs: Map[String, String]): Unit =
    appendRow(byRoute(route), routeArgs, None, Some(obj), "put")

  def query(assetTypes: Seq[Route] = Route.all,
            kwargs: Map[String, String] = Map.empty): Seq[QueryEntry] =
    queryImpl(assetTypes, kwargs, None)

  private def queryImpl(assetTypes: Seq[Route], kwargs: Map[String, String],
                        asOf: Option[Long]): Seq[QueryEntry] = {
    val routeSet = assetTypes.toSet
    flushAll()
    eachTable(tables.filter(t => routeSet.contains(t.route)))(queryTable(_, kwargs, asOf)).flatten
  }

  private def queryTable(t: Table, kwargs: Map[String, String],
                         asOf: Option[Long]): Seq[QueryEntry] =
    liveRows(t, asOf).toSeq.flatMap { df =>
      // non-key kwargs can never match a table without the column
      if (kwargs.keys.exists(k => !t.keys.contains(k))) Seq.empty
      else {
        val pred = kwargs.map { case (k, v) => col(k) === v }
          .reduceOption(_ && _).getOrElse(lit(true))
        df.filter(pred).collect().toSeq.map { r =>
          QueryEntry.of(t.route, t.keys.flatMap(k => Option(r.getAs[String](k)).map(k -> _)).toMap)
        }
      }
    }

  def rmByUri(uri: String): Unit = {
    val (route, args, kw) = UriCodec.parse(uri)
    appendRow(byRoute(route), args ++ (kw - "version"), None, None, "rm")
  }

  /** Experiment-wide delete as ONE distributed tombstone write per
    * table: the live keys of the experiment (a partition-pruned scan —
    * tables are partitioned on project/experiment) are written back as
    * `rm` rows. No `collect()`: at millions of assets per experiment
    * nothing funnels through the driver. */
  def rmExperimentData(project: String, experiment: String): Unit =
    tables.filter(_.keys.contains("experiment")).foreach { t =>
      liveRows(t).foreach { df =>
        append(t, logBatch(t,
          df.filter(col("project") === project && col("experiment") === experiment),
          lit(null), lit(null), "rm"))
      }
    }

  /** Bulk append pre-built rows (distributed ETL path): `rows` must
    * carry this table's key columns plus `json`/`blob`; bookkeeping
    * columns are added here. One partitioned write, no driver loop. */
  def bulkAppend(table: String, rows: DataFrame): Unit = {
    val t = TableStore.table(table)
    append(t, logBatch(t, rows, col("json"), col("blob"), "put"))
  }

  /** `rows`' key columns plus the `json`/`blob` payload as one log
    * batch under ONE counter-issued seq: successive batches in the same
    * millisecond still resolve newest-wins in APPEND ORDER (a per-row
    * monotonically_increasing_id would overlap across batches and leave
    * the winner partition-layout-dependent), and a later
    * same-millisecond put (higher seq) still wins over the batch.
    * Duplicate keys WITHIN one batch have no defined "newest" (append
    * semantics). */
  private def logBatch(t: Table, rows: DataFrame, json: Column, blob: Column,
                       op: String): DataFrame = {
    val batchSeq = TableStore.seqCounter.getAndIncrement()
    rows.select((t.keys.map(k => col(k).cast("string").as(k)) ++ Seq(
        json.cast("string").as("json"), blob.cast("binary").as("blob"))): _*)
      .withColumn("put_time", lit(System.currentTimeMillis()))
      .withColumn("seq", lit(batchSeq))
      .withColumn("op", lit(op))
  }

  /** Rewrite a table directory from `rows`, preserving the partition
    * layout (TablePruningSpec pins pruning after compaction).
    *
    * Crash consistency (the [[graft.analytics.Similarity.compactIvfCorpus]]
    * discipline): the rewritten copy lands in `<table>_compacting`
    * first, then the swap is TWO RENAMES — live aside to
    * `<table>_old`, replacement into place — never a delete of live
    * data before the replacement exists. A crash between the renames
    * leaves the full table intact at `_old` (and the rewrite at
    * `_compacting`); [[recoverInterruptedRewrites]] restores it on the
    * next open. A failed second rename restores `_old` in-process.
    * Like the IVF compactor, the brief window where the live path does
    * not resolve makes rewrites a SINGLE-MAINTAINER step — the owner
    * runs compact/compactRetain between its own reads, never
    * concurrently with them. */
  private def rewriteTable(t: Table, rows: DataFrame): Unit = {
    val dst = tablePath(t)
    DirSwap.recover(dst)
    write(t, rows, SaveMode.Overwrite, DirSwap.compactingPath(dst).toString)
    DirSwap.swapInto(dst)
  }

  /** Heal a store whose last rewrite crashed mid-swap: a leftover
    * `<table>_old` whose live sibling is MISSING is the pre-rewrite
    * table caught between the two renames — restore it verbatim
    * (forfeiting the interrupted rewrite, which is re-runnable); an
    * `_old` whose sibling exists is completed-swap debris, and any
    * `_compacting` leftover is a stale rewrite output — both deleted.
    * Runs once per open, before any read can observe the gap. */
  private def recoverInterruptedRewrites(): Unit = {
    import scala.jdk.CollectionConverters._
    val entries = scala.util.Using.resource(Files.list(Paths.get(basedir))) {
      _.iterator().asScala.map(_.getFileName.toString).toSeq
    }
    (entries.filter(_.endsWith("_old")).map(_.stripSuffix("_old")) ++
      entries.filter(_.endsWith("_compacting")).map(_.stripSuffix("_compacting")))
      .distinct.foreach(t => DirSwap.recover(s"$basedir/$t"))
  }

  /** Compact a table: rewrite with only the newest row per live key.
    * Run periodically at scale to bound the append log. The rewrite
    * keeps the (project, experiment) directory partitioning — losing
    * it here would silently turn every post-compact point read from a
    * one-partition scan into a full-table scan (TablePruningSpec pins
    * pruning after compaction). */
  def compact(table: String): Unit = {
    val t = TableStore.table(table)
    readTable(t).foreach(df => rewriteTable(t, newest(t, df)))
  }

  /** Retention-aware compaction — the VACUUM RETAIN between
    * [[compact]] (drop ALL history) and doing nothing (keep it all):
    * history OLDER than `retainSeq` collapses to one row per key (the
    * as-of-`retainSeq` winner; keys whose winner is a tombstone drop
    * entirely), while every row with seq ≥ `retainSeq` survives
    * verbatim — puts, overwrites, AND rm tombstones. Any snapshot
    * marker taken at or after `retainSeq` therefore reads back
    * EXACTLY as before the vacuum (the collapsed winner is by
    * construction the only sub-`retainSeq` row every such read could
    * resolve to), which is the retention contract a table format's
    * VACUUM gives its time travel; markers older than `retainSeq` are
    * explicitly forfeited. Bounded like compact: one partitioned
    * rewrite, newest-per-key via the same window as the readers. */
  def compactRetain(table: String, retainSeq: Long): Unit = {
    val t = TableStore.table(table)
    readTable(t).foreach { df =>
      rewriteTable(t, newest(t, df.filter(col("seq") < retainSeq))
        .unionByName(df.filter(col("seq") >= retainSeq)))
    }
  }

  /** The store→analytics bridge: one table's LIVE rows (newest per
    * key, rm tombstones honored) as a DataFrame — key columns +
    * `json`/`blob` payload + bookkeeping. This is how a pipeline runs
    * corpus analytics (dedup, quality, CDC) directly over assets the
    * store serves, without exporting them first: the frame is the
    * same partition-pruned parquet scan the point API resolves
    * against, so a downstream groupBy/join composes with it like any
    * other source (av08 proves the composition end to end). */
  def liveFrame(table: String): Option[DataFrame] = liveRows(TableStore.table(table))

  /** [[liveFrame]] as of a snapshot marker — the time-travel side of
    * the analytics bridge: rows written at or after the marker are
    * invisible, newest-per-key resolution and rm tombstones apply
    * among the rest. One pruned scan, same as every other reader;
    * st22 uses it to digest a pinned view across streaming vacuums
    * without per-URI point reads. */
  def liveFrameAsOf(table: String, asOf: Long): Option[DataFrame] =
    liveRows(TableStore.table(table), Some(asOf))

  /** Distributed (uri, content md5) scan over every table's live rows:
    * URIs are rebuilt row-side from the key columns (the same rule as
    * [[query]]'s catalog scan) and payloads hash executor-side — the
    * canonical-JSON form for JSON routes, raw bytes for blobs. No
    * per-asset driver round-trips: the replica audit over a
    * million-asset store is |tables| parquet scans unioned, hashes
    * computed as a mapped column. */
  def contentHashFrame(): DataFrame = {
    import spark.implicits._
    flushAll()
    val frames = tables.sortBy(_.name).flatMap { t =>
      liveRows(t).map { df =>
        val (keys, route) = (t.keys, t.route)
        val isBlob = Route.blobRoutes.contains(route)
        df.select((keys.map(c => col(c).cast("string").as(c)) :+
            col("json") :+ col("blob")): _*)
          .map { r =>
            val meta = keys.zipWithIndex
              .flatMap { case (k, i) => Option(r.getString(i)).map(k -> _) }.toMap
            val uri = QueryEntry.of(route, meta).uri
            val digest =
              if (isBlob) JsonUtil.md5hex(r.getAs[Array[Byte]](keys.length + 1))
              else JsonUtil.canonicalMd5(r.getString(keys.length))
            (uri.takeWhile(_ != '?'), digest)
          }.toDF("uri", "content_md5")
      }
    }
    frames.reduceOption(_ unionByName _).getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("uri", StringType),
          StructField("content_md5", StringType))))
    }
  }

  def lock(): AdvisoryLock = Locking.forBasedir(basedir)

  /** Flush pending appends (call before handing the dir to another
    * reader). Tables flush concurrently, see [[TableStore.eachTable]]. */
  def flushAll(): Unit =
    eachTable(synchronized(pending.filter(_._2.nonEmpty).keys.toSeq).map(TableStore.table))(flush)

  override def close(): Unit = {
    flushAll()
    if (ephemeral) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(basedir))
      try walk.iterator().asScala.toSeq.reverseIterator.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}

object TableStore {
  /** One asset table: its name, the route its catalog URIs carry, its
    * superset key columns over all layout generations, and its
    * generation keys — key columns that older layout generations leave
    * NULL, where a NULL matches any requested value (the analogue of
    * sqlite's narrower per-generation tables). */
  final case class Table(name: String, route: Route, keys: Seq[String],
                         generationKeys: Set[String] = Set.empty) {
    /** Physical partitioning: (project, experiment) where both exist,
      * (project) otherwise. */
    val partitionCols: Seq[String] = keys.filter(k => k == "project" || k == "experiment")

    val schema: StructType = StructType(
      keys.map(k => StructField(k, StringType, nullable = true)) ++ Seq(
        StructField("json", StringType, nullable = true),
        StructField("blob", BinaryType, nullable = true),
        StructField("put_time", LongType, nullable = false),
        StructField("seq", LongType, nullable = false),
        StructField("op", StringType, nullable = false)))
  }

  /** Monotonic tie-break for same-millisecond appends. */
  private[store] val seqCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  private val PE = Seq("project", "experiment")

  /** Every table. glob_stats lists as HEATMAP, preserving the jsondb
    * quirk that reverse-parsed glob_stats files surface as HEATMAP
    * entries. */
  val tables: Seq[Table] = Seq(
    Table("glob_stats", Route.Heatmap, PE :+ "frequency"),
    Table("contour", Route.Contour, PE ++ Seq("obsvar", "model")),
    Table("contour_timesplit", Route.ContourTimesplit, PE ++ Seq("obsvar", "model", "timestep")),
    Table("timeseries", Route.Timeseries, PE ++ Seq("location", "network", "obsvar", "layer")),
    Table("timeseries_weekly", Route.TimeseriesWeekly, PE ++ Seq("location", "network", "obsvar", "layer")),
    Table("experiments", Route.Experiments, Seq("project")),
    Table("config", Route.Config, PE),
    Table("menu", Route.Menu, PE),
    Table("statistics", Route.Statistics, PE),
    Table("ranges", Route.Ranges, PE),
    Table("regions", Route.Regions, PE),
    Table("models_style", Route.ModelsStyle, PE),
    Table("map", Route.MapRoute,
      PE ++ Seq("network", "obsvar", "layer", "model", "modvar", "time"), Set("time")),
    Table("scatter", Route.Scatter,
      PE ++ Seq("network", "obsvar", "layer", "model", "modvar", "time"), Set("time")),
    Table("profiles", Route.Profiles, PE ++ Seq("location", "network", "obsvar")),
    Table("heatmap_ts", Route.HeatmapTimeseries, PE ++ Seq("region", "network", "obsvar", "layer"),
      Set("region", "network", "obsvar", "layer")),
    Table("forecast", Route.Forecast, PE ++ Seq("region", "network", "obsvar", "layer")),
    Table("fairmode", Route.Fairmode, PE ++ Seq("region", "network", "obsvar", "layer", "model", "time")),
    Table("gridded_map", Route.GriddedMap, PE ++ Seq("obsvar", "model")),
    Table("report", Route.Report, PE :+ "title"),
    Table("report_image", Route.ReportImage, PE :+ "path"),
    Table("map_overlay", Route.MapOverlay, PE ++ Seq("source", "variable", "date")),
  )

  private val byName: Map[String, Table] = tables.map(t => t.name -> t).toMap

  /** Route → table. GLOB_STATS / HEATMAP / REGIONAL_STATS share one
    * `glob_stats` table, as they share storage in the reference
    * (`sqlitedb.py:184-249`). */
  private[store] val byRoute: Map[Route, Table] =
    tables.map(t => t.route -> t).toMap ++
      Seq(Route.GlobStats, Route.RegionalStats).map(_ -> byName("glob_stats"))

  def table(name: String): Table =
    byName.getOrElse(name, throw new IllegalArgumentException(s"Unknown table '$name'"))

  def tableFor(route: Route): String = byRoute(route).name

  /** Runs `f` on each table concurrently and waits for all of them:
    * per-table scans and writes are independent Spark jobs on their own
    * directories, which Spark's scheduler interleaves, so running them
    * one after another would leave the cluster idle per small job. */
  private[graft] def eachTable[B](ts: Seq[Table])(f: Table => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(ts.map(t => Future(f(t)))), Duration.Inf)
  }
}
