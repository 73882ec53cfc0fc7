package graft.store

import java.io.FileNotFoundException
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
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
  *    flush as batch appends — one parquet file per touched
  *    `(project, experiment)` partition directory, not per asset.
  *  - Every operation that names partitions runs in the driver with no
  *    Spark job, as the reference's sqlite commit does: flush, `rmByUri`
  *    tombstones, `rmExperimentData`, the [[query]]/`listAll` catalog,
  *    point gets and the bulk import ([[importFiles]]). Writes go
  *    through [[graft.core.ParquetRows.write]] (a temp file renamed into
  *    place, laid out as Spark's partitioned write lays it out); reads
  *    share one newest-per-key resolve ([[liveHits]]) over parquet-mr,
  *    key equalities pushed down.
  *  - Whole-table work stays on Spark: [[compact]], [[compactRetain]],
  *    [[bulkAppend]] of a DataFrame, and the analytics bridges
  *    [[liveFrame]], [[liveFrameAsOf]] and [[contentHashFrame]].
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
  /** The one Hadoop configuration of the store's driver-side reads. */
  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  recoverInterruptedRewrites()
  removeInterruptedWrites()
  seedSeq()

  def name: String = "table_store"

  // in-memory append buffers, flushed per table on read/close
  private val pending = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Row]]

  private def tablePath(t: Table) = s"$basedir/${t.name}"

  // per-table write monitors: two Spark appends to the SAME table must
  // not write into one directory concurrently (shared _temporary dir),
  // but different tables are independent paths and may write in
  // parallel. Driver-side writes add uniquely named files and need none.
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def writeLock(t: Table): Object = writeLocks.computeIfAbsent(t.name, _ => new Object)
  // per-table flush monitors: a get flushes first and must wait for
  // another thread's in-flight flush of its table, whose rows it has
  // to see, but not for writes that hold no pending rows
  private val flushLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The one Spark write of table rows, partitioned on the table's
    * leading key columns (`NULL` keys land in the default partition
    * and read back as NULL), for the whole-table operations. */
  private def write(t: Table, rows: DataFrame, mode: SaveMode, path: String): Unit = {
    val w = rows.write.mode(mode)
    (if (t.partitionCols.nonEmpty) w.partitionBy(t.partitionCols: _*) else w).parquet(path)
  }

  private def append(t: Table, rows: DataFrame): Unit =
    writeLock(t).synchronized(write(t, rows, SaveMode.Append, tablePath(t)))

  /** The one driver-side write: `rows` (full table rows) as one new
    * file in the partition directory of `partValues`. */
  private def writeDir(t: Table, partValues: Seq[String], rows: Iterator[Row]): Unit =
    ParquetRows.write(ParquetRows.partitionDir(Paths.get(tablePath(t)), t.partitionCols, partValues),
      t.schema, rows, hadoopConf, t.partitionCols.toSet)

  /** The partition values of a key (`key` gives each key column's
    * value or null), empty ones as NULL: both name Spark's default
    * partition, so rows of one directory group together. */
  private def partValuesOf(t: Table, key: String => String): Seq[String] =
    t.partitionCols.map(c => Option(key(c)).filter(_.nonEmpty).orNull)

  private def flush(t: Table): Unit =
    flushLocks.computeIfAbsent(t.name, _ => new Object).synchronized {
      // snapshot-and-clear under the store lock; the write runs outside
      // it so concurrent flushes of other tables proceed
      val snapshot = synchronized {
        pending.get(t.name).filter(_.nonEmpty).map { rows =>
          val r = rows.toSeq; rows.clear(); r
        }
      }
      snapshot.foreach { rows =>
        // one file per touched partition directory
        def dirOf(r: Row) = partValuesOf(t, c => r.getString(t.keys.indexOf(c)))
        val dirs = rows.groupBy(dirOf)
        var unwritten = dirs.keySet
        try dirs.foreach { case (vals, rs) => writeDir(t, vals, rs.iterator); unwritten -= vals }
        catch {
          case e: Throwable =>
            // a failed write must not lose the buffered rows: put the
            // rows of the directories not written back at the FRONT
            // (they predate anything appended meanwhile) so the next
            // flush retries them
            synchronized {
              pending.getOrElseUpdate(
                t.name, scala.collection.mutable.ArrayBuffer.empty)
                .prependAll(rows.filter(r => unwritten(dirOf(r))))
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

  /** The newest-per-key resolve on Spark, for the whole-table
    * operations: each key's row with the greatest `(put_time, seq)`,
    * dropped when that row is an rm tombstone — [[liveHits]]'s rule. */
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
    val blob = Route.blobRoutes.contains(route)
    val (t, keyVals) = (byRoute(route), args ++ (kw - "version"))
    lookupRow(t, keyVals, getFiles(t, keyVals), Some(if (blob) "blob" else "json"), Some(asOf))
      .flatMap { r =>
        if (blob) Option(r.blob).map(AssetValue.Blob.apply)
        else Option(r.json).map(AssetValue.Json.apply)
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
    * fewest non-null surplus keys wins (`sqlitedb.py:441-449`).
    * Served by [[liveHits]] over `files` ([[getFiles]]); `payload`
    * names the one payload column to read (`json` or `blob`), the
    * other comes back null. */
  private def lookupRow(t: Table, keyVals: Map[String, String], files: Seq[(Path, Map[String, String])],
                        payload: Option[String], asOf: Option[Long] = None): Option[Hit] = {
    val keys = t.keys
    val wc = t.generationKeys
    val provided = keyVals.view.filterKeys(keys.contains).toMap
    // (key index, requested value, whether a NULL matches it too)
    val wanted = keys.indices.flatMap(i => provided.get(keys(i)).map(v => (i, v, wc(keys(i)))))
    val hits = liveHits(t, files, payload, pushdown(t, provided, wc, asOf), asOf) { kv =>
      wanted.forall { case (i, v, orNull) => v == kv(i) || (orNull && kv(i) == null) }
    }
    val providedWc = keys.indices.filter(i => provided.contains(keys(i)) && wc.contains(keys(i)))
    val surplus = keys.indices.filterNot(i => provided.contains(keys(i)))
    hits.minByOption { h =>
      (providedWc.count(h.keys(_) == null), surplus.count(h.keys(_) != null), -h.putTime, -h.seq)
    }
  }

  /** The parquet-mr filter of a [[liveHits]] scan: each provided key
    * that is a data column equal to its value (or NULL too, for the
    * keys in `orNull`), and `seq < asOf`. Provided partition keys
    * select directories instead ([[getFiles]]). */
  private def pushdown(t: Table, provided: Map[String, String], orNull: Set[String],
                       asOf: Option[Long]): FilterCompat.Filter =
    (provided.filter { case (k, _) => !t.partitionCols.contains(k) }.toSeq.map { case (k, v) =>
      val c = FilterApi.binaryColumn(k)
      val eq = FilterApi.eq(c, Binary.fromString(v))
      if (orNull(k)) FilterApi.or(eq, FilterApi.eq(c, null: Binary)) else eq
    } ++ asOf.map(s => FilterApi.lt(FilterApi.longColumn("seq"), java.lang.Long.valueOf(s))))
      .reduceOption(FilterApi.and(_, _)).fold(FilterCompat.NOOP)(FilterCompat.get)

  /** The one driver-side newest-per-key resolve, shared by point gets,
    * [[query]] and [[rmExperimentData]]: parquet-mr streams the rows of
    * `files` with `filter` pushed down, rows at or after `asOf` and
    * rows whose full key `keep` rejects are dropped, and only each
    * full key's newest `(put_time, seq)` row is held — memory is
    * bounded by the keys kept, not by the rows scanned. Keys whose
    * newest row is an `rm` tombstone drop out, exactly as
    * [[liveRows]] resolves on Spark. Rows carry the key columns,
    * `put_time`, `seq`, `op` and the `payload` column if one is named.
    * (`keep` is applied to every row: whether parquet-mr also drops
    * single rows with the pushed filter is a setting of the shared
    * configuration, not of this reader.) */
  private def liveHits(t: Table, files: Seq[(Path, Map[String, String])], payload: Option[String],
                       filter: FilterCompat.Filter, asOf: Option[Long])(
                       keep: Seq[String] => Boolean): Iterable[Hit] = {
    val keys = t.keys
    val columns = Some(keys.filterNot(t.partitionCols.contains).toSet ++ Set("put_time", "seq", "op") ++ payload)
    val newestPerKey = scala.collection.mutable.HashMap.empty[Seq[String], Hit]
    getFilesOpened.addAndGet(files.size)
    for ((file, partVals) <- files)
      ParquetRows.readFile(file, hadoopConf, columns, filter) { g =>
        getRowsDecoded.incrementAndGet()
        val seq = g.getLong("seq", 0)
        if (asOf.forall(seq < _)) {
          val kv = keys.map(k => partVals.getOrElse(k, string(g, k)))
          if (keep(kv)) {
            val hit = Hit(kv, g.getLong("put_time", 0), seq, g)
            if (newestPerKey.get(kv).forall(h => hit.putTime > h.putTime ||
                (hit.putTime == h.putTime && seq > h.seq)))
              newestPerKey(kv) = hit
          }
        }
      }
    newestPerKey.values.filter(h => string(h.row, "op") == "put")
  }

  /** A get's cache validator: the sorted listing of the data files it
    * reads. It is exact because no write changes a file in place:
    * flush, rmByUri, rmExperimentData, importFiles and bulkAppend add
    * new, uniquely named files, and compact/compactRetain swap in a
    * whole new table directory. It sees the writes of other store instances on the
    * same basedir too. */
  private def stampOf(t: Table, keyVals: Map[String, String],
                      files: Seq[(Path, Map[String, String])]): AssetStore.DocStamp =
    AssetStore.DocStamp((t.name, keyVals.view.filterKeys(t.keys.contains).toMap),
      files.map(_._1.toString).sorted)

  protected def docStamp(route: Route, keyVals: Map[String, String]): Option[AssetStore.DocStamp] = {
    val t = byRoute(route)
    Some(stampOf(t, keyVals, getFiles(t, keyVals)))
  }

  /** What driver-side reads ([[liveHits]]) read: data files opened,
    * and rows the parquet reader returned after its pushed-down
    * filter. */
  val getFilesOpened = new java.util.concurrent.atomic.AtomicLong(0)
  val getRowsDecoded = new java.util.concurrent.atomic.AtomicLong(0)

  /** The data files a get for `keyVals` reads, each with the partition
    * values its rows carry, listed after the table's pending puts are
    * flushed. A provided partition value selects its one directory by
    * Spark's own path escaping; no such directory is a miss, and a
    * value Spark stores as NULL (the empty string, or the
    * default-partition name itself) matches nothing. An unprovided
    * partition column (a project-level models_style get leaves
    * `experiment` open) takes every directory at its level, the
    * default partition reading as NULL. */
  private def getFiles(t: Table, keyVals: Map[String, String]): Seq[(Path, Map[String, String])] = {
    flush(t)
    val default = ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    t.partitionCols.foldLeft(Seq(Paths.get(tablePath(t)) -> Map.empty[String, String])) {
      case (dirs, c) => dirs.flatMap { case (dir, vals) =>
        keyVals.get(c) match {
          case Some(v) =>
            if (v.isEmpty || v == default) Nil
            else Seq(dir.resolve(ExternalCatalogUtils.getPartitionPathString(c, v)))
              .filter(Files.isDirectory(_)).map(_ -> (vals + (c -> v)))
          case None if Files.isDirectory(dir) =>
            val prefix = ExternalCatalogUtils.escapePathName(c) + "="
            scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toList).collect {
              case d if Files.isDirectory(d) && d.getFileName.toString.startsWith(prefix) =>
                val raw = d.getFileName.toString.drop(prefix.length)
                d -> (vals + (c -> (if (raw == default) null else ExternalCatalogUtils.unescapePathName(raw))))
            }
          case None => Nil
        }
      }
    }.flatMap { case (dir, vals) => ParquetRows.dataFiles(dir).map(_ -> vals) }
  }

  protected def _get(route: Route, routeArgs: Map[String, String],
                     kwargs: Map[String, String],
                     accessType: AccessType,
                     default: Option[AssetValue],
                     cache: Boolean): AssetValue = {
    val filterArgs = kwargs.filter { case (k, _) =>
      AssetStore.filterParams.getOrElse(route, Set.empty).contains(k) }
    val keyVals = routeArgs ++ (kwargs -- filterArgs.keys)
    val t = byRoute(route)
    lazy val files = getFiles(t, keyVals)
    def row(payload: Option[String]) = lookupRow(t, keyVals, files, payload)
    val value = accessType match {
      case AccessType.JsonStr | AccessType.Obj =>
        jsonValue(route, filterArgs, accessType, Option.when(cache)(stampOf(t, keyVals, files)))(
          row(Some("json")).map(r => Option(r.json).getOrElse(
            throw new FileNotFoundException(s"No JSON payload for $keyVals"))))
      case AccessType.Blob => row(Some("blob")).map(r => AssetValue.Blob(r.blob))
      case AccessType.Uri => row(None).map(_ => AssetValue.Uri(QueryEntry.of(route, keyVals).uri))
      // creation time = oldest put for the key; approximated by the
      // surviving row's time unless history is retained
      case AccessType.Mtime | AccessType.Ctime =>
        row(None).map(r => AssetValue.Time(Instant.ofEpochMilli(r.putTime)))
      case AccessType.FilePath =>
        throw new UnsupportedOperation("Accessing FILE_PATH is not supported by TableStore.")
    }
    value.getOrElse(default.getOrElse(throw new FileNotFoundException(
      s"No asset for $route with key $keyVals")))
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
    concurrently(tables.filter(t => routeSet.contains(t.route)))(queryTable(_, kwargs, asOf)).flatten
  }

  /** One table's live keys matching `kwargs`, by [[liveHits]] over the
    * partition directories `kwargs` select: the catalog collects every
    * such key anyway, so resolving in the driver holds no more than the
    * result. */
  private def queryTable(t: Table, kwargs: Map[String, String],
                         asOf: Option[Long]): Seq[QueryEntry] =
    // non-key kwargs can never match a table without the column:
    // decided before the table is listed at all
    if (kwargs.keys.exists(k => !t.keys.contains(k))) Seq.empty
    else {
      val wanted = t.keys.indices.flatMap(i => kwargs.get(t.keys(i)).map(i -> _))
      liveHits(t, getFiles(t, kwargs), None, pushdown(t, kwargs, Set.empty, asOf), asOf) { kv =>
        wanted.forall { case (i, v) => kv(i) == v }
      }.map(h => QueryEntry.of(t.route, t.keys.zip(h.keys).collect { case (k, v) if v != null => k -> v }.toMap))
        .toSeq.sortBy(_.uri)
    }

  def rmByUri(uri: String): Unit = {
    val (route, args, kw) = UriCodec.parse(uri)
    appendRow(byRoute(route), args ++ (kw - "version"), None, None, "rm")
  }

  /** Experiment-wide delete: per table with an `experiment` column,
    * the live keys of the one `(project, experiment)` directory
    * ([[liveHits]]) are written back into it as `rm` rows, one file and
    * one batch seq per table, in the driver. */
  def rmExperimentData(project: String, experiment: String): Unit = {
    val pe = Map("project" -> project, "experiment" -> experiment)
    concurrently(tables.filter(_.keys.contains("experiment"))) { t =>
      val live = liveHits(t, getFiles(t, pe), None, FilterCompat.NOOP, None)(_ => true)
      if (live.nonEmpty) {
        val (putTime, batchSeq) = (System.currentTimeMillis(), TableStore.seqCounter.getAndIncrement())
        writeDir(t, t.partitionCols.map(pe), live.iterator.map(h =>
          Row.fromSeq(h.keys ++ Seq(null, null, putTime, batchSeq, "rm"))))
      }
    }
  }

  /** Bulk load of asset files, in the driver: each `(entry, file)`
    * becomes a row of its route's table with the entry's keys and the
    * file's bytes as payload (`blob` on blob routes, UTF-8 `json`
    * otherwise). Each table's rows form one log batch under one batch
    * seq and `put_time`, as [[bulkAppend]] stamps them; each
    * `(table, partition directory)` is written as one file, several
    * directories at a time, each reading its payload files as its
    * writer consumes them. Returns the number of rows written. */
  private[graft] def importFiles(assets: Seq[(QueryEntry, Path)]): Long = {
    val putTime = System.currentTimeMillis()
    val units = assets.groupBy { case (e, _) => byRoute(e.route) }.toSeq.sortBy(_._1.name).flatMap {
      case (t, xs) =>
        val batchSeq = TableStore.seqCounter.getAndIncrement()
        xs.groupBy { case (e, _) => partValuesOf(t, e.meta.get(_).orNull) }
          .toSeq.map { case (vals, ys) => (t, batchSeq, vals, ys) }
    }
    concurrently(units) { case (t, batchSeq, vals, ys) =>
      val blob = Route.blobRoutes.contains(t.route)
      writeDir(t, vals, ys.iterator.map { case (e, file) =>
        val bytes = Files.readAllBytes(file)
        Row.fromSeq(t.keys.map(e.meta.get(_).orNull) ++ Seq(
          if (blob) null else new String(bytes, java.nio.charset.StandardCharsets.UTF_8),
          if (blob) bytes else null, putTime, batchSeq, "put"))
      })
    }
    assets.size.toLong
  }

  /** Bulk append pre-built rows (distributed ETL path): `rows` must
    * carry this table's key columns plus `json`/`blob`; bookkeeping
    * columns are added here. One partitioned Spark write, no driver
    * loop, and one log batch under ONE counter-issued seq: successive
    * batches in the same millisecond still resolve newest-wins in
    * APPEND ORDER (a per-row monotonically_increasing_id would overlap
    * across batches and leave the winner partition-layout-dependent),
    * and a later same-millisecond put (higher seq) still wins over the
    * batch. Duplicate keys WITHIN one batch have no defined "newest"
    * (append semantics). [[importFiles]] and [[rmExperimentData]] stamp
    * their batches the same way. */
  def bulkAppend(table: String, rows: DataFrame): Unit = {
    val t = TableStore.table(table)
    val batchSeq = TableStore.seqCounter.getAndIncrement()
    append(t, rows.select((t.keys.map(k => col(k).cast("string").as(k)) ++ Seq(
        col("json").cast("string").as("json"), col("blob").cast("binary").as("blob"))): _*)
      .withColumn("put_time", lit(System.currentTimeMillis()))
      .withColumn("seq", lit(batchSeq))
      .withColumn("op", lit("put")))
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
    val entries = scala.util.Using.resource(Files.list(Paths.get(basedir))) {
      _.iterator().asScala.map(_.getFileName.toString).toSeq
    }
    (entries.filter(_.endsWith("_old")).map(_.stripSuffix("_old")) ++
      entries.filter(_.endsWith("_compacting")).map(_.stripSuffix("_compacting")))
      .distinct.foreach(t => DirSwap.recover(s"$basedir/$t"))
  }

  /** Delete the in-progress files of driver-side writes whose process
    * died before the rename ([[graft.core.ParquetRows.tempFiles]]): no
    * reader ever listed them, so the store reads as if those writes
    * never happened. Runs once per open, next to
    * [[recoverInterruptedRewrites]]. */
  private def removeInterruptedWrites(): Unit =
    tables.flatMap(t => ParquetRows.tempFiles(Paths.get(tablePath(t)))).foreach(Files.deleteIfExists)

  /** Continue the write sequence above every `seq` already in the
    * log, read from parquet footer statistics (no Spark job): the
    * counter is per JVM, so without this a marker pinned before a
    * restart would see the writes made after it. Raise-only — a second
    * store open in the same JVM never moves the sequence back. */
  private def seedSeq(): Unit =
    ParquetRows.maxLong(
        tables.flatMap(t => ParquetRows.dataFiles(Paths.get(tablePath(t)))), "seq", hadoopConf)
      .foreach(m => TableStore.seqCounter.accumulateAndGet(m + 1, (a: Long, b: Long) => math.max(a, b)))

  /** Compact a table: rewrite with only the newest row per live key.
    * Run periodically at scale to bound the append log. The rewrite
    * keeps the (project, experiment) directory partitioning — point
    * gets read one partition directory, and losing the layout here
    * would silently make them miss every compacted row
    * (TablePruningSpec pins pruning after compaction). */
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
    * store serves, without exporting them first: the frame is a
    * partition-pruned parquet scan resolving newest-per-key as the
    * point API does, so a downstream groupBy/join composes with it
    * like any other source (av08 proves the composition end to end). */
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
    * canonical-JSON form for JSON routes ([[JsonUtil.contentMd5]]:
    * the raw text of a document that does not parse), raw bytes for
    * blobs. No
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
              else JsonUtil.contentMd5(r.getString(keys.length))
            (uri.takeWhile(_ != '?'), digest)
          }.toDF("uri", "content_md5")
      }
    }
    frames.reduceOption(_ unionByName _).getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("uri", StringType),
          StructField("content_md5", StringType))))
    }
  }

  def lock(): AdvisoryLock = Locking.forBasedir(basedir)

  /** Flush pending appends (call before handing the dir to another
    * reader). Tables flush concurrently, see [[TableStore.concurrently]]. */
  def flushAll(): Unit =
    concurrently(synchronized(pending.filter(_._2.nonEmpty).keys.toSeq).map(TableStore.table))(flush)

  override def close(): Unit = {
    flushAll()
    if (ephemeral) {
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

  /** Monotonic tie-break for same-millisecond appends; each store open
    * raises it above the seqs already on disk. */
  private[store] val seqCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A row [[TableStore.liveHits]] resolved: its full key,
    * `(put_time, seq)` and the parquet record, which carries the
    * payload column the scan read (the other payload reads as null). */
  private final case class Hit(keys: Seq[String], putTime: Long, seq: Long, row: Group) {
    def json: String = string(row, "json")
    def blob: Array[Byte] = binary(row, "blob").map(_.getBytes).orNull
  }

  /** A binary column of a parquet record; None when the record's file
    * lacks the column or the value is NULL. */
  private def binary(g: Group, name: String): Option[Binary] =
    if (!g.getType.containsField(name) || g.getFieldRepetitionCount(name) == 0) None
    else Some(g.getBinary(name, 0))

  private def string(g: Group, name: String): String = binary(g, name).map(_.toStringUsingUTF8).orNull

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

  /** Runs `f` on each of `xs` (a table, or a table's partition
    * directory) concurrently and waits for all of them: their reads and
    * writes touch disjoint directories, and running them one after
    * another would leave the disk and the other cores idle. */
  private[graft] def concurrently[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
  }
}
