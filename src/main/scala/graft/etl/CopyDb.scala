package graft.etl

import graft.core.{AccessType, AssetValue, Route}
import graft.codec.UriCodec
import graft.store.AssetStore

/** Cross-backend full-database copy — the canonical ETL pipeline
  * (`/root/reference/src/aerovaldb/utils/copy.py:11-49`): for every URI
  * in the source catalog, read (JSON_STR, or BLOB for image routes) and
  * write into the destination; verify catalog cardinality afterwards.
  *
  * Point ops run driver-side (they are key-value ops, not data-
  * parallel); [[graft.store.TableStore]] buffers its puts and flushes
  * them as batch parquet appends, so a copy into the Spark backend
  * produces a handful of columnar files per table, not one file per
  * asset — the layout that scales.
  */
object CopyDb {

  /** Distributed bulk import: JsonFileStore tree → TableStore, as ONE
    * Spark job per asset table instead of a driver-side point loop —
    * the shape that scales to millions of assets (SURVEY.md §3.3:
    * catalog → mapPartitions payload read → columnar write).
    *
    * The executor-side payload read happens inside the projection
    * (`Files.readAllBytes` over the catalog's `src_path`), so asset
    * bytes stream straight from the source tree into parquet row
    * groups without ever collecting to the driver.
    */
  def bulkImport(spark: org.apache.spark.sql.SparkSession,
                 source: graft.store.JsonFileStore,
                 dest: graft.store.TableStore): Long = {
    import org.apache.spark.sql.functions._
    import graft.store.TableStore
    val catalog = graft.catalog.Catalog.ingest(spark, source.basedir.toString).cache()
    val readText = udf((p: String) =>
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    val readBytes = udf((p: String) =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

    // per-route cardinalities in ONE aggregation job over the cached
    // catalog (≤ |routes| rows) — probing each table with its own
    // isEmpty + count would run 2 extra Spark jobs per table, all
    // scheduler overhead on a point-store-sized catalog
    val routeCounts = catalog.groupBy(col("route")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // each table is an independent destination path, so the per-table
    // import jobs run concurrently
    val work = TableStore.tables.filter(t => routeCounts.get(t.route.name).exists(_ > 0))
    TableStore.eachTable(work) { t =>
      val isBlob = Route.blobRoutes.contains(t.route)
      val rows = catalog.filter(col("route") === t.route.name).select((t.keys.map(col) ++ Seq(
        (if (isBlob) lit(null).cast("string") else readText(col("src_path"))).as("json"),
        (if (isBlob) readBytes(col("src_path")) else lit(null).cast("binary")).as("blob"))): _*)
      dest.bulkAppend(t.name, rows)
    }
    val imported = work.map(t => routeCounts(t.route.name)).sum
    dest.flushAll()
    val dstN = dest.listAll().size
    if (imported != dstN)
      throw new java.io.IOException(
        s"Bulk import failed: imported $imported assets, destination lists $dstN.")
    imported
  }

  def copyDbContents(source: AssetStore, dest: AssetStore): Unit = {
    val uris = source.listAll()
    uris.foreach { uri =>
      val (route, _, _) = UriCodec.parse(uri)
      if (Route.blobRoutes.contains(route)) {
        source.getByUri(uri, AccessType.Blob) match {
          case AssetValue.Blob(b) => dest.putBlobByUri(uri, b)
          case other => throw new IllegalStateException(s"Unexpected $other for $uri")
        }
      } else {
        source.getByUri(uri, AccessType.JsonStr) match {
          case AssetValue.Json(s) => dest.putByUri(uri, s)
          case other => throw new IllegalStateException(s"Unexpected $other for $uri")
        }
      }
    }
    val (srcN, dstN) = (uris.size, dest.listAll().size)
    if (srcN != dstN)
      throw new java.io.IOException(
        s"Copy failed: source has $srcN assets, destination has $dstN.")
  }
}
