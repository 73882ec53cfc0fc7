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
  * them as batch parquet appends, so a copy into the table backend
  * produces one columnar file per touched partition directory, not one
  * file per asset.
  */
object CopyDb {

  /** Bulk import: JsonFileStore tree → TableStore, in the driver with
    * no Spark job (`spark` is not used). The tree is walked and each
    * file reverse-parsed by the json store's own catalog walk
    * ([[graft.store.JsonFileStore.assetFiles]], what its `listAll`
    * lists), then [[graft.store.TableStore.importFiles]] writes one log
    * batch per table and one parquet file per `(table, partition
    * directory)`, streaming each directory's payload files into its
    * writer. The destination's listing must count every imported
    * asset.
    */
  def bulkImport(spark: org.apache.spark.sql.SparkSession,
                 source: graft.store.JsonFileStore,
                 dest: graft.store.TableStore): Long = {
    val imported = dest.importFiles(source.assetFiles())
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
