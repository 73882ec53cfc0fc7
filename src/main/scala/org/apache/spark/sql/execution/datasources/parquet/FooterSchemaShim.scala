package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** `private[parquet]` access to the footer-to-schema conversion of
  * Spark's own parquet schema inference, run on the driver. Inference
  * reads the same footer inside a Spark job (`mergeSchemasInParallel`)
  * even for one file; this reads it in the calling thread, under the
  * session's parquet settings (binary-as-string, INT96, timestamp-NTZ
  * inference, `nanosAsLong`), for [[graft.core.ParquetRows.frame]]. */
object FooterSchemaShim {
  def schemaOf(spark: SparkSession, file: Path): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.newHadoopConf()
    val status = file.getFileSystem(conf).getFileStatus(file)
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(status), state.conf.ignoreCorruptFiles),
      spark)
  }
}
