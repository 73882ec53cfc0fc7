package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.{HadoopParquetConfiguration, ParquetConfiguration}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{InputFile, LocalOutputFile, OutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaShim
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}

/** DRIVER-SIDE parquet reads and writes with parquet-mr: no Spark job,
  * no planning, for data whose size the caller bounds — a diff- or
  * vocab-bounded index sidecar, one partition directory of a
  * [[graft.store.TableStore]] table. A Spark job to read or write a few
  * rows pays scheduler and listing overhead per call (≈0.09 s/job on
  * the bench's cost fit), where doing it in the driver is
  * milliseconds. Single-maintainer layouts only — no writer races the
  * scan. [[frame]] is the library's one schema-less Spark parquet
  * read: the scan stays Spark's, and only the schema is read here. */
object ParquetRows {

  /** The Hadoop configuration driver-side reads default to, built
    * once: a fresh `Configuration` reloads its XML resources from the
    * class path, milliseconds per construction. Never written to
    * ([[Projected]] takes its projection per reader). */
  private lazy val driverConf: Configuration = new Configuration()

  /** The files of a directory tree whose names `pick` accepts.
    * Partition directories (`gen=<g>`, `project=<p>`) are walked;
    * underscore/dot-prefixed directories are not. */
  private def files(root: Path)(pick: String => Boolean): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    def walk(dir: Path): Unit =
      Using.resource(Files.list(dir)) { s =>
        s.iterator().asScala.toList.foreach { p =>
          val n = p.getFileName.toString
          if (Files.isDirectory(p)) { if (!n.startsWith("_") && !n.startsWith(".")) walk(p) }
          else if (pick(n)) out += p
        }
      }
    if (Files.isDirectory(root)) walk(root)
    out.result()
  }

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") && name.endsWith(".parquet")

  /** The data files of a parquet directory tree. Underscore/dot-prefixed
    * sidecars, markers, checksum files and [[write]]'s in-progress
    * files are skipped, as Spark's file listing skips them. Empty when
    * `root` is not a directory. */
  def dataFiles(root: Path): Seq[Path] = files(root)(isDataFile)

  /** In-progress files [[write]] left behind when its process died
    * before the rename: `.part-<uuid>.snappy.parquet`. (Spark's
    * checksum files, `.part-….crc`, are not among them.) */
  def tempFiles(root: Path): Seq[Path] =
    files(root)(n => n.startsWith(".part-") && n.endsWith(".parquet"))

  /** `spark.read.parquet(paths: _*)` with the schema resolved on the
    * driver. Spark's inference runs a Spark job on every such read to
    * read one footer, that of the data file first in path order. This
    * reads the same file's footer in the calling thread through
    * Spark's own conversion, under the session's parquet settings, and
    * hands the schema to the reader. Partition columns (`gen=`,
    * `cell=`) are still discovered and appended by Spark. A path is a
    * file or directory tree, local or a `file:` URI (as
    * `input_file_name()` gives it). With no data file under `paths`
    * the read is Spark's own, so a missing or empty path fails as it
    * always did. Every schema-less parquet read of the library goes
    * through here (ParquetReadGuardSpec). */
  def frame(spark: SparkSession, paths: String*): DataFrame = {
    val first = paths.flatMap { path =>
      val root = if (path.startsWith("file:")) Paths.get(java.net.URI.create(path)) else Paths.get(path)
      if (Files.isRegularFile(root)) Seq(root) else files(root)(isDataFile)
    }.minByOption(_.toString)
    first.flatMap(f => FooterSchemaShim.schemaOf(spark, new org.apache.hadoop.fs.Path(f.toUri)))
      .fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
  }

  /** The directory of one partition under `root`: `column=value` per
    * partition column, escaped by Spark's own rule, a NULL or empty
    * value going to Spark's default partition. */
  def partitionDir(root: Path, columns: Seq[String], values: Seq[String]): Path =
    columns.zip(values).foldLeft(root) { case (dir, (c, v)) =>
      dir.resolve(ExternalCatalogUtils.getPartitionPathString(c, v))
    }

  /** Writes `rows` (of `schema`) as ONE new data file in `dir`, as a
    * Spark write of one task would: the columns named in `leaveOut`
    * (the partition columns, which `dir` carries) are left out of the
    * file, the rest are SNAPPY-compressed with footer statistics. The
    * file is written under a dot-prefixed name that no reader lists,
    * then renamed into place atomically as `part-<uuid>.snappy.parquet`,
    * so a reader sees all of its rows or none. Columns are strings,
    * binaries or longs (the types [[graft.store.TableStore]] stores).
    * Returns the new file. */
  def write(dir: Path, schema: StructType, rows: Iterator[Row], conf: Configuration,
            leaveOut: Set[String] = Set.empty): Path = {
    Files.createDirectories(dir)
    val name = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
    val (tmp, dst) = (dir.resolve("." + name), dir.resolve(name))
    try {
      val w = new Writer(new LocalOutputFile(tmp), new RowWrite(schema, leaveOut))
        .withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.CREATE).build()
      try rows.foreach(w.write) finally w.close()
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
  }

  /** Calls `f` on each row of the data files under `root`, streaming:
    * nothing is retained between calls. `columns` projects every file
    * to those of the named columns it has (a column a file lacks is
    * absent from its rows, i.e. NULL). `filter` goes to parquet-mr:
    * row groups and pages whose statistics, dictionaries or column
    * indexes exclude it are never decoded, and rows it rejects are
    * dropped. Partition-directory VALUES are not row fields. */
  def foreach(root: Path, conf: Configuration = driverConf,
              columns: Option[Set[String]] = None,
              filter: FilterCompat.Filter = FilterCompat.NOOP)(f: Group => Unit): Unit =
    dataFiles(root).foreach(readFile(_, conf, columns, filter)(f))

  /** [[foreach]] over one data file. */
  def readFile(p: Path, conf: Configuration, columns: Option[Set[String]],
               filter: FilterCompat.Filter)(f: Group => Unit): Unit = {
    val r = new Reader(inputFile(p, conf), new HadoopParquetConfiguration(conf), columns)
      .withFilter(filter).build()
    try {
      var g = r.read()
      while (g != null) { f(g); g = r.read() }
    } finally r.close()
  }

  /** A list-of-doubles field of a record, as Spark writes an
    * `array<double>` (a LIST group of repeated one-field groups, in the
    * standard and the legacy layout alike). */
  def doubles(g: Group, field: String): Array[Double] = {
    val list = g.getGroup(field, 0)
    Array.tabulate(list.getFieldRepetitionCount(0))(i => list.getGroup(0, i).getDouble(0, 0))
  }

  /** The total row count of `files` from their footers — no Spark
    * job, no column data decoded: microseconds per file, for file lists
    * the caller bounds (a batch, a segment, a just-written rewrite). */
  def rowCount(files: Seq[Path]): Long =
    files.iterator.map { p =>
      Using.resource(ParquetFileReader.open(inputFile(p, driverConf),
        HadoopReadOptions.builder(driverConf).build()))(_.getRecordCount)
    }.sum

  /** The greatest value of the int64 `column` over `files`, from the
    * footers' column statistics; a file with a row group written
    * without them is read instead. None when no file holds a value. */
  def maxLong(files: Seq[Path], column: String, conf: Configuration): Option[Long] =
    files.flatMap { p =>
      val stats = Using.resource(ParquetFileReader.open(inputFile(p, conf),
          HadoopReadOptions.builder(conf).build())) {
        _.getFooter.getBlocks.asScala.toSeq
          .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == column))
          .map(c => Option(c.getStatistics).filterNot(_.isEmpty))
      }
      if (stats.forall(_.isDefined))
        stats.flatten.filter(_.hasNonNullValue)
          .map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue)
      else {
        var max = Option.empty[Long]
        readFile(p, conf, Some(Set(column)), FilterCompat.NOOP) { g =>
          if (g.getFieldRepetitionCount(0) > 0)
            max = Some(max.fold(g.getLong(0, 0))(math.max(_, g.getLong(0, 0))))
        }
        max
      }
    }.maxOption

  private def inputFile(p: Path, conf: Configuration) =
    HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf)

  /** A record writer over the caller's configuration (the reader's
    * reason below holds for writers too). */
  private final class Writer(file: OutputFile, support: RowWrite)
      extends ParquetWriter.Builder[Row, Writer](file) {
    override protected def self(): Writer = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Row] = support
    override protected def getWriteSupport(conf: ParquetConfiguration): WriteSupport[Row] = support
  }

  /** Writes Spark rows of `schema`, less the `leaveOut` columns, in the
    * parquet shape Spark's own writer gives them: strings as UTF-8
    * binaries, non-nullable fields required, and the Spark schema of
    * the written columns in the footer. */
  private final class RowWrite(schema: StructType, leaveOut: Set[String]) extends WriteSupport[Row] {
    private val fields = schema.fields.zipWithIndex.filterNot { case (f, _) => leaveOut(f.name) }
    private val messageType = new MessageType("spark_schema", fields.toSeq.map[Type] { case (f, _) =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      f.dataType match {
        case StringType =>
          Types.primitive(PrimitiveTypeName.BINARY, rep).as(LogicalTypeAnnotation.stringType()).named(f.name)
        case BinaryType => Types.primitive(PrimitiveTypeName.BINARY, rep).named(f.name)
        case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(f.name)
        case t => throw new IllegalArgumentException(s"ParquetRows.write: unsupported type $t of ${f.name}")
      }
    }.asJava)
    private val footer = Map("org.apache.spark.sql.parquet.row.metadata" ->
      StructType(fields.map(_._1)).json).asJava
    private var out: RecordConsumer = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(messageType, footer)
    override def init(conf: ParquetConfiguration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(messageType, footer)
    override def prepareForWrite(c: RecordConsumer): Unit = out = c

    override def write(r: Row): Unit = {
      out.startMessage()
      var i = 0
      while (i < fields.length) {
        val (f, j) = fields(i)
        if (!r.isNullAt(j)) {
          out.startField(f.name, i)
          f.dataType match {
            case StringType => out.addBinary(Binary.fromString(r.getString(j)))
            case BinaryType => out.addBinary(Binary.fromConstantByteArray(r.getAs[Array[Byte]](j)))
            case _ => out.addLong(r.getLong(j))
          }
          out.endField(f.name, i)
        }
        i += 1
      }
      out.endMessage()
    }
  }

  /** A record reader over the caller's configuration. (The public
    * `ParquetReader.builder` first builds a fresh Hadoop
    * `Configuration`, which reloads its XML resources from the class
    * path: milliseconds per file read.) */
  private final class Reader(file: InputFile, conf: ParquetConfiguration,
                             columns: Option[Set[String]])
      extends ParquetReader.Builder[Group](file, conf) {
    override def getReadSupport: ReadSupport[Group] = new Projected(columns)
  }

  /** [[GroupReadSupport]] with the projection given per reader, so a
    * shared Hadoop configuration is never written to. */
  private final class Projected(columns: Option[Set[String]]) extends GroupReadSupport {
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val file = ctx.getFileSchema
      new ReadSupport.ReadContext(columns.fold(file) { c =>
        new MessageType(file.getName, file.getFields.asScala.filter(t => c(t.getName)).asJava)
      })
    }
  }
}
