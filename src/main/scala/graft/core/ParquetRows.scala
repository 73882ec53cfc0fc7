package graft.core

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.{HadoopParquetConfiguration, ParquetConfiguration}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.parquet.schema.MessageType

/** DRIVER-SIDE parquet reads with parquet-mr: no Spark job, no
  * planning, for reads whose size the caller bounds — a diff- or
  * vocab-bounded index sidecar, one partition directory of a
  * [[graft.store.TableStore]] table. A Spark job to read a few rows
  * pays scheduler and listing overhead per call (≈0.09 s/job on the
  * bench's cost fit), where reading them in the driver is
  * microseconds. Single-maintainer layouts only — no writer races the
  * scan. */
object ParquetRows {

  /** The data files of a parquet directory tree. Partition directories
    * (`gen=<g>`, `project=<p>`) are walked; underscore/dot-prefixed
    * sidecars, markers and checksum files are skipped, as Spark's file
    * listing skips them. Empty when `root` is not a directory. */
  def dataFiles(root: Path): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    def walk(dir: Path): Unit =
      Using.resource(Files.list(dir)) { s =>
        s.iterator().asScala.toList.foreach { p =>
          val n = p.getFileName.toString
          if (!n.startsWith("_") && !n.startsWith(".")) {
            if (Files.isDirectory(p)) walk(p)
            else if (n.endsWith(".parquet")) out += p
          }
        }
      }
    if (Files.isDirectory(root)) walk(root)
    out.result()
  }

  /** Calls `f` on each row of the data files under `root`, streaming:
    * nothing is retained between calls. `columns` projects every file
    * to those of the named columns it has (a column a file lacks is
    * absent from its rows, i.e. NULL). `filter` goes to parquet-mr:
    * row groups and pages whose statistics, dictionaries or column
    * indexes exclude it are never decoded, and rows it rejects are
    * dropped. Partition-directory VALUES are not row fields. */
  def foreach(root: Path, conf: Configuration = new Configuration(),
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
