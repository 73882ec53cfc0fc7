package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in the library resolves its schema without a
  * Spark job: a `read ... .parquet(` chain in `src/main/scala` either
  * passes `.schema(` or is on the allow-list below. A new schema-less
  * read, which would bring back one inference job per call, fails here
  * with its file and line; [[ParquetRows.frame]] is the read to use.
  * And every driver-side parquet read goes through [[ParquetRows]]:
  * no other file opens a parquet-mr reader or builds a fresh Hadoop
  * `Configuration` (which reloads its XML resources per construction). */
class ParquetReadGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (file under `root`, read chain) pairs allowed to infer: the
    * helper's own fallback for a path with no data file, where Spark's
    * error is the point. */
  private val allowed = Set("graft/core/ParquetRows.scala" -> "spark.read.parquet(")

  /** A `.read` (not `.readStream`) chain ending in `.parquet(`, with
    * any calls between them, across lines. */
  private val readChain =
    """[\w.]*\.read\b(?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*\s*\.\s*parquet\(""".r

  /** `text` with its comments blanked, line numbers kept. */
  private def code(text: String): String = {
    val blocks = """(?s)/\*.*?\*/""".r.replaceAllIn(text,
      m => Regex.quoteReplacement("\n" * m.matched.count(_ == '\n')))
    """(?m)(^|\s)//.*$""".r.replaceAllIn(blocks, m => Regex.quoteReplacement(m.group(1)))
  }

  private def sources: Seq[(String, String)] =
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => (root.relativize(p).toString, code(Files.readString(p))))

  test("no parquet-mr reader or fresh Configuration in src/main/scala outside ParquetRows") {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val driverRead =
      """\b(ParquetFileReader|ParquetReader|HadoopInputFile)\b|\bnew\s+(org\.apache\.hadoop\.conf\.)?Configuration\s*\(""".r
    val (owner, others) = sources.partition(_._1 == "graft/core/ParquetRows.scala")
    assert(owner.exists(o => driverRead.findFirstIn(o._2).isDefined),
      "the scan matched nothing in ParquetRows itself")
    val offending = others.flatMap { case (f, text) =>
      driverRead.findAllMatchIn(text).map(m =>
        s"  $f:${text.substring(0, m.start).count(_ == '\n') + 1}  ${m.matched}")
    }
    assert(offending.isEmpty, "driver-side parquet reads outside ParquetRows:\n" +
      offending.mkString("\n"))
  }

  test("no schema-less parquet read in src/main/scala but the allow-list") {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val reads = sources.flatMap { case (f, text) =>
      readChain.findAllMatchIn(text).map { m =>
        (f, text.substring(0, m.start).count(_ == '\n') + 1, m.matched.replaceAll("\\s+", ""))
      }
    }
    assert(reads.exists(_._3.contains(".schema(")), "the scan matched no schema-passing read")
    val inferring = reads.filterNot(_._3.contains(".schema("))
    val offending = inferring.filterNot(r => allowed((r._1, r._3)))
    assert(offending.isEmpty, "schema-less parquet reads (use ParquetRows.frame):\n" +
      offending.map { case (f, l, c) => s"  $f:$l  $c" }.mkString("\n"))
    val stale = allowed -- inferring.map(r => (r._1, r._3))
    assert(stale.isEmpty, s"allow-list entries with no such read left: $stale")
  }
}
