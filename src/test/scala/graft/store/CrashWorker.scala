package graft.store

import java.nio.file.Paths

import org.apache.spark.sql.Row

import graft.core.ParquetRows

/** Forked-JVM worker for the interrupted-write proof: starts a
  * driver-side write of one menu row into the partition directory
  * `args(0)` and halts the JVM while the write's temp file is open,
  * before its rename — a process killed mid-flush. */
object CrashWorker {
  /** The exit status of a worker that reached the halt. */
  val Halted = 3

  def main(args: Array[String]): Unit = {
    val t = TableStore.table("menu")
    val row = Row.fromSeq(Seq("p", "e", """{"v": 2}""", null, System.currentTimeMillis(), Long.MaxValue - 1, "put"))
    val rows = Iterator(row) ++ new Iterator[Row] {
      def hasNext: Boolean = { Runtime.getRuntime.halt(Halted); false }
      def next(): Row = throw new NoSuchElementException
    }
    ParquetRows.write(Paths.get(args(0)), t.schema, rows, new org.apache.hadoop.conf.Configuration(),
      t.partitionCols.toSet)
  }
}
