package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** Physical-layout contract for the sqlite-analogue backend: the
  * append log is directory-partitioned on (project, experiment), so a
  * point read filtered on those keys must prune to one partition
  * subtree — the property that keeps point gets O(asset) instead of
  * O(store) when the catalog holds millions of assets.
  */
class TablePruningSpec extends AnyFunSuite {

  test("point-read filters become partition pruning on the menu log") {
    val spark = SparkTestSession.spark
    val db = new TableStore(spark, graft.core.TempDirs.create("graft-prune").toString)
    try {
      for (p <- Seq("p1", "p2", "p3"); e <- Seq("e1", "e2"))
        db.putMenu(s"""{"p": "$p", "e": "$e"}""", p, e)
      db.flushAll()

      val df = db.readTable(TableStore.table("menu")).get
        .filter(col("project") === "p2" && col("experiment") === "e1")
      val plan = df.queryExecution.executedPlan.toString

      // the key predicates must land in PartitionFilters (directory
      // pruning), not in the row-level data filter
      val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(plan)
        .getOrElse(fail(s"no PartitionFilters in scan:\n$plan"))
      assert(pf.contains("project") && pf.contains("experiment"),
        s"point-read keys not pruned at the directory level: $pf")

      // and pruning is effective: the scan reads 1 of 6 partitions
      val files = df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.partitionCount
      }
      assert(files == Seq(1), s"expected exactly one partition scanned, got $files")
    } finally db.close()
  }

  test("partition pruning survives compaction") {
    val spark = SparkTestSession.spark
    val db = new TableStore(spark, graft.core.TempDirs.create("graft-prune2").toString)
    try {
      // an append-heavy history: 4 superseding versions per key
      for (v <- 1 to 4; p <- Seq("p1", "p2", "p3"); e <- Seq("e1", "e2"))
        db.putMenu(s"""{"p": "$p", "e": "$e", "v": $v}""", p, e)
      db.flushAll()
      db.compact("menu")

      // contents: newest version per key survives
      assert(db.getMenu("p2", "e1") ==
        graft.core.AssetValue.Json("""{"p": "p2", "e": "e1", "v": 4}"""))

      // layout: the compacted rewrite is still directory-partitioned,
      // so the point read scans 1 of 6 partitions
      val df = db.readTable(TableStore.table("menu")).get
        .filter(col("project") === "p2" && col("experiment") === "e1")
      val files = df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.partitionCount
      }
      assert(files == Seq(1),
        s"compaction lost the partitioned layout: scanned $files of 6 partitions")
    } finally db.close()
  }
}
