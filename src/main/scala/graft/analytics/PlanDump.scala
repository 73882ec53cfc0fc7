package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetRows

/** Dev harness for the r17 optimization receipts: write
  * `.explain("formatted")` for every declared query the round touched
  * (the frame the driver contract returns) plus the INTERNAL plan
  * shapes the optimizations changed (live-view anti-join build side,
  * stored-probe broadcast side, recompute-id materialization) to
  * per-name text files. Run once on the pre-optimization commit and
  * once on HEAD to produce `plans/r17/<name>_{before,after}.txt`.
  *
  * Usage: runMain graft.analytics.PlanDump <outDir> [sfDir]
  */
object PlanDump {
  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    java.nio.file.Files.createDirectories(outDir)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def dump(name: String)(mk: => DataFrame): Unit = {
      val body = try fmt(mk) catch {
        case e: Throwable => s"<error: ${e.getClass.getSimpleName}: ${e.getMessage}>"
      }
      java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), body)
      System.out.println(s"[plandump] $name")
    }

    // the declared queries the round touched: the dumped plan is the
    // frame the driver contract returns (chain gates materialize
    // eagerly, so their plan is the bounded result relation — the
    // interesting shapes are the internal dumps below)
    val touched = Seq(
      "s09_ivf_stored", "s13_filtered_ivf_stored", "s14_ivf_pq_stored",
      "st15_stream_vec_query", "p08_incremental_index",
      "p10_incremental_postings", "p11_incremental_pq_index",
      "p12_nightly_pipeline", "p13_multi_epoch_postings",
      "p14_multi_epoch_pq", "p15_multi_epoch_ivf",
      "st23_stream_postings", "st25_stream_pq_maintain",
      "st26_stream_knn_maintain", "g07_incremental_knn",
      "g08_multi_epoch_knn", "m04_image_dups",
      // r18 additions: the iterative graph gates (co-partitioned
      // iterations) — their declared frames are lazy, so the full
      // iteration chain IS the dumped plan
      "g01_knn_pagerank", "g02_ppr_retrieval", "g05_lpa_communities")
    touched.foreach { n =>
      dump(n)(graft.SparkEntry.queries(n)(spark, dir))
    }

    // r18 internal shapes: the iteration engines raw (tail iterations
    // after the last checkpoint cut — count the Exchange nodes per
    // iteration), and the one-pass postings batch tokenize
    locally {
      val e = Similarity.knnEdges(spark, dir)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      dump("internal_pagerank_ranks")(Graph.pagerank(e))
      dump("internal_lpa_labels")(Graph.labelPropagation(e))
    }

    // internal shapes (identical construction on both commits)
    val t = graft.core.TempDirs.create("graft-plandump")
    import spark.implicits._

    // 1. segmented-store live view: the tombstone anti-join build side
    val store = t.resolve("store").toString
    graft.core.SegmentedIndex.appendSegment(
      (1L to 100L).map(i => (i, i * 2.0)).toDF("vec_id", "x"), store, 0L)
    graft.core.SegmentedIndex.tombstone(
      (1L to 10L).toDF("vec_id"), store, "vec_id", 0L)
    dump("internal_live_view")(graft.core.SegmentedIndex.live(
      spark, ParquetRows.frame(spark, store), store,
      keyCol = "vec_id", genCol = "gen"))
    dump("internal_live_as_of")(graft.core.SegmentedIndex.liveAsOf(
      spark, ParquetRows.frame(spark, store), store,
      keyCol = "vec_id", genCol = "gen", asOfGen = 1L))

    // 2. stored IVF probe: the scored join's broadcast (probe) side
    val ivf = t.resolve("ivf").toString
    Similarity.writeIvfCorpus(spark, dir, ivf)
    val stored = ParquetRows.frame(spark, ivf)
    val queries = stored.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
    dump("internal_ivf_stored_topk")(
      Similarity.ivfStoredTopK(spark, ivf, queries, k = 10))
    // the same probe once the layout has tombstones: the live view
    // over the file-name generations
    Similarity.deleteFromIvfCorpus(spark, ivf, Seq(0L, 100L).toDF("vec_id"), uptoGen = 0L)
    dump("internal_ivf_stored_topk_tombstoned")(
      Similarity.ivfStoredTopK(spark, ivf, queries, k = 10))

    // 3. kNN recompute-id set, materialized (the production path) and
    //    lazy (the PlanSpec contract)
    val a = Dedup.normalizedVectors(spark, dir)
    val b = Graph.vectorSnapshotB(a)
    val edgesA = Similarity.s05KnnGraph(spark, dir)
      .select(col("vec_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
    dump("internal_knn_recompute_ids_materialized")(
      Graph.knnRecomputeIds(a, edgesA, b,
        Graph.g07DirtyOld(a), Graph.g07NewIds(b)))

    spark.stop()
  }
}
