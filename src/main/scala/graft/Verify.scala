package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core.ParquetRows

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset for local iteration]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark 4's per-query checkpoint-checksum pool never shuts down
      // (see EventStream.boundedDriveSession) — this covers any stream
      // started on the root session or a non-drive clone
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // only release blocks THIS query created (Bench's pre-snapshot
      // rule): a cross-query RDD-backed artifact must keep its data
      val preIds = spark.sparkContext.getPersistentRDDs.keySet
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Bench.afterGate(spark, preIds)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Differential invariants for rows-only gates — semantic checks the
    // DuckDB oracle can't express (hash functions, k-means, ANN tiers),
    // computed from the dumped results themselves so the rows-only rows
    // in the correctness report carry weight without a spec run:
    //  - s09_eq_s03: the cell-partitioned stored-corpus probe must equal
    //    the in-memory IVF path exactly;
    //  - d07_subset_d04: LSH candidate pairs are a subset of the exact
    //    cosine pairs (same threshold);
    //  - *_recall: micro-averaged recall of each ANN tier against its
    //    exact baseline (floors asserted in SimilaritySpec: s03 ≥ 0.6,
    //    s02 ≥ 0.3, s04 ≥ 0.5, s06 ≥ 0.5).
    import org.apache.spark.sql.functions.col
    def read(name: String) = ParquetRows.frame(spark, s"$outDir/$name")
    def recall(approx: String, exact: String, idCol: String): Double = {
      val ex = read(exact).select(col(idCol).as("q"), col("neighbor_id"))
      val hits = ex.join(read(approx).select(col(idCol).as("q"), col("neighbor_id")),
        Seq("q", "neighbor_id"), "left_semi").count().toDouble
      math.floor(hits / ex.count() * 10000 + 0.5) / 10000
    }
    // Each invariant evaluates in ISOLATION: a failing computation
    // reports as that invariant's own quoted error string instead of
    // zeroing the whole block — the list has grown past twenty checks
    // and the blast radius of one bad dump must stay one line.
    def inv(name: String)(body: => Any): (String, String) =
      name -> (try body.toString catch { case e: Throwable =>
        System.err.println(s"[verify] invariant $name failed: ${e.getMessage}")
        q("error: " + String.valueOf(e.getMessage))
      })
    def eqDumps0(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame): Boolean =
      a.count() == b.count() && a.count() > 0 &&
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    def eqDumps(aName: String, b: => org.apache.spark.sql.DataFrame): Boolean =
      eqDumps0(read(aName), b)
    // a multi-epoch chain gate (g08/p14/p15/m13): every epoch must
    // equal its from-scratch rebuild (the eq_rebuild column IS the
    // per-epoch pin, computed inside the gate against the live store),
    // and the policy compaction must have FIRED mid-chain (the diffs
    // are sized to cross the covered-fraction threshold)
    def chainInvariants(p: String, gate: String): Seq[(String, String)] = Seq(
      inv(s"${p}_eq_every_epoch") {
        val rs = read(gate).collect()
        rs.length == graft.analytics.Pipeline.ChainEpochs &&
          rs.forall(_.getAs[Boolean]("eq_rebuild"))
      },
      inv(s"${p}_compaction_fired") {
        read(gate).collect().exists(_.getAs[Boolean]("compacted"))
      })
    import org.apache.spark.sql.functions.{count, explode, lit, lower, split, trim}
    // shared single-node fixtures (lazy: computed once on first use;
    // a failure surfaces in each dependent invariant, not globally)
    lazy val vocab = graft.analytics.Tables.documents(spark, sfDir)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(lower(col("tok")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    lazy val srcWord = graft.analytics.Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("source"), lower(col("tok")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    lazy val exactCounts = graft.analytics.Tables.documents(spark, sfDir)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // derived from the gate's own k so invariant and gate can't drift
    lazy val mgErr = exactCounts.values.sum / (graft.analytics.TextOps.HeavyHittersK + 1)
    def mgGuarantee(sketch: Map[String, Long]): Boolean =
      exactCounts.filter(_._2 > mgErr).keys.forall(sketch.contains) &&
        sketch.forall { case (tok, est) =>
          val t = exactCounts.getOrElse(tok, 0L)
          est <= t && t <= est + mgErr
        } && sketch.size <= graft.analytics.TextOps.HeavyHittersK
    lazy val wantMerges = graft.analytics.BpeTrain
      .referenceMerges(vocab, graft.analytics.BpeTrain.NumMerges)
      .map { case (r, a, b, c) => (r.toLong, a, b, c) }
    lazy val wantT33 = graft.analytics.UnigramTrain.referenceVocab(vocab)
    lazy val knnEdges = read("s05_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    def topRanks(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        .sortBy { case (id, r) => (-r, id) }
    def refRanks(seeds: Option[Seq[Long]]): Seq[(Long, Double)] =
      graft.analytics.Graph.referencePagerank(knnEdges, seeds = seeds)
        .toSeq.map { case (id, r) => (id, graft.analytics.Det.droundD(r, 8)) }
        .sortBy { case (id, r) => (-r, id) }
        .take(graft.analytics.Graph.TopN)
    // per-source encode stats from per-word encoded lengths — the
    // shared t29/t34 single-node shape
    // multimodal fixtures: the planted corpora are deterministic
    // functions of doc_id, so every spec-pinned structure (frame
    // sampling, byte conservation, pattern groups, gain collapse,
    // trim/re-edit containment, shot layout) is recomputable here and
    // machine-checkable against the dumps — the m-family analogue of
    // the g-gates' single-node parity
    lazy val docIdsAll = graft.analytics.Tables.documents(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    lazy val blobPayloads = graft.analytics.Multimodal.blobTable(spark, sfDir)
      .select(col("source"), col("payload")).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toSeq
    def encodeStats(encLen: Map[String, Long]): Seq[(String, Long, Long, Double, Double)] =
      srcWord.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, rows) =>
        val nWords = rows.map(_._3).sum
        val nSym = rows.map(r => r._3 * encLen(r._2)).sum
        val nChars = rows.map(r => r._3 * r._2.length).sum
        (src, nWords, nSym,
          graft.analytics.Det.droundD(nSym.toDouble / nWords, 4),
          graft.analytics.Det.droundD(nChars.toDouble / nSym, 4))
      }
    val invariants: Seq[(String, String)] =
      if (only.isDefined) Seq.empty
      else Seq(
        // the cell-partitioned stored-corpus probe must equal the
        // in-memory IVF path exactly
        inv("s09_eq_s03") { eqDumps("s09_ivf_stored", read("s03_ann_ivf")) },
        // LSH candidate pairs ⊆ exact cosine pairs (same threshold)
        inv("d07_subset_d04") {
          read("d07_embedding_lsh_pairs").select("i", "j")
            .join(read("d04_embedding_neardup").select("i", "j"),
              Seq("i", "j"), "left_anti").isEmpty
        },
        // micro-averaged recall of each ANN tier vs its exact baseline
        // (floors asserted in SimilaritySpec)
        inv("s02_recall10") { recall("s02_ann_lsh", "s01_ann_bruteforce", "query_id") },
        inv("s03_recall10") { recall("s03_ann_ivf", "s01_ann_bruteforce", "query_id") },
        inv("s04_recall10") { recall("s04_ann_ivfpq", "s01_ann_bruteforce", "query_id") },
        inv("s06_recall5") { recall("s06_knn_graph_ivf", "s05_knn_graph", "vec_id") },
        // half-corpus codebook + appended other half: the grown layout
        // must still retrieve like an IVF index
        inv("s11_recall10") { recall("s11_ivf_append", "s01_ann_bruteforce", "query_id") },
        // stored filtered probe vs the exact filtered baseline
        inv("s13_recall10") { recall("s13_filtered_ivf_stored", "s12_filtered_ann", "query_id") },
        // the PQ-coded stored index shares s04's exact fit paths and
        // parameters → must equal the in-memory IVF-PQ result exactly
        inv("s14_eq_s04") { eqDumps("s14_ivf_pq_stored", read("s04_ann_ivfpq")) },
        inv("s14_recall10") { recall("s14_ivf_pq_stored", "s01_ann_bruteforce", "query_id") },
        // int8-dequantized exact ranking vs the f64 ranking: the 8×
        // compression must barely move retrieval (floor in
        // SimilaritySpec ≥ 0.9)
        inv("s18_recall10") { recall("s18_int8_topk", "s01_ann_bruteforce", "query_id") },
        // s15: the distributed projection's per-axis variance must
        // reproduce the eigensolve's eigenvalues (PCA identity), and
        // captured-variance fractions accumulate monotonically
        inv("s15_proj_var_eq_eig") {
          val rows = read("s15_pca_reduce").collect()
            .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(3),
              r.getDouble(4), r.getDouble(5))).sortBy(_._1)
          val tie = rows.forall { case (_, eig, _, pm, pv) =>
            math.abs(eig - pv) <= 2e-4 && math.abs(pm) <= 1e-4 }
          val cum = rows.map(_._3)
          tie && cum.sameElements(cum.sorted) && cum.last <= 1.0001
        },
        // streamed query probe shares s09's layout/parameters/queries
        // and each query probes independently → microbatch union ==
        // the in-memory IVF path exactly
        inv("st15_eq_s03") { eqDumps("st15_stream_vec_query", read("s03_ann_ivf")) },
        // g01/g02: PageRank (uniform + query-seeded) over the dumped
        // s05 edge list, re-run single-node with bit-identical
        // arithmetic — exact parity
        inv("g01_parity_singlenode") {
          val got = topRanks(read("g01_knn_pagerank"))
          got.nonEmpty && got == refRanks(None)
        },
        inv("g03_parity_singlenode") {
          val ref = graft.analytics.Graph.referenceClusteringCoeff(knnEdges)
            .toSeq.map { case (id, (d, t, c)) => (id, d, t, c) }
            .sortBy { case (id, _, _, c) => (-c, id) }
            .take(graft.analytics.Graph.TopN)
          val got = read("g03_clustering_coeff").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
          got.nonEmpty && got == ref
        },
        inv("g04_parity_singlenode") {
          val ref = graft.analytics.Graph
            .referenceKCore(knnEdges, graft.analytics.Graph.CoreK)
            .toSeq.sortBy { case (id, d) => (-d, id) }
            .take(graft.analytics.Graph.TopN)
          val got = read("g04_kcore").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq
          got.nonEmpty && got == ref
        },
        // incremental index maintenance (tombstone → compact → append)
        // must equal a full rebuild of the new snapshot under the same
        // quantizer, row for row
        inv("p08_eq_fullrebuild") {
          eqDumps("p08_incremental_index",
            graft.analytics.Pipeline.p08FullRebuildProbe(spark, sfDir))
        },
        // p11: the PQ-coded index's maintenance loop must equal a full
        // PQ rebuild of snapshot B under the same quantizers
        inv("p11_eq_fullrebuild") {
          eqDumps("p11_incremental_pq_index",
            graft.analytics.Pipeline.p11FullRebuildProbe(spark, sfDir))
        },
        // st25: the streamed PQ maintainer must land exactly where the
        // batch loop lands (and transitively equal the full rebuild)
        inv("st25_eq_p11") {
          eqDumps("st25_stream_pq_maintain", read("p11_incremental_pq_index"))
        },
        // t41: the quantile sketch's rank guarantee, tie-safe and valid
        // under any partition/merge order — for each reported quantile,
        // fraction(< q) ≤ p + ε and fraction(≤ q) ≥ p − ε with
        // ε = 1/accuracy (max violation across all (lang, p) rows;
        // 0.0 = every sketched quantile inside its band)
        inv("t41_max_rank_err") {
          val eps = 1.0 / graft.analytics.TextOps.T41Accuracy
          val byLang = graft.analytics.Tables.documents(spark, sfDir)
            .select(col("lang"),
              org.apache.spark.sql.functions.size(
                split(trim(col("text")), "\\s+")).cast("long").as("n"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
            .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
          val errs = read("t41_quantile_sketch").collect().map { r =>
            val (lang, p, q) = (r.getString(0), r.getDouble(2), r.getLong(3))
            val ns = byLang(lang)
            val fracLt = ns.count(_ < q).toDouble / ns.length
            val fracLe = ns.count(_ <= q).toDouble / ns.length
            math.max(math.max(fracLt - p - eps, p - eps - fracLe), 0.0)
          }
          math.floor(errs.max * 1e6 + 0.5) / 1e6
        },
        // p12: the nightly composition's per-family digests must equal
        // the standalone gates' dumps — ONE CDC application driving
        // all five maintained families + quality lands each family
        // exactly where its own gate lands
        inv("p12_families_eq_standalone") {
          val standalone = Map(
            "g07_knn" -> "g07_incremental_knn",
            "m12_images" -> "m12_image_index_maintenance",
            "p07_quality" -> "p07_incremental_quality",
            "p08_ivf" -> "p08_incremental_index",
            "p10_postings" -> "p10_incremental_postings",
            "p11_pq" -> "p11_incremental_pq_index")
          val got = read("p12_nightly_pipeline").collect()
            .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
          got.keySet == standalone.keySet && got.forall { case (fam, digest) =>
            digest._1 > 0 &&
              digest == graft.analytics.Pipeline.familyDigest(read(standalone(fam)))
          }
        },
        // st26: the streamed kNN maintainer's final graph must land
        // exactly where g07's batch loop lands (and transitively equal
        // the full rebuild of snapshot B)
        inv("st26_eq_g07") {
          eqDumps("st26_stream_knn_maintain", read("g07_incremental_knn"))
        },
        // g07: diff-driven maintenance of the kNN-edge artifact must
        // equal a from-scratch rebuild of snapshot B, row for row
        inv("g07_eq_fullrebuild") {
          eqDumps("g07_incremental_knn",
            graft.analytics.Graph.g07FullRebuildProbe(spark, sfDir))
        },
        // g07 write-back: the STORED artifact the gate swapped into
        // place (read back off disk here, independently of the dump)
        // must also equal the rebuild — pins that persistence, not
        // just the returned frame, survived the two-rename swap
        inv("g07_store_eq_rebuild") {
          eqDumps0(graft.analytics.Graph.g07StoredEdges(spark, sfDir),
            graft.analytics.Graph.g07FullRebuildProbe(spark, sfDir))
        },
      ) ++ Seq("g08" -> "g08_multi_epoch_knn", "p14" -> "p14_multi_epoch_pq",
          "p15" -> "p15_multi_epoch_ivf", "m13" -> "m13_multi_epoch_images")
        .flatMap { case (p, gate) => chainInvariants(p, gate) } ++ Seq(
        inv("g05_parity_singlenode") {
          val lpaEdges = read("s05_knn_graph")
            .filter(col("cos_sim") >= graft.analytics.Graph.LpaCosMin)
            .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
          val labels = graft.analytics.Graph.referenceLabelPropagation(lpaEdges)
          val ref = labels.groupBy(_._2).toSeq
            .map { case (c, ms) => (c, ms.size.toLong, ms.keys.min) }
            .sortBy { case (c, n, _) => (-n, c) }
            .take(graft.analytics.Graph.TopN)
          val got = read("g05_lpa_communities").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
          got.nonEmpty && got == ref
        },
        inv("g02_parity_singlenode") {
          val seeds = read("s01_ann_bruteforce")
            .select("query_id").distinct().collect()
            .map(_.getLong(0)).toSeq.sorted
          val got = topRanks(read("g02_ppr_retrieval")
            .select("vec_id", "rank"))
          got.nonEmpty && got == refRanks(Some(seeds))
        },
        // s16: MMR's first pick is the relevance argmax → its rank-1
        // rows equal s01's rank-1 rows exactly
        inv("s16_first_eq_s01_top1") {
          eqDumps0(
            read("s16_mmr_rerank").filter(col("rnk") === 1)
              .select("query_id", "neighbor_id"),
            read("s01_ann_bruteforce").filter(col("rnk") === 1)
              .select("query_id", "neighbor_id"))
        },
        // st16: streamed per-source quality rollup == the batch scorer
        // under the same persisted artifact (the serving half of t28)
        inv("st16_eq_batch") {
          eqDumps("st16_stream_quality",
            graft.analytics.StreamingQueries.qualityBatch(spark, sfDir))
        },
        // t31/st17: the Misra–Gries guarantee vs exact token counts —
        // every token above N/(k+1) present, estimates within
        // [true − N/(k+1), true]; contents may differ between the
        // batch and streamed summaries (merge order), the bound may not
        inv("t31_mg_guarantee") {
          mgGuarantee(read("t31_heavy_hitters").collect()
            .map(r => (r.getString(1), r.getLong(2))).toMap)
        },
        inv("st17_mg_guarantee") {
          mgGuarantee(read("st17_stream_heavy_hitters").collect()
            .map(r => (r.getString(0), r.getLong(1))).toMap)
        },
        // t27/t29/t33/t34: distributed tokenizer train + encode (both
        // families) equal single-node re-runs from the same fixture,
        // exactly (order included)
        inv("t27_parity_singlenode") {
          val got = read("t27_bpe_merges").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
            .toSeq.sortBy(_._1)
          got == wantMerges
        },
        inv("t29_parity_singlenode") {
          val ranksMap = wantMerges.map { case (r, a, b, _) => (a, b) -> r.toInt }.toMap
          val encLen = srcWord.map(_._2).distinct
            .map(w => w -> graft.analytics.BpeTrain.encodeWord(w, ranksMap).length.toLong)
            .toMap
          val gotT29 = read("t29_bpe_encode").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getDouble(3), r.getDouble(4))).toSeq.sortBy(_._1)
          gotT29 == encodeStats(encLen)
        },
        inv("t33_parity_singlenode") {
          val gotT33 = read("t33_unigram_vocab").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
            .toSeq.sortBy(_._1)
          gotT33 == wantT33
        },
        inv("t34_parity_singlenode") {
          val uniLogp = wantT33.map { case (_, p, _, lp) => p -> lp }.toMap
          val uniLen = srcWord.map(_._2).distinct
            .map(w => w -> graft.analytics.UnigramTrain
              .viterbi(w, uniLogp, graft.analytics.UnigramTrain.SeedMaxLen).length.toLong)
            .toMap
          val gotT34 = read("t34_unigram_encode").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getDouble(3), r.getDouble(4))).toSeq.sortBy(_._1)
          gotT34 == encodeStats(uniLen)
        },
        // t28: full-batch GD loss curve strictly descends; final train
        // accuracy reported
        inv("t28_loss_decreasing") {
          val t28 = read("t28_quality_classifier").collect()
            .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
          t28.sliding(2).forall(p => p(1)._2 < p(0)._2)
        },
        inv("t28_final_acc") {
          read("t28_quality_classifier").collect()
            .map(r => (r.getLong(0), r.getDouble(2))).maxBy(_._1)._2
        },
        // q39: unioning the stored per-day HLL sketches must agree
        // with the one-pass whole-range sketch at the ESTIMATE level
        // (the register merge is information-preserving; only the
        // estimator mode can differ), and sit near the exact distinct
        inv("q39_hll_merge_close") {
          val rows = read("q39_hll_state").collect()
          rows.nonEmpty && rows.forall { r =>
            math.abs(r.getLong(3) - r.getLong(4)).toDouble /
              math.max(1.0, r.getLong(2).toDouble) <= 0.02
          }
        },
        // st21: the streamed HLL state must report exactly what q39's
        // batch-stored state reports — register-max merge is
        // commutative/associative, so slicing cannot move it
        inv("st21_eq_q39") { eqDumps("st21_stream_hll_state", read("q39_hll_state")) },
        inv("q39_hll_max_rel_err") {
          val errs = read("q39_hll_state").collect().map { r =>
            math.abs(r.getLong(3) - r.getLong(2)).toDouble /
              math.max(1.0, r.getLong(2).toDouble)
          }
          math.floor(errs.max * 10000 + 0.5) / 10000
        },
        // q21/q25: the gates emit approx and exact side by side — the
        // driver-visible number is the worst relative error across all
        // rows and both sketch columns (floors asserted in ApproxSpec)
        inv("q21_max_rel_err") {
          val errs = read("q21_approx_distinct").collect().flatMap { r =>
            Seq(math.abs(r.getLong(1) - r.getLong(2)).toDouble / math.max(1L, r.getLong(2)),
                math.abs(r.getLong(3) - r.getLong(4)).toDouble / math.max(1L, r.getLong(4)))
          }
          math.floor(errs.max * 10000 + 0.5) / 10000
        },
        inv("q25_max_rel_err") {
          val errs = read("q25_approx_percentiles").collect().flatMap { r =>
            Seq(math.abs(r.getDouble(1) - r.getDouble(2)) / math.max(1e-9, r.getDouble(2)),
                math.abs(r.getDouble(3) - r.getDouble(4)) / math.max(1e-9, r.getDouble(4)))
          }
          math.floor(errs.max * 10000 + 0.5) / 10000
        },
        // d02: banding recall and precision of the MinHash tier against
        // the exact n-gram Jaccard pairs (d01, itself oracle-checked)
        inv("d02_pair_recall") {
          val exact = read("d01_ngram_jaccard_pairs").select("i", "j")
          val n = exact.count()
          require(n > 0, "d01 dump is empty — recall is undefined")
          val hits = exact.join(read("d02_minhash_pairs").select("i", "j"),
            Seq("i", "j"), "left_semi").count().toDouble
          math.floor(hits / n * 10000 + 0.5) / 10000
        },
        inv("d02_pair_precision") {
          val got = read("d02_minhash_pairs").select("i", "j")
          val n = got.count()
          require(n > 0, "d02 dump is empty — precision is undefined")
          val hits = got.join(read("d01_ngram_jaccard_pairs").select("i", "j"),
            Seq("i", "j"), "left_semi").count().toDouble
          math.floor(hits / n * 10000 + 0.5) / 10000
        },
        // st07: the streamed near-dup bucket state's rollup equals the
        // batch twin exactly (count/min are commutative)
        inv("st07_eq_batch") {
          eqDumps("st07_stream_neardup",
            graft.analytics.StreamingQueries.st07BatchTwin(spark, sfDir))
        },
        // s07/s08: the k-means assignments PARTITION the corpus — cell
        // counts sum to the vector count, within the codebook size
        inv("s07_partition_complete") {
          val rows = read("s07_cluster_stats").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          val nVecs = graft.analytics.Tables.embeddings(spark, sfDir).count()
          rows.nonEmpty && rows.map(_._2).sum == nVecs &&
            rows.length <= 16 && rows.forall(r => r._1 >= 0 && r._1 < 16)
        },
        inv("s08_partition_complete") {
          val rows = read("s08_kmeans_clusters").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          val nVecs = graft.analytics.Tables.embeddings(spark, sfDir).count()
          rows.nonEmpty && rows.map(_._2).sum == nVecs &&
            rows.length <= 16 && rows.forall(r => r._1 >= 0 && r._1 < 16)
        },
        // m02: per-source frame counts + mean feature re-derived
        // single-node from the same payload bytes (the byte-window
        // sampling contract) — counts exact, the rounded avg within
        // its own 2-decimal grid
        inv("m02_parity_singlenode") {
          val feats = blobPayloads.flatMap { case (src, bytes) =>
            val n = (bytes.length + 63) / 64 // 0 frames for an empty payload (gate ∧ oracle convention)
            (0 until n).map { f =>
              val from = f * 64
              val until = math.min(bytes.length, from + 64)
              val mean = bytes.slice(from, until)
                .map(b => (b & 0xFF).toLong).sum.toDouble / (until - from)
              // Det half-up — the gate's (and the new oracle's) rounding
              (src, graft.analytics.Det.droundD(mean, 2))
            }
          }
          val want = feats.groupBy(_._1).view
            .mapValues(fs => (fs.size.toLong, fs.map(_._2).sum / fs.size)).toMap
          val got = read("m02_frame_stats").collect()
            .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
          got.nonEmpty && got.keySet == want.keySet && got.forall {
            case (s, (n, avg)) =>
              n == want(s)._1 && math.abs(avg - want(s)._2) <= 0.0051
          }
        },
        // m03: the resize conserves counts and bytes — per source,
        // blob count, total original bytes, and the every-8th-byte
        // thumb total must equal the payload-length arithmetic exactly
        inv("m03_bytes_conserved") {
          val want = blobPayloads.groupBy(_._1).view.mapValues { bs =>
            (bs.size.toLong, bs.map(_._2.length.toLong).sum,
              bs.map(b => ((b._2.length + 7) / 8).toLong).sum)
          }.toMap
          val got = read("m03_resize_stats").collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
          got.nonEmpty && got == want
        },
        // m04: the synthetic corpus plants one PNG pattern per
        // doc_id % 10 — the decode→aHash→group pipeline must recover
        // exactly those groups (min id, member count)
        inv("m04_pattern_groups") {
          val want = docIdsAll.groupBy(_ % 10).values
            .map(ds => (ds.min, ds.size.toLong)).toSeq.sortBy(_._1)
          val got = read("m04_image_dups").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
          got.nonEmpty && got == want
        },
        // m05: waveform pattern per doc_id % 8, amplified by a per-doc
        // gain — the energy-contour hash must collapse gain variants
        // into exactly the 8 planted groups
        inv("m05_gain_collapse") {
          val want = docIdsAll.groupBy(_ % 8).values
            .map(ds => (ds.min, ds.size.toLong)).toSeq.sortBy(_._1)
          val got = read("m05_audio_dups").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
          got.nonEmpty && got == want
        },
        // m06: the planted base/trim/re-edit triads fix every pair's
        // containment — trim⊂base = 1.0 (10 shared), re-edit∩base =
        // 8/12, trim∩re-edit = 6/10 — so the per-level rollup is exact
        // arithmetic over which triad members exist
        inv("m06_variant_containment") {
          val pairs = docIdsAll.groupBy(_ / 3).values.toSeq.flatMap { g =>
            val v = g.map(d => (d % 3).toInt).toSet
            Seq(
              (1.0, 10L, v(0) && v(1)),
              (graft.analytics.Det.droundD(8.0 / 12, 4), 8L, v(0) && v(2)),
              (graft.analytics.Det.droundD(6.0 / 10, 4), 6L, v(1) && v(2))
            ).collect { case (c, s, true) => (c, s) }
          }
          val want = pairs.groupBy(_._1).view
            .mapValues(ps => (ps.size.toLong, ps.map(_._2).sum)).toMap
          val got = read("m06_video_dups").collect()
            .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
          got.nonEmpty && got == want
        },
        // m12: the diff-maintained image-fingerprint index must group
        // exactly like a from-scratch rebuild of the mutated corpus
        inv("m12_eq_fullrebuild") {
          eqDumps("m12_image_index_maintenance",
            graft.analytics.Multimodal.m12FullRebuildProbe(spark, sfDir))
        },
        // st24: the streamed change-feed consumer must land exactly
        // where m12's batch maintenance lands (append-log resolution
        // is slicing-invariant)
        inv("st24_eq_m12") {
          eqDumps("st24_stream_image_index",
            read("m12_image_index_maintenance"))
        },
        // st09: per-cell occupancy of the streamed vector ingest must
        // equal the one-shot batch assignment under the same memoized
        // codebook (stateless per-row assignment + commutative
        // aggregates cannot depend on microbatch slicing)
        inv("st09_eq_batch") {
          eqDumps("st09_stream_vec_ingest",
            graft.analytics.StreamingQueries.st09BatchTwin(spark, sfDir))
        },
        // st13: the streamed grow-the-layout loop (append + inline
        // compaction) must land the exact per-cell occupancy of the
        // one-shot batch assignment under an independently-fit base
        // codebook (deterministic fit ⇒ codebooks agree)
        inv("st13_eq_batch") {
          eqDumps("st13_stream_vec_append",
            graft.analytics.StreamingQueries.st13BatchTwin(spark, sfDir))
        },
        // d03: ALL-PAIRS Hamming ground truth recomputed single-node
        // from the same per-doc fingerprints (the expression itself is
        // pinned in FunctionsSpec) — the chunk-banding candidate
        // pipeline must be COMPLETE (pigeonhole) and exact; a silent
        // banding bug can no longer hide behind a stable row count
        inv("d03_pairs_complete_singlenode") {
          val fps = graft.analytics.Dedup.d03Fingerprints(spark, sfDir)
            .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
          val want = fps.indices.flatMap { a =>
            val (i, fi) = fps(a)
            (a + 1 until fps.length).flatMap { b =>
              val (j, fj) = fps(b)
              val h = java.lang.Long.bitCount(fi ^ fj)
              if (h <= 3) Some((i, j, h.toLong)) else None
            }
          }
          // sorted on the gate's own key so the check never couples
          // to parquet collect() row order
          val got = read("d03_simhash_pairs").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
            .sortBy(t => (t._1, t._2))
          got.nonEmpty && got == want
        },
        // d05: same convention for the winnowing tier — all-pairs
        // shared-fingerprint counts + overlap coefficients from the
        // collected per-doc fingerprint sets. The gate's df cap
        // (postings lists wider than MaxShingleDf are dropped) is
        // REPLICATED here so the invariant stays exact at any corpus
        // density, not just where the cap can't bind.
        inv("d05_pairs_complete_singlenode") {
          import graft.functions.WinnowFingerprints.winnow_fingerprints
          val fs = graft.analytics.Tables.documents(spark, sfDir)
            .select(col("doc_id"), winnow_fingerprints(col("text")).as("f"))
            .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).sortBy(_._1)
          val df = fs.iterator.flatMap(_._2).toSeq.groupBy(identity)
            .view.mapValues(_.size).toMap
          val countable: Long => Boolean =
            fp => df(fp) >= 2 && df(fp) <= graft.analytics.Dedup.MaxShingleDf
          val want = fs.indices.flatMap { a =>
            val (i, fi) = fs(a)
            (a + 1 until fs.length).flatMap { b =>
              val (j, fj) = fs(b)
              val shared = fi.count(fp => fj(fp) && countable(fp))
              if (shared >= 2)
                Some((i, j, shared.toLong, graft.analytics.Det
                  .droundD(shared.toDouble / math.min(fi.size, fj.size), 4)))
              else None
            }
          }
          val got = read("d05_winnow_pairs").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
            .sortBy(t => (t._1, t._2))
          got.nonEmpty && got == want
        },
        // p06: the coreset's quota arithmetic and per-cell top-rank
        // selection recomputed in plain Scala from the dumped s05
        // edges (reference PageRank — g01's exact arithmetic) and the
        // shared k-means assignment — everything downstream of the
        // memoized fit independently re-derived, row for row
        inv("p06_parity_singlenode") {
          val ranks = graft.analytics.Graph.referencePagerank(knnEdges, seeds = None)
            .map { case (id, r) => (id, graft.analytics.Det.droundD(r, 8)) }
          val (assignedDf, _) = graft.analytics.Similarity.kmeansFitDir(spark, sfDir)
          val assigned = assignedDf.select(col("vec_id"), col("cell")).collect()
            .map(r => (r.getLong(0), r.getInt(1)))
          val want = assigned.groupBy(_._2).toSeq.flatMap { case (cell, ms) =>
            val quota = math.max(1L, ms.length / graft.analytics.Pipeline.CoresetFraction)
            ms.flatMap { case (id, _) => ranks.get(id).map(r => (id, r)) }
              .sortBy { case (id, r) => (-r, id) }
              .take(quota.toInt).zipWithIndex
              .map { case ((id, r), idx) =>
                (cell.toLong, (idx + 1).toLong, id, r, ms.length.toLong) }
          }.sortBy(t => (t._1, t._2))
          val got = read("p06_coreset").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getDouble(3), r.getLong(4))).toSeq
            .sortBy(t => (t._1, t._2))
          got.nonEmpty && got == want
        },
        // p02: the SemDeDup tier's pair stage + min-id union-find
        // recomputed single-node (gate arithmetic: strict left-fold
        // dot, norm product, ≥ 0.4) over the deterministic k-means
        // assignment; the expected per-language stats then come from
        // the same curationStats over the independently-derived
        // survivor set — the whole pipeline downstream of the fit
        // pinned, not just its cardinality
        inv("p02_eq_singlenode_dedup") {
          import graft.analytics.Pipeline
          import graft.functions.VectorFunctions._
          val docs = graft.analytics.Tables.documents(spark, sfDir)
          // quality gate + stats via the shared construction; holdout
          // OFF here — curate() dedups BEFORE the holdout
          val qual = Pipeline.curate(docs,
            Pipeline.CurationConfig(dedup = "none", holdoutModulus = 0))
          val qe = graft.analytics.Tables.embeddings(spark, sfDir)
            .select(col("vec_id"), as_double_array(col("embedding")).as("v"))
            .join(qual.select(col("doc_id").as("vec_id")), "vec_id")
            .withColumn("norm", array_norm(col("v")))
          val k = math.max(1, math.min(16,
            math.ceil(math.sqrt(qe.count().toDouble)).toInt))
          val (assigned, _, _) = graft.analytics.Similarity.kmeansFit(qe, k = k)
          val rows = assigned.select(col("vec_id"), col("cell"), col("v"), col("norm"))
            .collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray,
              r.getDouble(3)))
          // min-id union-find: every union keeps the smaller root, so
          // each tree's root is its component's minimum id
          val parent = scala.collection.mutable.Map.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          for {
            cellGroup <- rows.filter(_._4 > 0).groupBy(_._2).values
            sorted = cellGroup.sortBy(_._1)
            a <- sorted.indices
            b <- (a + 1) until sorted.length
          } {
            val (i, _, vi, ni) = sorted(a)
            val (j, _, vj, nj) = sorted(b)
            var dot = 0.0
            var x = 0
            while (x < vi.length) { dot += vi(x) * vj(x); x += 1 }
            if (dot / (ni * nj) >= 0.4) {
              val (ri, rj) = (find(i), find(j))
              if (ri != rj) {
                if (ri < rj) parent(rj) = ri else parent(ri) = rj
              }
            }
          }
          val dropped = rows.map(_._1).filter(id => find(id) != id).toSeq
          val holdout = Pipeline.CurationConfig().holdoutModulus
          val expect = Pipeline.curationStats(
            qual.filter(!col("doc_id").isin(dropped: _*))
              .filter(col("doc_id") % holdout =!= 0))
          eqDumps("p02_semdedup_pipeline", expect)
        },
        // m09: shot count and frame layout are pure functions of
        // doc_id (2 + id%4 shots of 3 + s%3 frames) — segmentation
        // must recover them exactly, row for row
        inv("m09_shot_recovery") {
          val want = docIdsAll.filter(_ < 50).map { d =>
            val nShots = 2 + (d % 4).toInt
            val nFrames = (0 until nShots).map(s => 3 + s % 3).sum.toLong
            (d, nFrames, nShots.toLong,
              graft.analytics.Det.droundD(nFrames.toDouble / nShots, 4))
          }
          val got = read("m09_video_shots").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
          got.nonEmpty && got == want
        })
    val invJson = invariants.map { case (k, v) => s"${q(k)}: $v" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/invariants.json"), invJson)
    println(s"[verify] invariants: $invJson")
    // COMMIT the verdicts per round (r16 verdict item 2): the judge
    // reads every named invariant from the repo without running
    // Verify. The round number is inferred the way the driver numbers
    // its own artifacts — one past the newest committed
    // CORRECTNESS_r{N}.json (the driver's Verify run precedes its
    // CORRECTNESS write, so both land on the same N; a builder-local
    // full run mid-round overwrites the same file with fresher
    // verdicts, which is the point). Skipped for subset runs — a
    // partial invariant map must never shadow a full one.
    if (only.isEmpty) {
      try {
        val repo = Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_REPO", System.getProperty("user.dir")))
        val rounds = scala.util.Using.resource(Files.list(repo)) { s =>
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .flatMap("""CORRECTNESS_r(\d+)\.json""".r
              .findFirstMatchIn(_).map(_.group(1).toInt))
            .toList
        }
        if (rounds.nonEmpty) {
          val f = repo.resolve(f"invariants_r${rounds.max + 1}%02d.json")
          Files.writeString(f, invJson + "\n")
          println(s"[verify] invariant verdicts committed to $f")
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[verify] could not write the per-round " +
            s"invariants copy (${e.getMessage}); outDir copy is unaffected")
      }
    }
    spark.stop()
  }
}
