package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only REP× replicas of the two corpus tables for the chain and
  * ANN probes (test scope — not shipped): documents get an id offset
  * plus a per-replica suffix token (near-dups, not byte dups — a
  * dedup stress by construction), embeddings get an id offset plus a
  * deterministic norm-preserving ROTATION per replica — exact-copy
  * vectors make every neighbor list a tie-block of clones and flatter
  * any pruned tier (the MaintenanceProbe recipe). */
object ReplicaCorpus {
  def docsAndEmbeddings(spark: SparkSession, sfDir: String, rep: Int): String = {
    val big = graft.core.TempDirs.create(s"graft-chain-x$rep").toString
    def reps = spark.range(rep).select(col("id").as("_rep"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs.count()
    docs.crossJoin(reps)
      .withColumn("doc_id", col("doc_id") + col("_rep") * lit(nDocs))
      .withColumn("text", concat(col("text"), lit(" rep"), col("_rep")))
      .drop("_rep")
      .repartition(32).write.mode("overwrite").parquet(s"$big/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nEmb = emb.count()
    emb.crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("_rep") * lit(nEmb))
      .withColumn("embedding", expr(
        "transform(sequence(1, size(embedding)), " +
          "k -> embedding[CAST((k - 1 + _rep) % size(embedding) AS INT)])"))
      .drop("_rep")
      .repartition(32).write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    big
  }
}

/** Dev-only multi-epoch CHAIN probe (test scope — not shipped): the
  * r16 verdict's missing legs of the replication sweep —
  *
  *  1. the five maintained chains (g08/p13/p14/p15/m13) at 1× vs
  *     REP×: per-epoch engine time (wall minus FixtureClock'd
  *     baseline/seed construction), the covered-fraction trajectory,
  *     and whether the policy compaction still fires mid-chain at
  *     REP× — run through the REAL gate code in the chain runner's
  *     probe mode (`rebuildCheck = false`: the from-scratch rebuild
  *     TWINS are checks, not maintenance work, and g08's is O(N²) by
  *     design);
  *  2. policy-ESTIMATE vs exact anti-join covered fraction at REP×
  *     scale on both sidecar shapes (gen-partition segments and
  *     gen-named published files);
  *  3. the scaled-codebook ANN configuration: at REP× the IVF
  *     codebook grows ~√N (cells = 16·√rep) as the operator contract
  *     requires — re-pricing the s03/s09/s13 shapes whose GATES fix
  *     16 cells for the fixture (the fixed-cell ×14.7 in the r16
  *     receipt priced REP× queries × REP×/16 per-cell work; this is
  *     the configuration a real deployment runs).
  *
  *   SPARK_GRAFT_REP=10 sbt "Test/runMain graft.analytics.ChainProbe"
  */
object ChainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rep = sys.env.getOrElse("SPARK_GRAFT_REP", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    def enabled(section: String) = only.forall(_.contains(section))

    val big = ReplicaCorpus.docsAndEmbeddings(spark, sfDir, rep)

    // ---- 1. the five chains at 1x vs REPx ----
    if (enabled("chains")) {
      val chains: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        // p13's gate reports the final postings and records no
        // per-epoch digest, so its receipts come from the chain itself
        "p13_multi_epoch_postings" -> ((s: SparkSession, d: String) =>
          graft.core.TempDirs.scoped("graft-probe-p13") { root =>
            val out = root.resolve("postings").toString
            val rows = Pipeline.p13ChainAt(s, d, out)
            // materialize the |vocab|-bounded report like the gate does
            TextOps.postingsReport(s, out).count()
            Pipeline.receiptFrame(s, rows, "n_dirty", "n_live")
          }),
        "p14_multi_epoch_pq" -> (Pipeline.p14MultiEpochPq(_, _, rebuildCheck = false)),
        "p15_multi_epoch_ivf" -> (Pipeline.p15MultiEpochIvf(_, _, rebuildCheck = false)),
        "m13_multi_epoch_images" ->
          (Multimodal.m13MultiEpochImages(_, _, rebuildCheck = false)),
        "g08_multi_epoch_knn" -> (Graph.g08MultiEpochKnn(_, _, rebuildCheck = false)))

      // job counts ride along (graft.core.Trace): a chain is a
      // fixed number of epochs, each a fixed set of diff/append/policy
      // actions, and compaction fires at the same epochs at REP× (the
      // covered signal is scale-invariant) — so the 10× chain should
      // execute the SAME number of Spark jobs, seed construction
      // included (the seed build is the same plan over more rows). A
      // growing count would name a data-dependent driver loop.
      def timeChain(fn: (SparkSession, String) => DataFrame, dir: String)
          : (Double, Double, Seq[(Int, Double, Boolean)], Long) = {
        val preIds = spark.sparkContext.getPersistentRDDs.keySet
        val fix0 = graft.core.FixtureClock.totalNanos
        val (rs, cost) = graft.core.Trace.measure(spark)(fn(spark, dir)
          .select(col("epoch"), col("covered_before"), col("compacted"))
          .collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2))).toSeq)
        val fix = (graft.core.FixtureClock.totalNanos - fix0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!preIds.contains(id)) rdd.unpersist(false) }
        (cost.wallS, fix, rs, cost.jobs)
      }
      println(s"[chain] rep=$rep — engine = wall minus FixtureClock'd baseline/seed " +
        "construction; rebuild twins skipped (probe mode); compaction must still " +
        "fire mid-chain at REPx")
      chains.foreach { case (name, fn) =>
        try timeChain(fn, "/root/testdata/sf0.001") // untimed classload/codegen warmup
        catch { case e: Throwable =>
          println(s"[chain] $name warmup failed: ${e.getMessage}") }
        val (w1, f1, r1, j1) = timeChain(fn, sfDir)
        val (wb, fb, rb, jb) = timeChain(fn, big)
        val (e1, eb) = (math.max(w1 - f1, 1e-9), math.max(wb - fb, 1e-9))
        def fired(rs: Seq[(Int, Double, Boolean)]) =
          rs.filter(_._3).map(_._1).mkString("[", ",", "]")
        def cov(rs: Seq[(Int, Double, Boolean)]) =
          rs.map(r => f"${r._2}%.3f").mkString("[", ",", "]")
        println(f"[chain] $name%-26s 1x: wall $w1%7.2f fix $f1%7.2f eng $e1%7.2f | " +
          f"${rep}x: wall $wb%7.2f fix $fb%7.2f eng $eb%7.2f | eng_ratio ${eb / e1}%5.1f " +
          s"| jobs $j1->$jb")
        println(s"[chain]   compact_epochs 1x=${fired(r1)} ${rep}x=${fired(rb)}  " +
          s"covered 1x=${cov(r1)} ${rep}x=${cov(rb)}")
      }
    }

    // ---- 2. estimate vs exact covered fraction at REPx ----
    if (enabled("estexact")) {
      import graft.core.SegmentedIndex
      val emb = spark.read.parquet(s"$big/embeddings.parquet")
        .select(col("vec_id"), lit(1).cast("long").as("payload"))
      // (a) gen-partition segments (the g07/g08/st26 edge-store shape)
      val segOut = graft.core.TempDirs.create("graft-probe-estexact")
        .resolve("segments").toString
      SegmentedIndex.appendSegment(emb, segOut, gen = 0L)
      SegmentedIndex.writeRowCount(segOut,
        SegmentedIndex.footerRowCountOf(java.nio.file.Paths.get(segOut)))
      SegmentedIndex.tombstone(
        emb.filter(col("vec_id") % 13 < 2).select("vec_id"),
        segOut, "vec_id", uptoGen = Some(0L))
      val segInst = SegmentedIndex.tombstoneInstances(segOut, genScoped = true)
      val t0 = System.nanoTime()
      val segEst = SegmentedIndex.coveredFractionEstimate(
        spark.read.parquet(segOut), segOut, genScoped = true, requireTracked = true)
      val segEstMs = (System.nanoTime() - t0) / 1e6
      val segExact = SegmentedIndex.coveredFraction(spark,
        spark.read.parquet(segOut), segOut, keyCol = "vec_id", genCol = Some("gen"))
      println(f"[estexact] gen-partition shape at ${rep}x: instances=$segInst " +
        f"estimate=$segEst%.6f (driver-side, $segEstMs%.1f ms, zero Spark jobs) " +
        f"exact=$segExact%.6f diff=${math.abs(segEst - segExact)}%.2e")
      // (b) gen-named published files (the postings/IVF append shape)
      val pubOut = graft.core.TempDirs.create("graft-probe-estexact")
        .resolve("published").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pubOut))
      SegmentedIndex.writeRowCount(pubOut, 0L)
      SegmentedIndex.publishGeneration(pubOut, 1L) { stage =>
        emb.withColumn("gen", lit(1L)).write.parquet(stage)
      }
      val reAdd = emb.filter(col("vec_id") % 13 === 1)
      SegmentedIndex.publishGeneration(pubOut, 2L) { stage =>
        reAdd.withColumn("gen", lit(2L)).write.parquet(stage)
      }
      SegmentedIndex.tombstone(
        emb.filter(col("vec_id") % 13 < 2).select("vec_id"),
        pubOut, "vec_id", uptoGen = Some(1L))
      val pubEst = SegmentedIndex.coveredFractionEstimate(
        spark.read.parquet(pubOut), pubOut, genScoped = true, requireTracked = true)
      val pubExact = SegmentedIndex.coveredFraction(spark,
        spark.read.parquet(pubOut), pubOut, keyCol = "vec_id", genCol = Some("gen"))
      println(f"[estexact] gen-named publish shape at ${rep}x: estimate=$pubEst%.6f " +
        f"exact=$pubExact%.6f diff=${math.abs(pubEst - pubExact)}%.2e")
    }

    // ---- 3. scaled-codebook ANN (cells ~ sqrt(N)) ----
    if (enabled("annscaled")) {
      val cellsBig = math.max(16, (16 * math.sqrt(rep)).round.toInt)
      // stored layouts: the s09 (plain probe) and s13 (filtered probe)
      // shapes. Queries scale WITH the corpus (vec_id % 100), so the
      // expected shape is: total probe time ~linear in the query
      // count, per-query time bounded by nProbe·(N/cells) — which the
      // √N codebook holds near √rep instead of rep.
      def priceStored(dir: String, cells: Int): (Double, Double, Long) =
        graft.core.TempDirs.scoped("graft-probe-annscaled") { root =>
          val out = root.resolve("corpus").toString
          val corpus = Dedup.normalizedVectors(spark, dir)
            .join(Tables.documents(spark, dir)
              .select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
          Similarity.writeIvfLayout(corpus, out, k = cells, iters = 10) // untimed: train+build
          val stored = spark.read.parquet(out)
          val queries = stored.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("norm").as("qnorm"))
            .localCheckpoint(true)
          val nQ = queries.count()
          val t0 = System.nanoTime()
          Similarity.ivfStoredTopK(spark, out, queries, k = 10).count()
          val tPlain = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          Similarity.ivfStoredTopK(spark, out, queries, k = 10,
            where = Some(col("lang") === "en")).count()
          val tFilt = (System.nanoTime() - t1) / 1e9
          queries.unpersist()
          spark.catalog.clearCache()
          (tPlain, tFilt, nQ)
        }
      // in-memory tier (the s03 shape): fit untimed (train-once), the
      // probe over the materialized assignment timed
      def priceInMem(dir: String, cells: Int): (Double, Long) = {
        val e = Dedup.normalizedVectors(spark, dir)
        val (assigned, cents, _) = Similarity.ivfFitSampled(e, k = cells)
        val a = assigned.localCheckpoint(true)
        val queries = a.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm").as("qnorm")).localCheckpoint(true)
        val nQ = queries.count()
        val t0 = System.nanoTime()
        Similarity.ivfTopK(a, cents, queries, k = 10).count()
        val dt = (System.nanoTime() - t0) / 1e9
        a.unpersist(); queries.unpersist(); spark.catalog.clearCache()
        (dt, nQ)
      }
      priceStored("/root/testdata/sf0.001", 16) // untimed warmup
      priceInMem("/root/testdata/sf0.001", 16)
      val (p1, f1, q1) = priceStored(sfDir, 16)
      val (pb, fb, qb) = priceStored(big, cellsBig)
      println(f"[ann-scaled] s09_shape(stored)  1x(cells=16,q=$q1): $p1%6.2fs | " +
        f"${rep}x(cells=$cellsBig,q=$qb): $pb%6.2fs | total_ratio ${pb / p1}%5.2f " +
        f"per_query_ratio ${(pb / qb) / (p1 / q1)}%5.2f")
      println(f"[ann-scaled] s13_shape(filtered) 1x: $f1%6.2fs | ${rep}x: $fb%6.2fs | " +
        f"total_ratio ${fb / f1}%5.2f per_query_ratio ${(fb / qb) / (f1 / q1)}%5.2f")
      val (m1, mq1) = priceInMem(sfDir, 16)
      val (mb, mqb) = priceInMem(big, cellsBig)
      println(f"[ann-scaled] s03_shape(in-mem)  1x(cells=16,q=$mq1): $m1%6.2fs | " +
        f"${rep}x(cells=$cellsBig,q=$mqb): $mb%6.2fs | total_ratio ${mb / m1}%5.2f " +
        f"per_query_ratio ${(mb / mqb) / (m1 / mq1)}%5.2f")
    }
    spark.stop()
  }
}
