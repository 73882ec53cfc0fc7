package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetRows

/** End-to-end training-data curation pipeline — the operators compose:
  * quality gate → exact dedup (normalized-hash groupBy) →
  * deterministic sampling → per-language token budget accounting.
  * Every stage is a narrow/shuffle-once DataFrame op; the whole
  * pipeline is one Catalyst plan (single pass over the corpus plus one
  * aggregation shuffle), which is the shape that survives 100 TB.
  */
object Pipeline {

  /** Curation configuration — the knobs a training-data run tunes:
    * quality gate thresholds, the dedup tier (cost/recall trade),
    * and the deterministic holdout.
    *
    * Dedup tiers: `"exact"` (normalized-hash groupBy — byte dups),
    * `"minhash"` (MinHash+LSH, global near-dups above
    * [[minhashJaccard]]; drops the higher-id side of every pair),
    * `"cluster"` (same pairs, but connected components first and ONE
    * survivor per component — the SemDeDup policy: a star of near-dups
    * keeps exactly its minimum, where pairwise dropping would keep
    * every spoke), `"winnow"` (rolling-hash passage near-dups sharing
    * ≥ [[winnowShared]] fingerprints), `"embedding"` (semantic
    * near-dups above [[embeddingCosine]] via LSH-bucketed candidates →
    * connected components → one survivor per component — SemDeDup over
    * vectors; needs the `embeddings` frame), `"none"`. */
  final case class CurationConfig(
      minTokens: Int = 20,
      minTtr: Double = 0.3,
      dedup: String = "exact",
      minhashJaccard: Double = 0.5,
      winnowShared: Int = 2,
      embeddingCosine: Double = 0.4,
      holdoutModulus: Int = 5)

  /** Composable curation over any (doc_id, lang, text) corpus:
    * quality gate → dedup tier → deterministic holdout. Returns the
    * surviving docs with `n_tokens`/`ttr` attached. Near-dup tiers
    * drop the higher-id side of every pair (greedy lowest-id-survivor
    * — the standard corpus-scale approximation of connected
    * components); everything stays one declarative plan, so Catalyst
    * prunes `text` out of every shuffle that doesn't need it. */
  def curate(docs: DataFrame, cfg: CurationConfig = CurationConfig(),
             embeddings: Option[DataFrame] = None): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val quality = docs
      .withColumn("n_tokens", size(t).cast("bigint"))
      .withColumn("ttr", size(array_distinct(t)).cast("double") / size(t))
      // quality gate: minimum length + lexical diversity
      .filter(col("n_tokens") >= cfg.minTokens && col("ttr") >= cfg.minTtr)
    val deduped = cfg.dedup match {
      case "exact" =>
        // t06's shape (TextOps.t06DedupExact): groupBy(fp) + min_by of
        // the whole row — partial aggregation combines duplicates
        // map-side, vs a row_number window which would shuffle every
        // full row into per-fp partitions before dropping any
        val cols = quality.columns
        quality
          .withColumn("fp", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
          .groupBy("fp")
          .agg(min_by(struct(cols.map(col): _*), col("doc_id")).as("__doc"))
          .select(cols.map(c => col(s"__doc.$c")): _*)
      case "minhash" =>
        val dropped = Dedup.minHashPairsOf(Dedup.shinglesOf(quality))
          .filter(col("jaccard") >= cfg.minhashJaccard)
          .select(col("j").as("doc_id")).distinct()
        quality.join(dropped, Seq("doc_id"), "left_anti")
      case "cluster" =>
        val dropped = Dedup.dupClustersOf(
            Dedup.minHashPairsOf(Dedup.shinglesOf(quality))
              .filter(col("jaccard") >= cfg.minhashJaccard)
              .select(col("i"), col("j")))
          .filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id")).distinct()
        quality.join(dropped, Seq("doc_id"), "left_anti")
      case "winnow" =>
        val dropped = Dedup.winnowPairsOf(quality)
          .filter(col("shared") >= cfg.winnowShared)
          .select(col("j").as("doc_id")).distinct()
        quality.join(dropped, Seq("doc_id"), "left_anti")
      case "embedding" =>
        // semantic near-dup via LSH — the d07→d08 production shape:
        // LSH band candidates, exact-cosine verify, connected
        // components, ONE survivor (the min doc_id) per semantic
        // cluster. Only quality-surviving docs participate, matching
        // the text tiers which shingle the filtered corpus.
        val e = embeddings.getOrElse(throw new IllegalArgumentException(
          "dedup tier 'embedding' needs an embeddings frame (vec_id, embedding); " +
          "vec_id joins doc_id"))
        val qe = e.select(col("vec_id"), col("embedding"))
          .join(quality.select(col("doc_id").as("vec_id")), "vec_id")
        val dropped = Dedup.dupClustersOf(
            Dedup.embeddingLshPairsOf(qe)
              .filter(col("cos_sim") >= cfg.embeddingCosine)
              .select(col("i"), col("j")))
          .filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id")).distinct()
        quality.join(dropped, Seq("doc_id"), "left_anti")
      case "semdedup" =>
        // SemDeDup proper (Abbas et al. 2023): k-means the embeddings
        // (the fully-distributed [[Similarity.kmeansFit]]), then score
        // pairwise cosine WITHIN each cluster only — the candidate
        // join keys on the cluster id, so pair work is Σ|cluster|²
        // (bounded by cell sizing at √N cells), never corpus². Each
        // near-dup component keeps its min doc_id, like the other
        // tiers. Complements 'embedding': LSH candidates find
        // high-cosine pairs anywhere; SemDeDup's clusters make the
        // cost model explicit and give the curation run the cluster
        // structure for free (cluster-balance stats, per-cluster
        // thresholds).
        import graft.functions.VectorFunctions._
        val e = embeddings.getOrElse(throw new IllegalArgumentException(
          "dedup tier 'semdedup' needs an embeddings frame (vec_id, embedding); " +
          "vec_id joins doc_id"))
        // cached up front: read by the √N count, kmeansFit's init +
        // iterations, and the pair join — without it the embeddings ⋈
        // quality join would run once per consumer
        val qe = e.select(col("vec_id"), as_double_array(col("embedding")).as("v"))
          .join(quality.select(col("doc_id").as("vec_id")), "vec_id")
          .withColumn("norm", array_norm(col("v")))
          .cache()
        val n = qe.count()
        if (n == 0) quality // no embeddable docs → nothing to dedup
        else {
          // √N cell sizing (the s06 discipline): k must stay well below
          // N or every vector seeds its own cluster and no pair is ever
          // compared; √N balances cluster count against Σ|cluster|² pair
          // work (capped at 16 — the fixture-scale codebook size)
          val k = math.max(1, math.min(16, math.ceil(math.sqrt(n.toDouble)).toInt))
          val (assigned, _, _) = Similarity.kmeansFit(qe, k = k)
          val clusters = Dedup.dupClustersOf(
            semdedupPairs(assigned, cfg.embeddingCosine).select(col("i"), col("j")))
          // dupClustersOf is eager in both paths (driver union-find
          // collects; the distributed loop localCheckpoints every
          // round), so nothing downstream re-reads qe — release the
          // cache here instead of leaking it into a long-lived session
          qe.unpersist()
          val dropped = clusters
            .filter(col("doc_id") =!= col("cluster_id"))
            .select(col("doc_id")).distinct()
          quality.join(dropped, Seq("doc_id"), "left_anti")
        }
      case "none" => quality
      case other => throw new IllegalArgumentException(
        s"unknown dedup tier '$other' (exact | minhash | cluster | winnow | embedding | semdedup | none)")
    }
    if (cfg.holdoutModulus > 0) deduped.filter(col("doc_id") % cfg.holdoutModulus =!= 0)
    else deduped
  }

  /** SemDeDup's within-cluster pair stage over a k-means-assigned
    * frame (vec_id, v, norm, cell): exact cosine for every same-cell
    * id-ordered pair above `minCos`. The join keys on the cluster id
    * — pair work is Σ|cluster|², bounded by cell sizing, and AQE can
    * skew-split a hot cell (PlanSpec pins the equi-join shape). */
  private[analytics] def semdedupPairs(assigned: DataFrame, minCos: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    // zero-norm vectors carry no similarity signal; without the guard
    // their cosine is 0/0 = NaN, which Spark orders ABOVE every double,
    // so two unrelated zero vectors in one cell would silently pass any
    // threshold and one of their documents would be deleted as a "dup"
    val nz = assigned.filter(col("norm") > 0)
    nz.as("a").join(nz.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        (array_dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Per-language token-budget accounting over a curated corpus. */
  def curationStats(curated: DataFrame): DataFrame =
    curated.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").as("token_budget"),
           Det.avgDec9R(col("ttr"), 4).as("avg_ttr"))
      .orderBy("lang")

  /** The oracle-checked gate: [[curate]] with the default config
    * (quality gate → exact dedup → 20% holdout) + [[curationStats]]. */
  def p01CurationPipeline(spark: SparkSession, dir: String): DataFrame =
    curationStats(curate(Tables.documents(spark, dir)))

  /** The SemDeDup end-to-end gate: same pipeline with the
    * cluster-then-dedup-within-cluster tier over the embeddings.
    * Rows-only (k-means isn't SQL-expressible); CurationSpec pins the
    * tier's semantics (survivors ⊆ quality set, min-id survivor per
    * component, holdout applied). */
  def p02SemdedupPipeline(spark: SparkSession, dir: String): DataFrame =
    curationStats(curate(Tables.documents(spark, dir),
      CurationConfig(dedup = "semdedup"),
      Some(Tables.embeddings(spark, dir))))

  /** Per-source dataset report — the datasheet a curation run publishes
    * before training: docs, token budget, exact-dup count, quality-gate
    * failures, and benchmark contamination, per provenance source in
    * one frame. Composes the t02/t05/t15/t14 signals into the single
    * table a data card quotes. Two corpus passes, both in shapes this
    * repo already audits at scale: one partial-aggregating groupBy for
    * the per-doc metrics, and the shingle semi-join against the
    * (fixed-size) eval set for contamination. Oracle-checked. */
  def p03DatasetReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val t = split(trim(col("text")), "\\s+")
    val fp = substring(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")), 1, 16)
    val m = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"), fp.as("fp"),
      size(t).cast("bigint").as("n_tok"),
      (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
    val base = m.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tok").as("total_tokens"),
      countDistinct(col("fp")).as("n_distinct_fp"),
      sum(when(col("n_tok") < 20 || col("ttr") < 0.3, 1L).otherwise(0L))
        .as("n_quality_fail"))
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(word_shingles(col("text"))).as("shingle"))
    val evalSh = sh.filter(col("source") === "src0").select("shingle").distinct()
    val contaminated = sh.filter(col("source") =!= "src0")
      .join(evalSh, Seq("shingle"), "left_semi")
      .select("doc_id", "source").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
    base.join(contaminated, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        (col("n_docs") - col("n_distinct_fp")).as("n_exact_dups"),
        col("n_quality_fail"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      // always true, but not provably so to the optimizer: the
      // contamination side is aggregated on the join key, so a bare
      // count() would ELIMINATE the left join and "measure" p03 as the
      // base aggregation alone (the d10 trap) — this pins every timed
      // action to the real two-pass report the gate's dump pays
      .filter(col("n_contaminated") >= 0)
      .orderBy("source")
  }

  /** The pretraining data FUNNEL — the per-stage accounting every
    * corpus build publishes: raw training candidates → quality gate
    * (p01's rule) → exact dedup (first doc_id per fingerprint wins) →
    * benchmark decontamination (≥ 50% contaminated shingles drops the
    * doc) → DSIR selection (t25's zero-threshold cut) → packed
    * training sequences. One row per funnel outcome with doc and
    * token counts, plus the final packed-sequence row.
    *
    * Scale shape: the whole funnel is ONE corpus pass that labels
    * each document with its terminal stage (a CASE over precomputed
    * flags) followed by a label-bounded groupBy — never one scan per
    * stage. The flags themselves reuse the audited shapes: the dedup
    * winner is t06's partial-agg groupBy(fp)→min join, the
    * contamination set is t14's semi join against the fixed-size
    * benchmark shingles, and the DSIR flag joins t25's vocab-bounded
    * score table. Oracle-checked end to end — the staged CASE, the
    * 50% integer-arithmetic contamination cut, and the packing ceil
    * all replay exactly in DuckDB. */
  def p05DataFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val t = split(trim(col("text")), "\\s+")
    val fp = substring(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")), 1, 16)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"), fp.as("fp"),
        size(t).cast("long").as("n_tok"),
        (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
    val raw = docs.filter(col("source") =!= "src0")
    val quality = raw.filter(col("n_tok") >= 20 && col("ttr") >= 0.3)
    val winners = quality.groupBy("fp").agg(min("doc_id").as("keep_id"))
    // contaminated set: ≥ half of a doc's shingles appear in the
    // benchmark slice (integer arithmetic — no float compare)
    val sh = raw.select(col("doc_id"), word_shingles(col("text")).as("s"))
      .select(col("doc_id"), explode(transform(col("s"), x =>
        struct(x.as("shingle"), size(col("s")).cast("long").as("n_sh")))).as("e"))
      .select(col("doc_id"), col("e.shingle").as("shingle"), col("e.n_sh").as("n_sh"))
    val evalSh = docs.filter(col("source") === "src0")
      .select(explode(word_shingles(col("text"))).as("shingle")).distinct()
    val contaminated = sh.join(evalSh, Seq("shingle"), "left_semi")
      .groupBy("doc_id", "n_sh").agg(count(lit(1)).as("hits"))
      .filter(col("hits") * 2 >= col("n_sh"))
      .select(col("doc_id")).withColumn("is_contam", lit(true))
    val selected = TextOps.t25DsirWeights(spark, dir)
      .filter(col("selected")).select(col("doc_id")).withColumn("is_sel", lit(true))
    val labeled = quality
      .join(winners, Seq("fp"))
      .join(contaminated, Seq("doc_id"), "left")
      .join(selected, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        when(col("doc_id") =!= col("keep_id"), "2_exact_dup")
          .when(col("is_contam").isNotNull, "3_contaminated")
          .when(col("is_sel").isNull, "4_unselected")
          .otherwise("5_kept").as("stage"))
    val qualityFail = raw.join(quality.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(lit("1_quality_fail").as("stage"), col("n_tok"))
    val stages = labeled.select(col("stage"), col("n_tok"))
      .unionByName(qualityFail)
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val packed = stages.filter(col("stage") === "5_kept")
      .select(lit("6_packed_seqs").as("stage"),
        floor((col("n_tokens") + 255L) / 256L).cast("long").as("n_docs"),
        col("n_tokens"))
    stages.unionByName(packed).orderBy("stage")
  }

  /** Share of each cluster kept in the p06 coreset (denominator);
    * graft-visible so Verify's p06 parity invariant derives its quota
    * from the same constant. */
  private[graft] val CoresetFraction = 10L

  /** p06 gate: centrality-guided coreset selection — the SemDeDup/
    * D4-style "keep the representative core of every region" step:
    * cluster the embedding space (s08's k-means), score every vector
    * by PageRank over the kNN similarity graph (g01), and keep each
    * cluster's top-⌈n/10⌉ most central members (min 1 — small clusters
    * are exactly what sampling must not drop).
    *
    * Composition of already-pinned pieces: the kNN edges are the
    * exact s05 tier (IVF swap at scale), the ranks carry g01's exact
    * single-node parity, the assignment kmeansFit's partitioning
    * invariance. The per-cluster cut is a rank window partitioned by
    * cell over TWO narrow columns (id, rank) — the quota is
    * proportional (n/10), so a fixed-k bounded top-k cannot express
    * it; window partitions are cell-sized and a real deployment sizes
    * K ~ sqrt(N) (the s06 note), so no single cell sort approaches
    * the corpus. Output one row per selected representative. Rows-only;
    * PipelineCoresetSpec pins quota math, per-cluster top-rank
    * selection against an independent recompute, and coverage of
    * every nonempty cluster. */
  def p06Coreset(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both expensive inputs are shared per-(JVM, dir) artifacts: the
    // kNN edge list (built by whichever of s05/g01–g05/p06 runs
    // first) and the k-means codebook (shared with s08)
    val edges = Similarity.knnEdges(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val ranks = Graph.pagerank(edges)
      .select(col("id").as("vec_id"), Det.dround(col("r"), 8).as("rank"))
    val (assigned, _) = Similarity.kmeansFitDir(spark, dir)
    val cellQuota = assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"))
      .withColumn("quota",
        greatest(lit(1L), floor(col("n_vecs") / CoresetFraction).cast("long")))
    val w = Window.partitionBy("cell")
      .orderBy(col("rank").desc, col("vec_id").asc)
    assigned.select(col("vec_id"), col("cell"))
      .join(ranks, "vec_id")
      .withColumn("sel_rank", row_number().over(w).cast("long"))
      .join(broadcast(cellQuota), "cell")
      .filter(col("sel_rank") <= col("quota"))
      .select(col("cell").cast("long").as("cell"), col("sel_rank"),
        col("vec_id"), col("rank"), col("n_vecs"))
      .orderBy("cell", "sel_rank")
  }

  /** "Yesterday's output": per-doc quality flags for snapshot A,
    * stored once per (JVM, sf dir) — the cached artifact an
    * incremental pipeline holds between runs. */
  private def ensureQualityScoresA(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("quality-scores", dir) { out =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), TextOps.qualityPass.as("pass"))
        .write.mode("overwrite").parquet(out)
    }

  /** p07 gate: INCREMENTAL quality re-scoring — the derived-artifact
    * half of the CDC loop (q36 folds state, s11 appends the index,
    * d15 merges the snapshot; p07 maintains a per-doc SCORE table).
    * Yesterday's stored flags carry over untouched; ONLY the diff's
    * changed+added docs are re-scored (the expensive text pass is
    * diff-sized — pinned in IncrementalQualitySpec); deleted and
    * changed rows drop out of the carry-over. The merged per-source
    * accounting must equal scoring the new snapshot from scratch —
    * which is exactly what the oracle does. */
  def p07IncrementalQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scoresA = ParquetRows.frame(spark, ensureQualityScoresA(spark, dir))
    val diff = Dedup.d14SnapshotCdc(spark, dir)
      .select(col("doc_id"), col("change_type"))
    val rescored = rescoreDiff(docs, diff)
    val carried = scoresA.join(diff, Seq("doc_id"), "left")
      .filter(coalesce(col("change_type"), lit("")).isin("deleted", "changed") === false)
      .select(col("doc_id"), col("source"), col("pass"))
    carried.unionByName(rescored)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
      .orderBy("source")
  }

  /** The diff-sized re-score: snapshot-B text restricted (semi join)
    * to the diff's changed+added ids, through the same per-doc rule
    * battery. */
  private[analytics] def rescoreDiff(docs: DataFrame, diff: DataFrame): DataFrame =
    Dedup.cdcSnapshotBText(docs)
      .join(diff.filter(col("change_type").isin("changed", "added"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), TextOps.qualityPass.as("pass"))

  private val P08Dim = 16
  private[analytics] val P08Cells = 16

  /** Content-derived stub embedding: [[P08Dim]] components hashed from
    * the text (xxhash64, per-component seed), scaled into [-1, 1).
    * Deterministic and — unlike a fixture lookup — CONTENT-sensitive:
    * a revised document moves in embedding space, which is what makes
    * incremental re-embedding meaningful. The usual stub contract:
    * swap in a model tower and nothing else changes. */
  private def textEmbed(text: org.apache.spark.sql.Column,
                        dim: Int = P08Dim): org.apache.spark.sql.Column =
    transform(sequence(lit(1), lit(dim)),
      i => (pmod(xxhash64(text, i), lit(1000L)).cast("double") / lit(500.0)) - lit(1.0))

  private def p08Vectors(rows: DataFrame): DataFrame =
    rows.select(col("doc_id").as("vec_id"), textEmbed(col("text")).as("embedding"))

  // p11's PQ tier slices 8 subspaces of 8 dims, so its stub embeds at
  // the PQ layout's native dimension (same content-sensitive hash)
  private[analytics] def p11Vectors(rows: DataFrame): DataFrame =
    rows.select(col("doc_id").as("vec_id"),
      textEmbed(col("text"), Similarity.PqDim).as("embedding"))

  private[analytics] def p11Normalized(rows: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions._
    p11Vectors(rows)
      .select(col("vec_id"), as_double_array(col("embedding")).as("v"))
      .withColumn("norm", array_norm(col("v")))
  }

  /** The deterministic PQ codebook fit over snapshot A, memoized per
    * (JVM, dataset): p11, its rebuild twin, and st25 all fit the SAME
    * corpus with the same params, and the fit is a pure function of it
    * — one k-means + one PQ fit instead of three. Codebook-sized
    * driver state (K cells + M×Ks sub-centroids). */
  private val p11Fits = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[(Int, Array[Double])], Array[Array[Array[Double]]])]()

  private[analytics] def p11Codebooks(spark: SparkSession, dir: String)
      : (Array[(Int, Array[Double])], Array[Array[Array[Double]]]) =
    p11Fits.computeIfAbsent(dir, _ =>
      Similarity.fitIvfPq(p11Normalized(Tables.documents(spark, dir)),
        k = P08Cells, iters = 10))

  /** The snapshot-A IVF-PQ baseline LAYOUT, built once per (JVM,
    * dataset) into a process-root dir (r12 finding #3: p11 and st25
    * each re-ran the full corpus assignment + nibble-packing in-gate
    * on every invocation, even though the FIT was memoized). Gates
    * [[copyBaseline]] it into their scoped dirs — file I/O instead of
    * a corpus re-encode — and mutate the COPY; the baseline itself is
    * immutable, like [[p11Codebooks]] and the m12 base artifact. */
  private[analytics] def p11BaselineLayout(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("p11-base", dir) { p =>
      val (cents, books) = p11Codebooks(spark, dir)
      Similarity.writeIvfPqLayoutWith(cents, books,
        p11Normalized(Tables.documents(spark, dir)), p)
    }

  /** The snapshot-A plain-IVF baseline layout, same discipline (p08's
    * in-gate step 1). The memoized artifact also carries the codebook
    * sidecar, so consumers re-read `cents` from the copy. */
  private[analytics] def p08BaselineLayout(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("p08-base", dir) { p =>
      Similarity.writeIvfLayout(p08Normalized(Tables.documents(spark, dir)), p,
        k = P08Cells, iters = 10)
    }

  /** Copy a memoized baseline layout into a gate's scoped dir — file
    * I/O instead of the corpus re-encode; the gate mutates the copy. */
  private[analytics] def copyBaseline(base: String, to: java.nio.file.Path): String = {
    graft.core.DirSwap.copyTree(java.nio.file.Paths.get(base), to)
    to.toString
  }

  /** The snapshot-A postings baseline (p10/st23/p12's in-gate step 1
    * — a full-corpus tokenize + layout write per invocation until
    * r13), memoized like the vector baselines. */
  private[analytics] def p10BaselineLayout(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("p10-base", dir) { p =>
      TextOps.writePostingsLayout(spark, Tables.documents(spark, dir), p)
    }

  private[analytics] def p11QuerySet(docs: DataFrame): DataFrame =
    p11Normalized(docs.filter(col("doc_id") % 100 === 0))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))

  private def p08Normalized(rows: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions._
    p08Vectors(rows)
      .select(col("vec_id"), as_double_array(col("embedding")).as("v"))
      .withColumn("norm", array_norm(col("v")))
  }

  /** Query set for the p08 probes: every 100th doc — all `% 10 == 0`,
    * so each one survives the derived snapshot UNCHANGED and the query
    * vectors mean the same thing against the before and after index. */
  private def p08QuerySet(docs: DataFrame): DataFrame =
    p08Normalized(docs.filter(col("doc_id") % 100 === 0))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))

  /** p08 gate: INCREMENTAL vector-index maintenance over the CDC diff
    * — the full loop a production embedding index runs per ingest
    * epoch, end to end on a real stored layout:
    *
    *   1. yesterday's index: IVF layout fit + written over snapshot
    *      A's embeddings;
    *   2. d14's diff arrives as ONE batch at generation 1
    *      ([[Similarity.applyIvfBatch]], the rule p15 applies per
    *      epoch): deleted+changed ids are TOMBSTONED at `upto_gen = 0`
    *      (O(|diff|), no data file touched), and changed+added docs
    *      are re-embedded (diff-sized — the expensive model pass never
    *      sees the unchanged corpus) and APPENDED under the stored
    *      codebook at generation 1, live at once;
    *   3. one compaction applies the tombstones physically and clears
    *      the sidecar, as st25 does at the end of its stream;
    *   4. the compacted layout is probed.
    *
    * The result must equal a FULL REBUILD of snapshot B under the
    * same quantizer, exactly — Verify re-probes the rebuild twin and
    * emits the equality as `p08_eq_fullrebuild`. */
  def p08IncrementalIndex(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-p08") { root =>
      p08MaintainAt(spark, dir, root,
        Dedup.d14SnapshotCdc(spark, dir).select("doc_id", "change_type"))
    }

  /** The p08 loop on a caller-owned root with a caller-supplied diff
    * frame — split out so p12's nightly composition can drive it from
    * the SAME CDC application as the other families. */
  private[analytics] def p08MaintainAt(spark: SparkSession, dir: String,
                                       root: java.nio.file.Path,
                                       diff: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // |diff|-bounded and consumed several times below (two class
    // filters + a semi join): ONE collect job takes it driver-local, so
    // no consumer re-runs the d14 plan or pays a broadcast collect
    val diffL = graft.core.Bounded.localize(diff)
    // yesterday's index: a COPY of the memoized baseline
    val out = copyBaseline(p08BaselineLayout(spark, dir), root.resolve("index"))
    val cents = Similarity.readIvfCodebook(out)
    Similarity.applyIvfBatch(spark, cents, ParquetRows.frame(spark, out).columns.toSet, out,
      gen = 1L,
      dirty = diffL.df.filter(col("change_type").isin("deleted", "changed"))
        .select(col("doc_id").as("vec_id")),
      adds = p08Vectors(Dedup.cdcSnapshotBText(docs).join(
        diffL.df.filter(col("change_type").isin("changed", "added")).select("doc_id"),
        Seq("doc_id"), "left_semi")))
    Similarity.compactIvfCorpus(spark, out)
    // materialize the |queries|×k result eagerly: the scoped layout is
    // deleted when this returns (TempDirs.scoped contract)
    val res = Similarity.ivfStoredTopKWith(cents, spark, out, p08QuerySet(docs), k = 10)
      .orderBy("query_id", "rnk").localCheckpoint(true)
    diffL.release()
    res
  }

  /** The rebuild twin: snapshot B's embeddings written from scratch
    * under the SAME codebook — the snapshot-A fit the memoized
    * [[p08BaselineLayout]] stores (the incremental path's step 1),
    * read back instead of refit. Called by Verify to compute the
    * `p08_eq_fullrebuild` invariant. */
  private[graft] def p08FullRebuildProbe(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-p08-rebuild") { root =>
    val docs = Tables.documents(spark, dir)
    val cents = Similarity.readIvfCodebook(p08BaselineLayout(spark, dir))
    val out = root.resolve("index").toString
    Similarity.writeIvfLayoutWith(cents,
      p08Normalized(Dedup.cdcSnapshotBText(docs)), out)
    Similarity.ivfStoredTopKWith(cents, spark, out, p08QuerySet(docs), k = 10)
      .orderBy("query_id", "rnk").localCheckpoint(true)
  }

  /** p11 gate: p08's incremental maintenance loop over the PQ-CODED
    * stored index (s14's layout) — the epoch loop when even the raw
    * vectors don't fit the serving tier:
    *
    *   1. yesterday's index: IVF-PQ layout (nibble-packed codes +
    *      `_refine` raw sidecar + both codebooks) fit + written over
    *      snapshot A;
    *   2. d14's diff arrives as ONE batch at generation 1
    *      ([[Similarity.applyIvfPqBatch]], the rule p14 applies per
    *      epoch and st25 per microbatch): deleted+changed ids are
    *      TOMBSTONED at `upto_gen = 0` (O(|diff|); ADC probes exclude
    *      them immediately), and changed+added docs re-embed
    *      (diff-sized) and append at generation 1 under the memoized
    *      codebooks — cells assigned, codes packed, raw vectors into
    *      `_refine` — no refit;
    *   3. one compaction applies the tombstones physically to the
    *      codes AND the refine sidecar and clears them, as st25 does
    *      at the end of its stream;
    *   4. the compacted layout is probed.
    *
    * Result must equal a full PQ rebuild of snapshot B under the same
    * quantizers (`p11_eq_fullrebuild`). Rows-only (k-means + PQ). */
  def p11IncrementalPqIndex(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-p11") { root =>
      p11MaintainAt(spark, dir, root,
        Dedup.d14SnapshotCdc(spark, dir).select("doc_id", "change_type"))
    }

  /** The p11 loop on a caller-owned root with a caller-supplied diff
    * frame (p12's nightly composition drives it from the shared CDC
    * application). */
  private[analytics] def p11MaintainAt(spark: SparkSession, dir: String,
                                       root: java.nio.file.Path,
                                       diff: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // |diff|-bounded, consumed by two class filters + a semi join —
    // driver-local once (the p08MaintainAt rationale)
    val diffL = graft.core.Bounded.localize(diff)
    // yesterday's index: a COPY of the memoized baseline, which stores
    // exactly these memoized codebooks
    val out = copyBaseline(p11BaselineLayout(spark, dir), root.resolve("index"))
    val (cents, books) = p11Codebooks(spark, dir)
    Similarity.applyIvfPqBatch(spark, cents, books, out, gen = 1L,
      dirty = Some(diffL.df.filter(col("change_type").isin("deleted", "changed"))
        .select(col("doc_id").as("vec_id"))),
      adds = Some(p11Vectors(Dedup.cdcSnapshotBText(docs).join(
        diffL.df.filter(col("change_type").isin("changed", "added")).select("doc_id"),
        Seq("doc_id"), "left_semi"))))
    Similarity.compactIvfPqCorpus(spark, out)
    val res = Similarity.ivfPqStoredTopKWith(cents, books, spark, out,
        p11QuerySet(docs), k = 10)
      .orderBy("query_id", "rnk").localCheckpoint(true)
    diffL.release()
    res
  }

  /** The PQ rebuild twin: snapshot B written from scratch under the
    * SAME codebook fit (on snapshot A, as the incremental path's step
    * 1 did). Called by Verify for `p11_eq_fullrebuild`. */
  private[graft] def p11FullRebuildProbe(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-p11-rebuild") { root =>
    val docs = Tables.documents(spark, dir)
    val (cents, books) = p11Codebooks(spark, dir)
    val out = root.resolve("index").toString
    Similarity.writeIvfPqLayoutWith(cents, books,
      p11Normalized(Dedup.cdcSnapshotBText(docs)), out)
    Similarity.ivfPqStoredTopKWith(cents, books, spark, out, p11QuerySet(docs), k = 10)
      .orderBy("query_id", "rnk").localCheckpoint(true)
  }

  /** p10 gate: INCREMENTAL inverted-index maintenance over the CDC
    * diff — p08's loop applied to the postings artifact, closing the
    * same gap for the lexical index that g07 closes for the kNN graph:
    *
    *   1. yesterday's index: postings layout + `_df` sidecar written
    *      over snapshot A ([[TextOps.writePostingsLayout]]);
    *   2. d14's diff arrives as ONE batch at generation 1
    *      ([[TextOps.applyPostingsBatch]], the rule p13 applies per
    *      epoch and st23 per microbatch): deleted+changed ids are
    *      TOMBSTONED at `upto_gen = 0` (O(|diff|), no postings file
    *      touched), changed+added docs RE-TOKENIZE (diff-sized — the
    *      tokenize pass never sees the unchanged corpus) and append at
    *      generation 1, and the diff's per-term removed/added document
    *      counts land as a `_df` delta — a |vocab|-bounded merge,
    *      never a corpus recount;
    *   3. one compaction applies the tombstones physically, clears the
    *      sidecar and folds the delta into the `_df` base, as st23
    *      does at the end of its stream.
    *
    * Report: per term, df FROM THE SIDECAR beside total tf from the
    * live postings scan — fully oracle-checked against DuckDB's
    * independent tokenization of snapshot B, so a drifted sidecar or
    * a lost/duplicated posting anywhere fails the hash. PostingsSpec
    * additionally pins frame-level equality with a from-scratch
    * rebuild and the tombstone/compact/append interleaving. */
  def p10IncrementalPostings(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-p10") { root =>
      // |vocab|-bounded report materialized eagerly; the scoped layout
      // is deleted when this returns
      TextOps.postingsReport(spark,
        p10MaintainAt(spark, dir, root.resolve("postings").toString,
          Dedup.d14SnapshotCdc(spark, dir).select("doc_id", "change_type")))
        .localCheckpoint(true)
    }

  /** The maintenance loop on a fresh process-root layout (cleaned at
    * JVM exit), returning the maintained path — split out so
    * PostingsSpec can pin frame-level equality with a from-scratch
    * rebuild of snapshot B. */
  private[graft] def p10Maintain(spark: SparkSession, dir: String): String =
    p10MaintainAt(spark, dir,
      graft.core.TempDirs.create("graft-p10").resolve("postings").toString,
      Dedup.d14SnapshotCdc(spark, dir).select("doc_id", "change_type"))

  private def p10MaintainAt(spark: SparkSession, dir: String, out: String,
                            diff: DataFrame): String = {
    val docs = Tables.documents(spark, dir)
    // |diff|-bounded, consumed by two class filters + two semi joins —
    // driver-local once (the p08MaintainAt rationale)
    val diffL = graft.core.Bounded.localize(diff)
    // yesterday's index: a COPY of the memoized baseline
    copyBaseline(p10BaselineLayout(spark, dir), java.nio.file.Paths.get(out))
    val dirty = diffL.df.filter(col("change_type").isin("deleted", "changed"))
      .select("doc_id")
    // the removed side tokenizes the BEFORE-IMAGE (snapshot A's text
    // for the dirty docs) — a doc's postings are a pure function of
    // its text, so this equals the stored rows without scanning the
    // index
    TextOps.applyPostingsBatch(spark, out, gen = 1L, dirty = Some(dirty),
      addDocs = Some(Dedup.cdcSnapshotBText(docs)
        .join(diffL.df.filter(col("change_type").isin("changed", "added"))
          .select("doc_id"), Seq("doc_id"), "left_semi")),
      rmDocs = Some(docs.join(broadcast(dirty), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))))
    TextOps.compactPostings(spark, out)
    diffL.release()
    out
  }

  // ---- the multi-epoch chain runner (p13/p14/p15, m13, g08) ----

  /** How many successive CDC epochs every multi-epoch chain applies. */
  private[graft] val ChainEpochs = 3

  /** One chain's family-specific steps, which [[epochChain]] runs once
    * per epoch in this order: `applyDiff` applies the epoch's diff to
    * the stored layout and returns the receipt's count column;
    * `covered` measures the tombstone-covered fraction; `compact`
    * rewrites the layout when [[graft.core.SegmentedIndex.compactDue]];
    * `live` is the maintained result to digest (None: the chain's gate
    * reports elsewhere and records no per-epoch digest) and `rebuild`
    * its from-scratch twin for the epoch, written under `scratch`;
    * `release` frees the epoch's state after both digests. */
  private[graft] abstract class ChainSteps {
    def applyDiff(e: Int): Long
    def covered(): Double
    def compact(e: Int): Unit
    def live(e: Int): Option[DataFrame] = None
    def rebuild(e: Int, scratch: java.nio.file.Path): DataFrame =
      throw new UnsupportedOperationException("this chain has no rebuild twin")
    def release(e: Int): Unit = ()
  }

  /** One epoch of a chain: the family's count, the live digest's row
    * count, the covered fraction the policy read (rounded to 3 places),
    * whether it compacted, and the rebuild verdict — None in probe mode
    * or without a live step, never a fabricated one. */
  private[graft] final case class EpochReceipt(epoch: Int, n: Long,
      nLive: Option[Long], covered: Double, compacted: Boolean,
      eqRebuild: Option[Boolean])

  /** Digests of the chains' per-epoch rebuild twins, keyed by (gate,
    * dataset, epoch): a twin is the gate's CHECK — a pure function of
    * the fixture, not the maintenance work the gate measures — so the
    * first invocation per JVM pays it and warm passes re-digest only
    * the maintained result. The gate name keeps two chains over the
    * same dataset from comparing against each other's twin. */
  private val chainRebuildDigests =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), (Long, Long)]()

  /** Run a multi-epoch maintenance chain: for each of [[ChainEpochs]]
    * epochs apply the diff, take ONE covered measurement that drives
    * both the receipt and the compaction decision, digest the live
    * result and compare it with the memoized rebuild digest.
    * `rebuildCheck = false` is probe mode (ChainProbe's replication
    * sweep, where an O(N²) twin would dwarf the maintenance priced):
    * the twin is never built and `eqRebuild` is None. */
  private[graft] def epochChain(gate: String, dir: String, rebuildCheck: Boolean)
                               (steps: ChainSteps): Seq[EpochReceipt] =
    (1 to ChainEpochs).map { e =>
      val n = steps.applyDiff(e)
      val covered = steps.covered()
      val compacted = graft.core.SegmentedIndex.compactDue(covered)
      if (compacted) steps.compact(e)
      val got = steps.live(e).map(familyDigest)
      val eq = got.filter(_ => rebuildCheck).map { d =>
        d == graft.core.FixtureClock.memo(chainRebuildDigests, (gate, dir, e)) { _ =>
          graft.core.TempDirs.scoped(s"graft-$gate-rebuild")(r =>
            familyDigest(steps.rebuild(e, r)))
        }
      }
      steps.release(e)
      EpochReceipt(e, n, got.map(_._1), math.floor(covered * 1000 + 0.5) / 1000,
        compacted, eq)
    }

  /** A chain gate's output: one row per epoch in epoch order, the
    * family's count and live-count columns named `nCol`/`liveCol`. The
    * receipts are already on the driver, so the frame is a
    * LocalRelation over them: it runs no job and outlives the gate's
    * scoped layout. */
  private[graft] def receiptFrame(spark: SparkSession, receipts: Seq[EpochReceipt],
                                  nCol: String, liveCol: String): DataFrame = {
    import spark.implicits._
    receipts.sortBy(_.epoch)
      .map(r => (r.epoch, r.n, r.nLive, r.covered, r.compacted, r.eqRebuild))
      .toDF("epoch", nCol, liveCol, "covered_before", "compacted", "eq_rebuild")
  }

  /** p13's per-epoch mutation classes (mod 16) — DISJOINT across
    * epochs, so every intermediate snapshot is a direct function of
    * the base table (the g08 trick applied to text: the per-epoch
    * rebuild twin needs no chained re-derivation, and a dirty doc's
    * previous-epoch text is always its ORIGINAL text). The churn is
    * sized so the tombstone-covered fraction crosses the 0.5
    * compaction threshold at epoch 2 with ~11% margin (4+1 of 16
    * classes per epoch ⇒ covered ≈ 10/16 over stored ≈ 18/16), fires
    * once, and stays under it at epoch 3 (≈ 0.40) — the policy
    * compaction is pinned MID-chain, with a post-compaction epoch
    * applied on the rewritten store. */
  private[analytics] def p13DeleteClasses(e: Int): Seq[Int] = e match {
    case 1 => Seq(1, 2, 3, 4)
    case 2 => Seq(6, 7, 8, 9)
    case _ => Seq(11, 12, 13)
  }

  private[analytics] def p13ChangeClass(e: Int): Int = e match {
    case 1 => 5
    case 2 => 10
    case _ => 14
  }

  /** The documents table after `e` of [[ChainEpochs]] successive CDC
    * epochs — epoch j deletes [[p13DeleteClasses]](j), appends
    * `" [e<j>]"` to class [[p13ChangeClass]](j)'s text, and (final
    * epoch only) adds a copy of each class-0 doc under id
    * `−(doc_id+1)` (never collides: corpus ids are non-negative, and
    * negative ids mod 16 are ≤ 0, so no later rule touches them).
    * Classes 15 and 0 survive all three epochs untouched. */
  private[analytics] def p13SnapshotText(docs: DataFrame, e: Int): DataFrame = {
    val cls = col("doc_id") % 16
    val gone = (1 to e).flatMap(p13DeleteClasses)
    val kept =
      if (gone.isEmpty) docs.select(col("doc_id"), col("text"))
      else docs.filter(!cls.isin(gone.map(Int.box): _*))
        .select(col("doc_id"), col("text"))
    val revised = (1 to e).foldLeft(kept)((d, j) =>
      d.withColumn("text", when(cls === p13ChangeClass(j),
        concat(col("text"), lit(s" [e$j]"))).otherwise(col("text"))))
    if (e >= ChainEpochs)
      revised.unionByName(docs.filter(cls === 0)
        .select((-(col("doc_id") + 1L)).as("doc_id"), col("text")))
    else revised
  }

  /** Epoch `e`'s dirty ids under the shared p13 rules — ONE
    * definition consumed by the postings (p13), PQ (p14), and plain
    * IVF (p15) chains. */
  private[analytics] def p13DirtyIds(docs: DataFrame, e: Int): DataFrame = {
    val cls = col("doc_id") % 16
    docs.filter(cls.isin(p13DeleteClasses(e).map(Int.box): _*) ||
        cls === p13ChangeClass(e))
      .select("doc_id")
  }

  // (r18: the chains' per-epoch |dirty| receipt column now reads off
  // the localized dirty id set for free — the r17 `p13DirtyCounts`
  // class-count aggregation job is gone, verdict item 8.)

  /** Epoch `e`'s re-added documents (doc_id, text) under the shared
    * p13 rules: the change class's revised text plus (final epoch
    * only) the negated class-0 copies. A DIRECT construction off the
    * base table — equal to `p13SnapshotText(docs, e)` semi-joined to
    * the re-add ids because the epoch classes are disjoint (a changed
    * doc's only revision is its own epoch's), but without deriving
    * the full-corpus snapshot per epoch — the r14 verdict's p13+p14
    * shared-work cut. ONE definition consumed by all three chains. */
  private[analytics] def p13ReAddText(docs: DataFrame, e: Int): DataFrame = {
    val cls = col("doc_id") % 16
    val changed = docs.filter(cls === p13ChangeClass(e))
      .select(col("doc_id"), concat(col("text"), lit(s" [e$e]")).as("text"))
    if (e == ChainEpochs)
      changed.unionByName(docs.filter(cls === 0)
        .select((-(col("doc_id") + 1L)).as("doc_id"), col("text")))
    else changed
  }

  /** Memoized MATERIALIZED per-epoch snapshots (parquet under a
    * process temp root, one write per (JVM, dataset, epoch)): the
    * rebuild twins of ALL the multi-epoch chains (p13's spec-side
    * postings rebuild, p14's PQ re-encode, p15's IVF re-encode)
    * consume the same [[p13SnapshotText]] frames — deriving the
    * union-of-revisions plan per consumer repeated the corpus scan
    * once per chain per epoch (r14 verdict item 5). Parquet, not a
    * cached RDD: Bench sweeps persistent RDDs between queries, and a
    * path survives that where a localCheckpoint would not. */
  private[analytics] def p13SnapshotAt(spark: SparkSession, dir: String,
                                       e: Int): DataFrame =
    ParquetRows.frame(spark, graft.core.FixtureClock.staged("p13-snap", (dir, e)) { p =>
      p13SnapshotText(Tables.documents(spark, dir), e)
        .write.mode("overwrite").parquet(p)
    })

  /** The p13 chain: [[ChainEpochs]] successive diff applications
    * against ONE postings layout at `out` (seeded from the memoized
    * snapshot-A baseline), compacting ONLY on the covered-fraction
    * policy. Per epoch, [[TextOps.applyPostingsBatch]] at generation
    * `e`: tombstone for the dirty ids at `upto_gen = e−1` (so the
    * re-appends at gen `e` are live immediately with no compaction
    * between), diff-sized re-tokenize + append, |vocab|-bounded
    * df-sidecar fold. The gate reports the final postings, so the
    * chain records no per-epoch digest; `onEpoch`
    * fires after each epoch so MultiEpochPostingsSpec can pin
    * live-state equality to a from-scratch rebuild of
    * [[p13SnapshotText]] at EVERY epoch — before and after the
    * mid-chain compaction. */
  private[graft] def p13ChainAt(spark: SparkSession, dir: String, out: String,
                                onEpoch: Int => Unit = _ => ()): Seq[EpochReceipt] = {
    val docs = Tables.documents(spark, dir)
    copyBaseline(p10BaselineLayout(spark, dir), java.nio.file.Paths.get(out))
    epochChain("p13", dir, rebuildCheck = false)(new ChainSteps {
      private var dirtyL: graft.core.Bounded.Localized = _
      def applyDiff(e: Int): Long = {
        // the dirty id set is diff-bounded: ONE collect job takes it
        // driver-local, so the tombstone write needs no dedupe exchange
        // and the before-image semi-join's broadcast builds joblessly;
        // |dirty| comes free with it
        dirtyL = graft.core.Bounded.localize(p13DirtyIds(docs, e))
        val dirty = dirtyL.df
        // the dirty docs' BEFORE-image text is the base table's (classes
        // are disjoint across epochs), so the removed side never reads
        // the stored index
        TextOps.applyPostingsBatch(spark, out, gen = e.toLong, dirty = Some(dirty),
          addDocs = Some(p13ReAddText(docs, e)),
          rmDocs = Some(docs.join(broadcast(dirty), Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("text"))))
        dirtyL.count
      }
      def covered(): Double = TextOps.postingsCoveredFraction(out)
      def compact(e: Int): Unit = TextOps.compactPostings(spark, out)
      override def release(e: Int): Unit = { onEpoch(e); dirtyL.release() }
    })
  }

  /** p13 gate: MULTI-EPOCH maintenance of the inverted postings index
    * — g08's epoch-chaining discipline applied to the lexical family,
    * and the one multi-epoch gate that is fully ORACLE-CHECKED: the
    * output is the final [[TextOps.postingsReport]] (term, df,
    * total_tf) after three chained diff applications, and DuckDB
    * derives the three-epoch snapshot independently and recounts it
    * from scratch — a drifted sidecar fold, a lost or duplicated
    * posting, or a compaction bug ANYWHERE in the chain fails the
    * hash. The mid-chain policy compaction and per-epoch rebuild
    * equality are pinned by MultiEpochPostingsSpec. */
  def p13MultiEpochPostings(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-p13") { root =>
      val out = root.resolve("postings").toString
      p13ChainAt(spark, dir, out)
      // |vocab|-bounded report materialized eagerly; the scoped layout
      // is deleted when this returns
      TextOps.postingsReport(spark, out).localCheckpoint(true)
    }

  /** p14 gate: MULTI-EPOCH maintenance of the IVF-PQ index — the p13
    * epoch rules ([[p13DeleteClasses]]/[[p13ChangeClass]]/final-epoch
    * adds, one definition shared by the lexical and vector families)
    * chained through ONE stored PQ layout seeded from the memoized
    * snapshot-A baseline. Per epoch, [[Similarity.applyIvfPqBatch]] at
    * generation `e`: tombstone for the dirty ids at `upto_gen = e−1`,
    * diff-sized re-embed of snapshot e's changed/added docs appended
    * under the STORED codebooks at generation e (an idempotent
    * gen-named publish); compaction ONLY on the covered-fraction
    * policy. The per-doc vector rows make the covered trajectory
    * exact class arithmetic: ≈ 0.29 / 0.56 / 0.40, so the
    * compaction fires at epoch 2 and epoch 3 applies ON the
    * compacted store. Output: per-epoch receipts with `eq_rebuild` =
    * (probe top-k over the maintained store) ≡ (snapshot e rebuilt
    * from scratch under the same quantizers) — Verify pins
    * `p14_eq_every_epoch` and `p14_compaction_fired` from the
    * columns. `rebuildCheck = false` is [[epochChain]]'s probe mode.
    * Rows-only (k-means + PQ). */
  def p14MultiEpochPq(spark: SparkSession, dir: String,
                      rebuildCheck: Boolean = true): DataFrame =
    graft.core.TempDirs.scoped("graft-p14") { root =>
      val docs = Tables.documents(spark, dir)
      val out = copyBaseline(p11BaselineLayout(spark, dir), root.resolve("index"))
      val cents = Similarity.readIvfCodebook(out)
      val books = Similarity.readPqCodebooks(out)
      // |queries|-bounded, consumed ~3× per probe call × 3 epochs —
      // materialize the embed once per invocation, DRIVER-LOCAL so
      // each probe's broadcast of it builds with zero jobs
      val queriesL = graft.core.Bounded.localize(p11QuerySet(docs))
      val queries = queriesL.df
      val rows = epochChain("p14", dir, rebuildCheck)(new ChainSteps {
        private var dirtyL: graft.core.Bounded.Localized = _
        def applyDiff(e: Int): Long = {
          // localized once: the delete's internal tombstone localize is
          // then jobless, and |dirty| is free for the receipt column
          dirtyL = graft.core.Bounded.localize(
            p13DirtyIds(docs, e).select(col("doc_id").as("vec_id")))
          // re-embed DIRECTLY off the shared re-add construction —
          // equal to snapshot-e ⋉ re-add ids (disjoint classes) without
          // a per-epoch full-corpus snapshot derivation
          Similarity.applyIvfPqBatch(spark, cents, books, out, gen = e.toLong,
            dirty = Some(dirtyL.df), adds = Some(p11Vectors(p13ReAddText(docs, e))))
          dirtyL.count
        }
        // the metadata-cheap instance estimate — one code row per
        // (vec, generation), exact for this layout
        def covered(): Double = graft.core.SegmentedIndex.coveredFractionEstimate(out)
        def compact(e: Int): Unit = Similarity.compactIvfPqCorpus(spark, out)
        // familyDigest is order-independent (sum of per-row crc32), so
        // the probe feeds it UNSORTED
        override def live(e: Int): Option[DataFrame] = Some(
          Similarity.ivfPqStoredTopKWith(cents, books, spark, out, queries, k = 10))
        override def rebuild(e: Int, scratch: java.nio.file.Path): DataFrame = {
          val ro = scratch.resolve("index").toString
          Similarity.writeIvfPqLayoutWith(cents, books,
            p11Normalized(p13SnapshotAt(spark, dir, e)), ro)
          Similarity.ivfPqStoredTopKWith(cents, books, spark, ro, queries, k = 10)
        }
        override def release(e: Int): Unit = dirtyL.release()
      })
      queriesL.release()
      receiptFrame(spark, rows, "n_dirty", "n_topk")
    }

  /** p15 gate: MULTI-EPOCH maintenance of the PLAIN IVF corpus — the
    * shared p13 epoch rules ([[p13DeleteClasses]]/[[p13ChangeClass]]/
    * final-epoch adds, ONE definition across the lexical, PQ, and
    * plain-vector families) chained through ONE stored layout seeded
    * from the memoized snapshot-A baseline. Deletes are scoped to the
    * rows' stored `gen` (0 for the build, the epoch for its appends,
    * kept through compaction): per epoch, [[Similarity.applyIvfBatch]] at generation `e`
    * tombstones the dirty ids at `upto_gen = e−1` and re-embeds +
    * appends the revised docs at `e` (live immediately); compact ONLY
    * on the covered-fraction policy — the metadata-cheap instance estimate,
    * one row per (vec, generation), exact for this layout. Per-epoch
    * `eq_rebuild` = (probe over the maintained store) ≡ (snapshot e written from
    * scratch under the same stored codebook); Verify pins
    * `p15_eq_every_epoch` / `p15_compaction_fired`. `rebuildCheck =
    * false` is [[epochChain]]'s probe mode. Rows-only (k-means). */
  def p15MultiEpochIvf(spark: SparkSession, dir: String,
                       rebuildCheck: Boolean = true): DataFrame =
    graft.core.TempDirs.scoped("graft-p15") { root =>
      val docs = Tables.documents(spark, dir)
      val out = copyBaseline(p08BaselineLayout(spark, dir), root.resolve("index"))
      val cents = Similarity.readIvfCodebook(out)
      val storedCols = ParquetRows.frame(spark, out).columns.toSet
      // |queries|-bounded, consumed twice per probe call × 3 epochs —
      // materialize the embed once per invocation (the p14
      // convention), DRIVER-LOCAL so each probe's broadcast of it
      // builds with zero jobs
      val queriesL = graft.core.Bounded.localize(p08QuerySet(docs))
      val queries = queriesL.df
      val rows = epochChain("p15", dir, rebuildCheck)(new ChainSteps {
        private var dirtyL: graft.core.Bounded.Localized = _
        def applyDiff(e: Int): Long = {
          // localized once — jobless tombstone localize + free |dirty|
          dirtyL = graft.core.Bounded.localize(
            p13DirtyIds(docs, e).select(col("doc_id").as("vec_id")))
          Similarity.applyIvfBatch(spark, cents, storedCols, out, gen = e.toLong,
            dirty = dirtyL.df, adds = p08Vectors(p13ReAddText(docs, e)))
          dirtyL.count
        }
        def covered(): Double = graft.core.SegmentedIndex.coveredFractionEstimate(out)
        def compact(e: Int): Unit = Similarity.compactIvfCorpus(spark, out)
        override def live(e: Int): Option[DataFrame] = Some(
          Similarity.ivfStoredTopKWith(cents, spark, out, queries, k = 10))
        override def rebuild(e: Int, scratch: java.nio.file.Path): DataFrame = {
          val ro = scratch.resolve("index").toString
          Similarity.writeIvfLayoutWith(cents,
            p08Normalized(p13SnapshotAt(spark, dir, e)), ro)
          Similarity.ivfStoredTopKWith(cents, spark, ro, queries, k = 10)
        }
        override def release(e: Int): Unit = dirtyL.release()
      })
      queriesL.release()
      receiptFrame(spark, rows, "n_dirty", "n_topk")
    }

  /** Order-independent digest of a result frame — (row count, sum of
    * per-row crc32 over the JSON encoding). Shared by the p12 summary
    * and Verify's `p12_families_eq_standalone` invariant, so the
    * equality check can't drift from the gate's own encoding. */
  private[graft] def familyDigest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(crc32(to_json(struct(df.columns.map(col): _*))))).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** p12 gate: the NIGHTLY COMPOSITION — one d14 CDC application
    * driving ALL FIVE maintained index families plus the incremental
    * quality rescoring in a single pipeline run, the production
    * "nightly diff" job the standalone gates rehearse one family at a
    * time:
    *
    *  - kNN graph (g07's segmented tombstone/append/compact loop on
    *    the stored edge artifact),
    *  - image fingerprints (m12's diff-only decode+hash),
    *  - quality scores (p07's diff-only rescoring),
    *  - IVF corpus (p08), PQ codes+refine (p11) and the inverted
    *    postings with the df-sidecar fold (p10), each one batch
    *    applied at generation 1 and then compacted —
    *    these three consume ONE localCheckpointed diff frame; g07,
    *    m12 and p07 apply the same fixture diff by construction
    *    (their inputs are derived images/vectors, not document text).
    *
    * Output: one (family, n_rows, checksum) row per family, the
    * digest over the family's FULL post-maintenance result — Verify
    * pins every row equal to the standalone gate's dump
    * (`p12_families_eq_standalone`), so the loops provably compose:
    * sharing one diff, one process temp root, and the memoized
    * baselines changes nothing about where each family lands.
    * Rows-only (a composition receipt has no SQL oracle). */
  def p12NightlyPipeline(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-p12") { root =>
      import spark.implicits._
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val t0 = System.nanoTime()
      val thr0 = Thread.activeCount()
      // driver-local (LocalRelation): the families' own localize calls
      // on their slices of it collect joblessly, and nothing lingers
      // in the block manager across the concurrent family futures
      val diffL = graft.core.Bounded.localize(
        Dedup.d14SnapshotCdc(spark, dir).select("doc_id", "change_type"))
      val diff = diffL.df
      // the families are INDEPENDENT consumers of the one diff
      // (separate layouts; the kNN store serializes on its own lock),
      // so the nightly job applies them CONCURRENTLY — the realistic
      // deployment shape, and the scheduler fills the gaps one
      // family's small jobs leave. Each family's digest is a pure
      // function of its result, so concurrency can't move where any
      // family lands (the p12_families_eq_standalone pin would catch
      // it if it could). The futures run on a DEDICATED fixed pool,
      // not ExecutionContext.global: the six bodies all block inside
      // Spark actions, and a gate must not compete with (or starve
      // under) whatever else the process scheduled on the global pool
      // — one of the r13 warm-repeat-stall suspects, removed by
      // construction.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6,
        (r: Runnable) => { val t = new Thread(r, "p12-family"); t.setDaemon(true); t })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      def timed(f: => (Long, Long)): Future[((Long, Long), Double)] =
        Future { val s = System.nanoTime(); val d = f; (d, (System.nanoTime() - s) / 1e9) }
      val rows = try {
        val families: Seq[(String, Future[((Long, Long), Double)])] = Seq(
          "g07_knn" -> timed(familyDigest(Graph.g07IncrementalKnn(spark, dir))),
          "m12_images" -> timed(familyDigest(
            Multimodal.m12ImageIndexMaintenance(spark, dir))),
          "p07_quality" -> timed(familyDigest(p07IncrementalQuality(spark, dir))),
          "p08_ivf" -> timed(familyDigest(
            p08MaintainAt(spark, dir, root.resolve("ivf"), diff))),
          "p10_postings" -> timed(familyDigest(TextOps.postingsReport(spark,
            p10MaintainAt(spark, dir, root.resolve("postings").toString, diff)))),
          "p11_pq" -> timed(familyDigest(
            p11MaintainAt(spark, dir, root.resolve("pq"), diff))))
        families.map { case (f, fut) =>
          val ((n, c), sec) = Await.result(fut, Duration.Inf); (f, n, c, sec)
        }
      } finally pool.shutdown()
      diffL.release()
      // per-invocation profile receipt (the r13 verdict asked for
      // per-family wall time + thread counts dumped on EVERY pass, so
      // a warm-repeat stall is attributable to a family without a
      // rerun) — best-effort append, never on the gate's hot path
      try {
        val line = rows.map { case (f, _, _, sec) =>
          s""""$f":${(sec * 1000).round / 1000.0}""" }.mkString(",")
        val total = (System.nanoTime() - t0) / 1e9
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("target", "p12_profile.jsonl"),
          s"""{"total":${(total * 1000).round / 1000.0},"threads_start":$thr0,""" +
            s""""threads_end":${Thread.activeCount()},"families":{$line}}""" + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case _: Throwable => () }
      rows.map { case (f, n, c, _) => (f, n, c) }
        .toDF("family", "n_rows", "checksum")
        .orderBy("family").localCheckpoint(true)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p10_incremental_postings" -> p10IncrementalPostings _,
    "p12_nightly_pipeline"  -> p12NightlyPipeline _,
    "p13_multi_epoch_postings" -> p13MultiEpochPostings _,
    "p14_multi_epoch_pq" -> ((s, d) => p14MultiEpochPq(s, d)),
    "p15_multi_epoch_ivf" -> ((s, d) => p15MultiEpochIvf(s, d)),
    "p01_curation_pipeline" -> p01CurationPipeline _,
    "p02_semdedup_pipeline" -> p02SemdedupPipeline _,
    "p03_dataset_report"    -> p03DatasetReport _,
    "p05_data_funnel"       -> p05DataFunnel _,
    "p06_coreset"           -> p06Coreset _,
    "p07_incremental_quality" -> p07IncrementalQuality _,
    "p08_incremental_index"   -> p08IncrementalIndex _,
    "p11_incremental_pq_index" -> p11IncrementalPqIndex _,
  )

  val oracleSql: Map[String, String] = Map(
    // p13: DuckDB derives the THREE-EPOCH snapshot (disjoint mod-16
    // classes: epochs delete 1-4/6-9/11-13, revise 5/10/14 with
    // per-epoch suffixes, the final epoch adds class-0 copies under
    // negated ids) and recounts it from scratch — the chained
    // maintenance's final report must match term for term
    "p13_multi_epoch_postings" ->
      """WITH b AS (SELECT doc_id,
                     CASE WHEN doc_id % 16 = 5  THEN text || ' [e1]'
                          WHEN doc_id % 16 = 10 THEN text || ' [e2]'
                          WHEN doc_id % 16 = 14 THEN text || ' [e3]'
                          ELSE text END AS text
                    FROM documents
                    WHERE doc_id % 16 IN (0, 5, 10, 14, 15)
                    UNION ALL
                    SELECT -(doc_id + 1) AS doc_id, text
                    FROM documents WHERE doc_id % 16 = 0),
          tk AS (SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) term FROM b),
          tk2 AS (SELECT * FROM tk WHERE term <> '')
         SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
          CAST(count(*) AS BIGINT) AS total_tf
         FROM tk2 GROUP BY term ORDER BY term""",
    // p10: DuckDB derives snapshot B and tokenizes it from scratch —
    // the maintained index's sidecar df and live tf totals must match
    // that independent recount term for term
    "p10_incremental_postings" ->
      """WITH b AS (SELECT doc_id,
                     CASE WHEN doc_id % 10 = 3 THEN text || ' [rev2]' ELSE text END AS text
                    FROM documents WHERE doc_id % 10 <> 7
                    UNION ALL
                    SELECT -(doc_id + 1) AS doc_id, text
                    FROM documents WHERE doc_id % 10 = 0),
          tk AS (SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) term FROM b),
          tk2 AS (SELECT * FROM tk WHERE term <> '')
         SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
          CAST(count(*) AS BIGINT) AS total_tf
         FROM tk2 GROUP BY term ORDER BY term""",
    // p07's merged table must equal scoring the NEW snapshot from
    // scratch — the oracle derives snapshot B and runs the full t15
    // battery over it
    "p07_incremental_quality" ->
      s"""WITH b AS (SELECT doc_id, source,
                      CASE WHEN doc_id % 10 = 3 THEN text || ' [rev2]' ELSE text END AS text
                     FROM documents WHERE doc_id % 10 <> 7
                     UNION ALL
                     SELECT -(doc_id + 1) AS doc_id, source, text
                     FROM documents WHERE doc_id % 10 = 0),
          d AS (SELECT source, string_split_regex(trim(text), '\\s+') t FROM b),
          m AS (SELECT source,
                 len(t) n_tok,
                 CAST(list_aggregate(list_transform(t, x -> strlen(x)), 'sum') AS DOUBLE) / len(t) mean_len,
                 len(list_filter(t, x -> x IN (${TextOps.stopListSql}))) n_stop,
                 CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ttr,
                 list_max(list_transform(t, x -> strlen(x))) max_len
                FROM d),
          r AS (SELECT source,
                 n_tok >= 20 AND mean_len >= 2.0 AND mean_len <= 12.0
                   AND n_stop > 0 AND ttr >= 0.2 AND max_len <= 40 AS pass
                FROM m)
         SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         FROM r GROUP BY source ORDER BY source""",
    "p05_data_funnel" ->
      """WITH d AS (SELECT doc_id, source, text,
                 substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) fp,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_tok,
                 CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
                   / len(string_split_regex(trim(text), '\s+')) ttr
                FROM documents),
          raw AS (SELECT * FROM d WHERE source <> 'src0'),
          q AS (SELECT * FROM raw WHERE n_tok >= 20 AND ttr >= 0.3),
          winners AS (SELECT fp, min(doc_id) keep_id FROM q GROUP BY fp),
          toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') t FROM documents),
          shl AS (SELECT doc_id, source, list_distinct(list_transform(range(1, len(t)-1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) s
                  FROM toks WHERE len(t) >= 3),
          ev AS (SELECT DISTINCT unnest(s) shingle FROM shl WHERE source = 'src0'),
          tr AS (SELECT doc_id, CAST(len(s) AS BIGINT) n_sh, unnest(s) shingle
                 FROM shl WHERE source <> 'src0'),
          contam AS (SELECT doc_id FROM (
                   SELECT doc_id, n_sh, count(*) hits FROM tr
                   WHERE shingle IN (SELECT shingle FROM ev) GROUP BY 1, 2)
                 WHERE hits * 2 >= n_sh),
          tk AS (SELECT doc_id, lang, lower(unnest(string_split_regex(trim(text), '\s+'))) term
                 FROM documents),
          tkn AS (SELECT doc_id, lang, term FROM tk WHERE term <> ''),
          cnt AS (SELECT term, count(*) c_r,
                   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) c_t FROM tkn GROUP BY term),
          g AS (SELECT CAST(sum(c_r) AS DOUBLE) n_r, CAST(sum(c_t) AS DOUBLE) n_t,
                 CAST(count(*) AS DOUBLE) v FROM cnt),
          lr AS (SELECT term, ln(((c_t + 1.0) * (n_r + v)) / ((c_r + 1.0) * (n_t + v))) lr
                 FROM cnt, g),
          tf AS (SELECT doc_id, term, count(*) tf FROM tkn GROUP BY 1, 2),
          sc AS (SELECT doc_id, tf.tf,
                  floor((tf.tf * lr) * 1000000.0 + 0.5) / 1000000.0 contrib
                 FROM tf JOIN lr USING (term)),
          sel AS (SELECT doc_id FROM (
                   SELECT doc_id, CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) s
                   FROM sc GROUP BY doc_id) WHERE s > 0.0),
          lab AS (SELECT q.doc_id, q.n_tok,
                   CASE WHEN q.doc_id <> w.keep_id THEN '2_exact_dup'
                        WHEN q.doc_id IN (SELECT doc_id FROM contam) THEN '3_contaminated'
                        WHEN q.doc_id NOT IN (SELECT doc_id FROM sel) THEN '4_unselected'
                        ELSE '5_kept' END stage
                  FROM q JOIN winners w USING (fp)),
          qf AS (SELECT '1_quality_fail' stage, n_tok FROM raw
                 WHERE doc_id NOT IN (SELECT doc_id FROM q)),
          stages AS (SELECT stage, count(*) n_docs, CAST(sum(n_tok) AS BIGINT) n_tokens
                     FROM (SELECT stage, n_tok FROM lab UNION ALL SELECT * FROM qf)
                     GROUP BY stage),
          packed AS (SELECT '6_packed_seqs' stage,
                      CAST((n_tokens + 255) // 256 AS BIGINT) n_docs, n_tokens
                     FROM stages WHERE stage = '5_kept')
         SELECT stage, n_docs, n_tokens FROM stages
         UNION ALL SELECT * FROM packed ORDER BY stage""",
    "p01_curation_pipeline" ->
      """WITH q AS (
           SELECT doc_id, lang, text,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_tokens,
             CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
               / len(string_split_regex(trim(text), '\s+')) ttr
           FROM documents),
         g AS (SELECT * FROM q WHERE n_tokens >= 20 AND ttr >= 0.3),
         d AS (SELECT *, row_number() OVER (
                 PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                 ORDER BY doc_id) rn
               FROM g),
         s AS (SELECT * FROM d WHERE rn = 1 AND doc_id % 5 <> 0)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS token_budget,
           floor((CAST(sum(CAST((ttr) AS DECIMAL(18,9))) AS DOUBLE) / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_ttr
         FROM s GROUP BY lang ORDER BY lang""",
    "p03_dataset_report" ->
      """WITH d AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') t,
                 substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) fp
               FROM documents),
          m AS (SELECT doc_id, source, fp, CAST(len(t) AS BIGINT) n_tok,
                 CAST(len(list_distinct(t)) AS DOUBLE)/len(t) ttr FROM d),
          base AS (SELECT source, count(*) n_docs, sum(n_tok) total_tokens,
                    count(DISTINCT fp) n_distinct_fp,
                    sum(CASE WHEN n_tok < 20 OR ttr < 0.3 THEN 1 ELSE 0 END) n_quality_fail
                   FROM m GROUP BY source),
          sh AS (SELECT doc_id, source, list_distinct(list_transform(range(1, len(t)-1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) s
                 FROM d WHERE len(t) >= 3),
          ev AS (SELECT DISTINCT unnest(s) shingle FROM sh WHERE source = 'src0'),
          tr AS (SELECT doc_id, source, unnest(s) shingle FROM sh WHERE source <> 'src0'),
          hit AS (SELECT DISTINCT doc_id, source FROM tr
                  WHERE shingle IN (SELECT shingle FROM ev)),
          c AS (SELECT source, count(*) n_contaminated FROM hit GROUP BY source)
         SELECT b.source, n_docs, CAST(total_tokens AS BIGINT) AS total_tokens,
          CAST(n_docs - n_distinct_fp AS BIGINT) AS n_exact_dups,
          CAST(n_quality_fail AS BIGINT) AS n_quality_fail,
          CAST(coalesce(c.n_contaminated, 0) AS BIGINT) AS n_contaminated
         FROM base b LEFT JOIN c USING (source) ORDER BY source""",
  )
}
