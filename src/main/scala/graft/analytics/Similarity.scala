package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetRows

/** Similarity search over the `embeddings` table (64-dim float
  * vectors).
  *
  *  - [[s01BruteForceTopK]] — exact cosine top-k: broadcast the (small)
  *    query set against the full corpus, rank per query. The corpus
  *    side streams through a single scan — at 100 TB this is one pass,
  *    shuffle-free except the final per-query top-k (TakeOrdered per
  *    partition + merge, via window over query_id which partitions by
  *    the tiny query-id key).
  *  - [[s02LshTopK]] — random-hyperplane LSH: 16-bit sign bucket per
  *    vector from fixed seeded hyperplanes, candidates = same bucket
  *    in ≥ 1 of 4 band tables, exact cosine re-rank within candidates.
  *    The scale path: candidate generation is a hash-bucket join, cost
  *    ~ O(n · bands) instead of O(n · |queries|) per query.
  */
object Similarity {

  /** Deterministic pseudo-random unit hyperplanes: 4 bands × 16 planes
    * × 64 dims, seeded — identical across runs and executors. */
  private[analytics] def hyperplanes(bands: Int, planes: Int, dim: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(bands, planes, dim)(rnd.nextGaussian())
  }

  /** Shared per-query ranking: (query_id, neighbor_id, `scoreName`)
    * → (query_id, rnk, neighbor_id, `scoreName`), top `k` per query by
    * (score desc, neighbor_id asc).
    *
    * Every ANN path ends in this step, and a
    * `row_number() OVER (PARTITION BY query_id)` window here shuffles
    * ALL scored rows into |queries| partitions — corpus-sized and
    * skewed at scale. [[graft.functions.BoundedTopK]] instead
    * partially aggregates map-side: each input partition contributes
    * one ≤ k-entry buffer per query to the exchange, so the shuffle is
    * |queries|·partitions·k no matter how large the scored input was.
    * Identical output to the window (same total order). */
  private[analytics] def rankTopK(scored: DataFrame, k: Int,
                                  scoreName: String = "cos_sim"): DataFrame = {
    import graft.functions.BoundedTopK.top_k_by
    scored.groupBy("query_id")
      .agg(top_k_by(col(scoreName), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "e")))
      .select(col("query_id"), (col("p") + 1).cast("bigint").as("rnk"),
              col("e.id").as("neighbor_id"), col("e.score").as(scoreName))
  }

  /** Exact brute-force cosine top-10 per query vector (every 100th
    * vec_id). Oracle-checked. One scan of the corpus against a
    * broadcast query set; per-pair work is a single codegen'd dot. */
  def s01BruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Dedup.normalizedVectors(spark, dir)
    bruteTopK(e, e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm")),
      k = 10)
      .orderBy("query_id", "rnk")
  }

  /** Exact brute-force core over normalized frames — corpus
    * (vec_id, v, norm), queries (query_id, qv, qnorm). Ids share one
    * namespace: a corpus row with vec_id == query_id is the query
    * itself and is excluded. */
  private[analytics] def bruteTopK(e: DataFrame, q: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              Det.dround(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** Rank window for [[s10HardNegatives]]: everything up to rank
    * [[HardNegSkip]] is a presumed positive (retrieval would surface
    * it as an answer — training against it risks a false negative);
    * the [[HardNegTake]] ranks after that are the near misses that
    * actually sharpen a contrastive margin. The absolute ceiling
    * still applies: a cosine ≥ [[NearDupCeiling]] "negative" is
    * almost surely a duplicate mislabeled. */
  private val HardNegSkip = 10
  private val HardNegTake = 5
  private val NearDupCeiling = 0.95

  /** Hard-negative mining — the training-data op behind every
    * contrastive embedding run (SimCSE/DPR-style): for each anchor,
    * skip the top-[[HardNegSkip]] neighbors (presumed positives) and
    * mine the next [[HardNegTake]] ranks, excluding near-duplicates.
    * The rank window, unlike an absolute similarity band, adapts to
    * the corpus's score distribution — the standard guard against
    * false negatives among top retrieval hits. Exact tier,
    * oracle-checked: one corpus scan against the broadcast anchor
    * set, ranking via the bounded map-side top-k (15 entries per
    * anchor per partition reach the exchange — never a per-anchor
    * shuffle of all scored rows). At 100 TB the same skip-and-take
    * composes over [[ivfTopK]]'s probe shortlist instead of the full
    * scan, exactly the brute→IVF swap every other similarity gate
    * makes. */
  def s10HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = Dedup.normalizedVectors(spark, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Det.dround(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4).as("cos_sim"))
      .filter(col("cos_sim") < NearDupCeiling)
    rankTopK(scored, HardNegSkip + HardNegTake)
      .filter(col("rnk") > HardNegSkip)
      .select(col("query_id"), (col("rnk") - HardNegSkip).as("rnk"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** LSH-bucketed approximate top-k: same output shape as s01 but only
    * candidates sharing an LSH band bucket with the query are scored.
    * Rows-only check (approximate by construction). */
  def s02LshTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    lshTopK(e, e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      k = 10)
      .orderBy("query_id", "rnk")
  }

  /** (id, emb, band, sig) LSH bucket rows for a vector frame — 16
    * bands × 6-bit sign buckets over seeded random hyperplanes: for
    * moderate-similarity neighbors (θ≈60°) per-band collision is
    * (1-θ/π)^6 ≈ 0.08, so 16 bands give ~70% recall; raise Planes
    * (finer buckets, fewer candidates) when the corpus has
    * genuinely-near duplicates, raise Bands for recall. The 6-bit sign
    * signature is a left-fold acc*2 + bit, bit = sign(dot(v, plane)) —
    * the per-plane dot is the tight-loop array_dot expression (an
    * interpreted zip_with+aggregate fold here allocated a 64-element
    * product array per plane per band per vector and dominated s02's
    * runtime). Shared by the query-top-k (s02) and pairwise-dedup
    * (d07) paths. */
  private[analytics] def lshBuckets(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val Bands = 16; val Planes = 6; val Dim = 64
    val hp = hyperplanes(Bands, Planes, Dim)
    val spark2 = df.sparkSession
    import spark2.implicits._
    val hpDf = broadcast(
      hp.zipWithIndex.map { case (planes, b) => (b, planes.map(_.toSeq).toSeq) }
        .toSeq.toDF("band", "planes"))
    import graft.functions.VectorFunctions._
    def signature = aggregate(col("planes"), lit(0L), (acc, plane) =>
      acc * 2 + when(array_dot(col("v64"), plane) > 0, lit(1L)).otherwise(lit(0L)))
    df.select(col(idCol), col(embCol),
        as_double_array(col(embCol)).as("v64"))
      .crossJoin(hpDf)
      .select(col(idCol), col(embCol), col("band"), signature.as("sig"))
  }

  /** Random-hyperplane LSH core — corpus (vec_id, embedding), queries
    * (query_id, q_emb); same id-namespace rule as [[bruteTopK]]. */
  private[analytics] def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val bucketed = lshBuckets(corpus, "vec_id", "embedding")
    val qb = lshBuckets(queries, "query_id", "q_emb")
    val cands = bucketed.as("c").join(broadcast(qb).as("q"),
        col("c.band") === col("q.band") && col("c.sig") === col("q.sig") &&
        col("c.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
              col("q.q_emb").as("q_emb"), col("c.embedding").as("embedding"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.select(col("query_id"), col("neighbor_id"),
      round(Dedup.cosine(col("q_emb"), col("embedding")), 4).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) approximate top-k: a deterministic k-means
    * coarse quantizer (Lloyd iterations as DataFrame aggregations)
    * partitions the corpus into `K` cells; each query probes its
    * `nProbe` nearest centroids and exact-reranks only those cells.
    * The 100 TB shape: the corpus is scanned once to assign cells
    * (then stored partitioned by cell), and a query touches
    * nProbe/K of the data. */
  // (neg cosine, cell) struct per centroid, as PURE per-row
  // expressions over the K=16 driver-side centroid literals — the
  // lexicographic array_min/array_sort over this array is the argmax
  // (score desc, cell asc). No crossJoin, no aggregation, no shuffle:
  // nearest-centroid assignment is a narrow map over the corpus —
  // the only shape that survives a Lloyd iteration at 100 TB.
  private[analytics] def cellScores(cents: Array[(Int, Array[Double])],
                                    v: Column, norm: Column): Column = {
    import graft.functions.VectorFunctions._
    array(cents.toIndexedSeq.map { case (cell, c) =>
      struct((-array_dot(v, typedLit(c)) / norm).as("ns"), lit(cell).as("cell"))
    }: _*)
  }
  private[analytics] def cellOf(cents: Array[(Int, Array[Double])],
                                v: Column, norm: Column): Column =
    array_min(cellScores(cents, v, norm)).getField("cell")

  /** True cosine of `v` against every centroid, positionally — unlike
    * [[cellScores]]'s assignment score (which drops centroid norms
    * because argmax doesn't need them), the ANGULAR BOUNDS built on
    * this (maintenance admission in [[Graph]], radius-search pruning
    * in [[rangeSearch]]) need the real angle, so the centroid norm
    * divides here. Positional: callers index it with [[cellOf]]'s
    * assignment id, which requires cell ids 0..K−1 in array order. */
  private[analytics] def cosToCentroids(cents: Array[(Int, Array[Double])],
                                        v: Column, norm: Column): Column = {
    import graft.functions.VectorFunctions._
    array(cents.toIndexedSeq.map { case (_, c) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      array_dot(v, typedLit(c)) / (norm * lit(cn))
    }: _*)
  }

  /** Clamped arccos — the rounding-safe angle of a cosine column. */
  private[analytics] def angleOf(c: Column): Column =
    acos(greatest(lit(-1.0), least(lit(1.0), c)))

  /** Fit the IVF coarse quantizer (deterministic Lloyd iterations) and
    * assign every vector to its nearest cell. Returns the assigned
    * corpus (vec_id, v, norm, cell) and the fitted centroids — the
    * `cell` column is the partition key a 100 TB deployment writes the
    * corpus under (see the layout spec in PlanSpec). */
  private[analytics] def ivfFit(spark: SparkSession, dir: String,
                                k: Int = 16, iters: Int = 10)
      : (DataFrame, Array[(Int, Array[Double])]) = {
    val (assigned, cents, _) = ivfFitDir(spark, dir, k, iters)
    (assigned, cents)
  }

  /** The dir-level quantizer fit MEMOIZED per (JVM, sf dir, k, iters):
    * the fit is deterministic (strided sample, fixed-seed-free Lloyd),
    * so every gate over the same corpus trains the SAME codebook —
    * s03/s04/s06/s07 and the streaming ingest previously each re-ran
    * the sample collect + Lloyd per gate. Holds only the K centroid
    * arrays and the ≤[[MaxFitVectors]]-row sample (≈10 MB cap) on the
    * driver; assignment stays a per-gate narrow pass. This is the
    * production shape — the codebook is a train-once artifact (FAISS's
    * train/add split), like the kNN edge list and the stored layouts. */
  private val ivfFitCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int),
    (Array[(Int, Array[Double])], Array[(Long, Array[Double])])]()

  private def fitCached(spark: SparkSession, dir: String, k: Int, iters: Int)
      : (Array[(Int, Array[Double])], Array[(Long, Array[Double])]) =
    ivfFitCache.computeIfAbsent((dir, k, iters), { _ =>
      val e = Dedup.normalizedVectors(spark, dir).cache()
      try { val s = localFitSample(e); (lloydIvf(s, k, iters), s) }
      finally e.unpersist()
    })

  /** [[ivfFitSampled]] for the dir's own corpus, through the memoized
    * fit. The corpus is cached for the assignment + query scans (the
    * runners clearCache() per query), matching ivfFitSampled's
    * contract. */
  private[analytics] def ivfFitDir(spark: SparkSession, dir: String,
                                   k: Int = 16, iters: Int = 10)
      : (DataFrame, Array[(Int, Array[Double])], Array[(Long, Array[Double])]) = {
    val (cents, sample) = fitCached(spark, dir, k, iters)
    val e = Dedup.normalizedVectors(spark, dir).cache()
    (e.withColumn("cell", cellOf(cents, col("v"), col("norm"))), cents, sample)
  }

  /** Codebook-only fit — callers that never read the assignment frame
    * (streaming ingest assigns ARRIVING vectors per-row against the
    * returned centroid literals). Memoized like [[ivfFitDir]]; no
    * corpus cache outlives the call. */
  private[analytics] def ivfCentroids(spark: SparkSession, dir: String,
                                      k: Int = 16, iters: Int = 10)
      : Array[(Int, Array[Double])] =
    fitCached(spark, dir, k, iters)._1

  /** Vectors the quantizer trains on: a deterministic id-strided
    * sample capped at [[MaxFitVectors]] (~10 MB at the cap), collected
    * to the driver and sorted by vec_id. Codebook quality needs
    * thousands of representative vectors, not the corpus — the FAISS
    * train/add split taken to its conclusion: TRAINING is a bounded
    * driver-local loop (so Lloyd iteration count costs microseconds,
    * never a wall-clock anyone is tempted to trade recall for), and
    * only assignment/encode scan the corpus distributed. */
  private val MaxFitVectors = 20000L
  private def localFitSample(e: DataFrame): Array[(Long, Array[Double])] = {
    val stride = math.max(1L, e.count() / MaxFitVectors)
    val s = if (stride > 1) e.filter(col("vec_id") % stride === 0) else e
    s.select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
  }

  private def ddot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Driver-side Lloyd for the IVF coarse quantizer — the same
    * assignment total order as [[cellOf]] (score desc, cell asc; init
    * = the K lowest-vec_id sample vectors) and the same empty-cell
    * rule as the aggregation it replaces (an emptied cell drops out of
    * the codebook). */
  private def lloydIvf(sample: Array[(Long, Array[Double])], k: Int, iters: Int)
      : Array[(Int, Array[Double])] = {
    var centroids: Array[(Int, Array[Double])] =
      sample.take(k).zipWithIndex.map { case ((_, v), i) => (i, v) }
    val norms = sample.map { case (_, v) => math.sqrt(ddot(v, v)) }
    for (_ <- 0 until iters) {
      val sums = scala.collection.mutable.LinkedHashMap.empty[Int, (Array[Double], Long)]
      var i = 0
      while (i < sample.length) {
        val v = sample(i)._2
        var bestCell = -1; var bestScore = Double.MaxValue
        centroids.foreach { case (cell, c) =>
          val ns = -ddot(v, c) / norms(i)
          if (ns < bestScore || (ns == bestScore && cell < bestCell)) {
            bestScore = ns; bestCell = cell
          }
        }
        val (acc, n) = sums.getOrElseUpdate(bestCell, (new Array[Double](v.length), 0L))
        var d = 0
        while (d < v.length) { acc(d) += v(d); d += 1 }
        sums(bestCell) = (acc, n + 1)
        i += 1
      }
      centroids = sums.toArray.sortBy(_._1).map { case (cell, (acc, n)) =>
        (cell, acc.map(_ / n))
      }
    }
    centroids
  }

  /** [[ivfFit]] over any normalized corpus frame (vec_id, v, norm).
    * The corpus is cached through the whole query — the assignment
    * scan and the query projection both read it, and the Bench/Verify
    * runners clearCache() after each query. */
  private[analytics] def ivfFitOf(corpus: DataFrame, k: Int = 16, iters: Int = 10)
      : (DataFrame, Array[(Int, Array[Double])]) = {
    val (assigned, centroids, _) = ivfFitSampled(corpus, k, iters)
    (assigned, centroids)
  }

  /** [[ivfFitOf]] that also returns the collected fit sample, so a
    * composed consumer (IVF-PQ trains TWO quantizers) reuses one
    * count + one collect instead of re-sampling the cached corpus. */
  private[analytics] def ivfFitSampled(corpus: DataFrame, k: Int = 16, iters: Int = 10)
      : (DataFrame, Array[(Int, Array[Double])], Array[(Long, Array[Double])]) = {
    val e = corpus.cache()
    val sample = localFitSample(e)
    val centroids = lloydIvf(sample, k, iters)
    (e.withColumn("cell", cellOf(centroids, col("v"), col("norm"))), centroids, sample)
  }

  def s03IvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, centroids) = ivfFit(spark, dir)
    ivfTopK(assigned, centroids,
      assigned.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm")),
      k = 10)
      .orderBy("query_id", "rnk")
  }

  /** IVF probe+rerank core over an [[ivfFit]]-assigned corpus —
    * queries (query_id, qv, qnorm); same id-namespace rule as
    * [[bruteTopK]]. */
  private[analytics] def ivfTopK(assigned: DataFrame,
                                 centroids: Array[(Int, Array[Double])],
                                 queries: DataFrame, k: Int,
                                 nProbe: Int = 6): DataFrame = {
    import graft.functions.VectorFunctions._
    // queries probe their nProbe nearest cells: sort the same K-struct
    // array per row and slice — again no crossJoin, no aggregation
    val probes = queries.select(col("query_id"), col("qv"), col("qnorm"),
      explode(slice(array_sort(cellScores(centroids, col("qv"), col("qnorm"))),
        1, nProbe).getField("cell")).as("cell"))

    // exact rerank within probed cells only; each vector lives in
    // exactly one cell so (query_id, neighbor_id) is already unique —
    // no dedup shuffle needed. Probes are tiny (|queries|·nProbe):
    // broadcast them against the assigned corpus.
    val scored = broadcast(probes).join(assigned, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4).as("cos_sim"))
    rankTopK(scored, k)
  }

  // ---- IVF-PQ: product-quantized approximate scoring ----
  private val PqM = 8       // subspaces
  private val PqSubDim = 8  // dims per subspace (8×8 = 64)
  /** Vector dimension the PQ layout assumes (PqM × PqSubDim). */
  private[analytics] val PqDim = 64
  private val PqKs = 16     // centroids per subspace → 4-bit codes

  /** 1-based slice of the `m`-th subvector. */
  private def subv(v: Column, m: Int): Column = slice(v, m * PqSubDim + 1, PqSubDim)

  /** Nearest sub-centroid id for a subvector, as a pure per-row
    * expression over the Ks codebook literals: argmin of squared L2 =
    * argmin of (|c|² − 2·x·c) since |x|² is constant per row — so the
    * per-cell score is one codegen'd [[graft.functions.VectorFunctions.array_dot]]
    * plus a scalar, and the argmin is a lexicographic array_min over
    * (score, cell) structs. No crossJoin, no shuffle — the same
    * assignment shape as the IVF coarse quantizer. */
  private def pqCell(codebook: Array[Array[Double]], sv: Column): Column = {
    import graft.functions.VectorFunctions._
    array_min(array(codebook.zipWithIndex.toIndexedSeq.map { case (c, cell) =>
      val cNorm2 = c.map(x => x * x).sum
      struct((lit(cNorm2) - lit(2.0) * array_dot(sv, typedLit(c.toSeq))).as("d"),
             lit(cell).as("cell"))
    }: _*)).getField("cell")
  }

  /** Driver-side Lloyd for the per-subspace PQ codebooks — same
    * assignment total order as [[pqCell]] (argmin of |c|²−2·x·c, tie →
    * lowest cell), same deterministic spread init (Ks id-strided
    * sample vectors, topped up from the lowest ids when the id space
    * under-fills), same empty-cell rule (keep the previous centroid).
    * All M subspaces fit in one pass over the sample per iteration. */
  private def lloydPq(sample: Array[(Long, Array[Double])], iters: Int)
      : Array[Array[Array[Double]]] = {
    val stride = math.max(1L, sample.length.toLong / PqKs)
    var seed = sample.filter(_._1 % stride == 0).take(PqKs).map(_._2)
    if (seed.length < PqKs)
      seed = (seed ++ sample.take(PqKs).map(_._2)).take(PqKs)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(PqM)(m => seed.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)))
    for (_ <- 0 until iters) {
      books = Array.tabulate(PqM) { m =>
        val book = books(m)
        val cNorm2 = book.map(c => ddot(c, c))
        val sums = Array.fill(PqKs)(new Array[Double](PqSubDim))
        val counts = new Array[Long](PqKs)
        sample.foreach { case (_, v) =>
          val sv = v.slice(m * PqSubDim, (m + 1) * PqSubDim)
          var bestCell = 0; var bestD = Double.MaxValue
          var cell = 0
          while (cell < PqKs) {
            val d = cNorm2(cell) - 2.0 * ddot(sv, book(cell))
            if (d < bestD) { bestD = d; bestCell = cell }
            cell += 1
          }
          var i = 0
          while (i < PqSubDim) { sums(bestCell)(i) += sv(i); i += 1 }
          counts(bestCell) += 1
        }
        // a cell can go empty during Lloyd: keep its previous centroid
        Array.tabulate(PqKs)(cell =>
          if (counts(cell) > 0) sums(cell).map(_ / counts(cell)) else book(cell))
      }
    }
    books
  }

  /** Fit per-subspace codebooks ([[lloydPq]] over the bounded driver
    * sample) and PQ-encode the corpus to `M` 4-bit codes — 8 bytes a
    * vector instead of 256, the compression that lets a 100 TB
    * corpus's index live in executor memory. The encode is the only
    * corpus-sized pass. Returns the encoded corpus (vec_id, norm,
    * codes — plus `cell` when the input is an [[ivfFit]]-assigned
    * frame, so the IVF-PQ path can prune the ADC scan to probed
    * cells) and the codebooks. */
  private[analytics] def pqFitEncode(corpus: DataFrame, iters: Int = 8,
                                     sample: Option[Array[(Long, Array[Double])]] = None)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    val books = lloydPq(sample.getOrElse(localFitSample(corpus)), iters)
    val codes = array((0 until PqM).map(m => pqCell(books(m), subv(col("v"), m))): _*)
    // cached: output-sized (8 ints + a norm per vector) AND a hard
    // materialization boundary — without it CollapseProject inlines the
    // 8×16-dot code assignment through the ADC join and re-encodes
    // every vector once per matched probe (measured 11 s vs ~2 s at
    // sf0.1). At real scale, write the codes out once instead.
    val keep = (Seq(col("vec_id"), col("norm")) ++
      (if (corpus.columns.contains("cell")) Seq(col("cell")) else Nil)) :+ codes.as("codes")
    (corpus.select(keep: _*).cache(), books)
  }

  /** IVF-PQ approximate top-k — the full FAISS IVFPQ + refine shape:
    * the [[ivfFit]] coarse quantizer partitions the corpus into cells,
    * the PQ codebooks compress each vector to `M` 4-bit codes, and a
    * query (a) probes its `nProbe` nearest cells, (b) ADC-scores ONLY
    * the encoded vectors in those cells — each approximate cosine is M
    * LUT lookups against the query's precomputed M×Ks table — and
    * (c) exact-reranks a `refine·k` shortlist fetched by id. At 100 TB
    * the corpus is stored partitioned by cell (PlanSpec's layout test),
    * so the ADC pass reads nProbe/K of an index already 32× smaller
    * than the raw vectors. Rows-only gate (approximate by
    * construction). */
  def s04IvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, centroids, sample) = ivfFitDir(spark, dir)
    val queries = assigned.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    ivfPqTopK(assigned, centroids, queries, k = 10, sample = Some(sample))
      .orderBy("query_id", "rnk")
  }

  /** IVF-PQ core over an [[ivfFit]]-assigned corpus
    * (vec_id, v, norm, cell) — queries (query_id, qv, qnorm); same
    * id-namespace rule as [[bruteTopK]]. */
  private[analytics] def ivfPqTopK(assigned: DataFrame,
                                   centroids: Array[(Int, Array[Double])],
                                   queries: DataFrame, k: Int,
                                   nProbe: Int = 8, refine: Int = 16,
                                   sample: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    import graft.functions.VectorFunctions._
    val (encoded, books) = pqFitEncode(assigned, sample = sample)
    // per-query ADC lookup table: luts[m][cell] = q_sub(m) · codebook(m)(cell)
    val luts = array((0 until PqM).map { m =>
      array((0 until PqKs).map { cell =>
        array_dot(subv(col("qv"), m), typedLit(books(m)(cell).toSeq))
      }: _*)
    }: _*)
    // one probe row per (query, probed cell): the ADC join below is an
    // EQUI join on cell, so a query only ever scores the nProbe/K
    // probed fraction of the encoded corpus — the IVF stage the flat
    // ADC scan lacked
    val probes = queries.select(col("query_id"), col("qnorm"), luts.as("luts"),
      explode(slice(array_sort(cellScores(centroids, col("qv"), col("qnorm"))),
        1, nProbe).getField("cell")).as("cell"))
    // ADC sum as a fixed chain of element_at lookups — builtin,
    // codegen'd expressions only: an interpreted zip_with+aggregate
    // lambda pair here ran 5× slower than the 64-dim brute-force dot
    // it was supposed to undercut
    val adcSum = (0 until PqM).map { m =>
      element_at(element_at(col("luts"), m + 1), element_at(col("codes"), m + 1) + 1)
    }.reduce(_ + _)
    val adc = encoded.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (adcSum / (col("qnorm") * col("norm"))).as("adc_sim"))
    // shortlist through the bounded top-k aggregate: the post-ADC
    // exchange carries ≤ refine·k entries per (query, partition) —
    // query-bounded where the old row_number window shuffled every
    // ADC-scored row into |queries| partitions
    val shortlist = rankTopK(adc, k * refine, "adc_sim")
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank: fetch full vectors for shortlist rows only —
    // |queries|·refine·k of them, so everything after the ADC scan is
    // query-bounded, never corpus-bounded
    val exact = shortlist
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"), col("qnorm"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4).as("cos_sim"))
    rankTopK(exact, k)
  }

  // ---- k-NN graph: top-k neighbors for EVERY corpus vector ----

  /** Exact k-NN graph (k=5) — the all-pairs labeled baseline, same
    * role as d04/s01: every vector's top-5 cosine neighbors, from a
    * full self-join. O(N²) by construction; the scale tier is
    * [[s06KnnGraphIvf]]. Oracle-checked. */
  def s05KnnGraph(spark: SparkSession, dir: String): DataFrame =
    knnEdges(spark, dir).orderBy("vec_id", "rnk")

  /** The exact kNN similarity graph as a per-(JVM, sf dir) parquet
    * ARTIFACT (Layout's `ensure*` pattern): built once by the first
    * caller, then read by every consumer — s05 itself, the whole
    * g-family (g01–g05), and p06's coreset selection, which previously
    * each recomputed the O(N²) self-join from scratch (6× per bench
    * pass; it owned 4 of the top-5 warm timings). This is also the
    * production shape: the similarity graph over a 100 TB corpus is a
    * maintained artifact (built by the s06 IVF tier, appended via s11,
    * compacted like the ANN index), never a per-query recompute.
    * Values round-trip parquet exactly (ids are longs, cos_sim is the
    * 4-decimal rounded double), so the g-gates' single-node parity
    * invariants are unaffected by the materialization. */
  private[graft] def knnEdges(spark: SparkSession, dir: String): DataFrame =
    ParquetRows.frame(spark, knnEdgesPath(spark, dir))

  /** The memoized artifact's location — consumers that SEED a layout
    * from it (g07's store, st26's scoped store) copy the files
    * instead of re-writing 5N rows through a Spark job. */
  /** Edge fan-out of the maintained kNN artifact: every (node,
    * generation) stores exactly this many edge rows — the
    * rows-per-tombstone-instance the g07/g08 compaction policy's
    * metadata-cheap covered estimate multiplies by. */
  private[analytics] val KnnEdgeK = 5

  private[analytics] def knnEdgesPath(spark: SparkSession, dir: String): String =
    // FixtureClock'd like every other once-per-JVM seed artifact
    // ("yesterday's" exact edge store — O(N²) by design): in the bench
    // g07's clocked store builder reaches this first (nested sections
    // count once), but a consumer that skips g07 — g08 standalone,
    // ChainProbe's 10× sweep — must not book the seed as engine time
    graft.core.FixtureClock.staged("knn-edges", dir) { out =>
      knnGraphExact(Dedup.normalizedVectors(spark, dir), k = KnnEdgeK)
        .write.mode("overwrite").parquet(out)
    }

  private[analytics] def knnGraphExact(e: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    // no broadcast hint: BOTH sides are the corpus — AQE promotes the
    // build side only while it actually fits (the d04 rule)
    val scored = e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        Det.dround(array_dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 4).as("cos_sim"))
    rankTopK(scored, k).withColumnRenamed("query_id", "vec_id")
  }

  /** IVF-bucketed k-NN graph — the scale tier every SemDeDup-style
    * curation run builds before clustering: each vector probes its
    * `nProbe` nearest cells and scores only those cells' members, so
    * total pair work is ~N·(nProbe/K)·N/K·K = N²·nProbe/K instead of
    * N², and the probe→corpus join is a shuffle EQUI join on cell —
    * nothing is broadcast, because unlike the query-set paths BOTH
    * sides grow with the corpus. At fixture scale K=16 keys make hot
    * cells (AQE skew-split handles them); a real deployment sizes
    * K ~ √N so cell cardinality grows with the data. Rows-only gate
    * (approximate by construction; recall vs s05 floored in
    * SimilaritySpec). */
  def s06KnnGraphIvf(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, centroids, _) = ivfFitDir(spark, dir)
    knnGraphIvf(assigned, centroids, k = 5).orderBy("vec_id", "rnk")
  }

  private[analytics] def knnGraphIvf(assigned: DataFrame,
                                     centroids: Array[(Int, Array[Double])],
                                     k: Int, nProbe: Int = 4): DataFrame = {
    import graft.functions.VectorFunctions._
    val probes = assigned.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("norm").as("qnorm"),
      explode(slice(array_sort(cellScores(centroids, col("v"), col("norm"))),
        1, nProbe).getField("cell")).as("cell"))
    val scored = probes
      .join(assigned.select(col("cell"), col("vec_id").as("neighbor_id"),
        col("v"), col("norm")), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4).as("cos_sim"))
    rankTopK(scored, k).withColumnRenamed("query_id", "vec_id")
  }

  /** User-facing k-NN graph over an arbitrary (vec_id, embedding)
    * frame: top-`k` cosine neighbors for every vector, as
    * (vec_id, rnk, neighbor_id, cos_sim). `method`: `"brute"` (exact
    * O(N²) baseline) or `"ivf"` (cell-bucketed — the 100 TB path).
    * `cells` is the IVF codebook size: per-cell pair work is
    * (N/cells)², so a growing corpus must grow cells ~ √N to keep
    * total work linear — the gate fixes 16 for the fixture;
    * ScaleProbe demonstrates the √N sizing at 10×. */
  def knnGraph(corpus: DataFrame, k: Int = 10, method: String = "ivf",
               cells: Int = 16): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = corpus.select(col("vec_id"), as_double_array(col("embedding")).as("v"))
      .withColumn("norm", array_norm(col("v")))
    method match {
      case "brute" => knnGraphExact(e, k)
      case "ivf" =>
        val (assigned, centroids, _) = ivfFitSampled(e, k = cells)
        knnGraphIvf(assigned, centroids, k)
      case other => throw new IllegalArgumentException(
        s"unknown knnGraph method '$other' (brute | ivf)")
    }
  }

  /** Cluster balance + compactness stats over the fitted k-means
    * cells — the health check every SemDeDup-style curation run does
    * before trusting per-cluster dedup: per cell, member count, mean
    * and minimum cosine to the assigned centroid. One narrow pass
    * (the per-row centroid cosine is the same literal-array expression
    * as the assignment itself — no join, no second scan) plus one
    * 16-row aggregation. Rows-only gate (Lloyd isn't SQL-expressible);
    * SimilaritySpec pins partition totality and determinism. */
  def s07ClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, centroids, _) = ivfFitDir(spark, dir)
    clusterStats(assigned, centroids).orderBy("cell")
  }

  private[analytics] def clusterStats(assigned: DataFrame,
                                      centroids: Array[(Int, Array[Double])]): DataFrame = {
    val cnorms = typedLit(centroids.map { case (c, v) => c -> math.sqrt(ddot(v, v)) }.toMap)
    // cosine to the assigned centroid: -ns of the winning struct is
    // dot/|v|; divide by the centroid norm looked up from the 16-entry
    // map literal. Rounded per row so every downstream aggregate is
    // order-independent.
    val sim = Det.dround(
      (-array_min(cellScores(centroids, col("v"), col("norm"))).getField("ns")) /
        element_at(cnorms, col("cell")), 4)
    assigned.select(col("cell").cast("long").as("cell"), sim.as("sim"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
           Det.avgDec9R(col("sim"), 4).as("avg_sim"),
           min(col("sim")).as("min_sim"))
  }

  /** Per-cell squared-distance scores for classic (Euclidean) k-means:
    * argmin ||v−c||² = argmin (|c|² − 2·v·c) since |v|² is constant
    * per row — same literal-centroid narrow-map shape as [[cellScores]]
    * (no join, no shuffle for assignment), ties broken by cell asc. */
  private def kmeansScores(cents: Array[(Int, Array[Double])], v: Column): Column = {
    import graft.functions.VectorFunctions._
    array(cents.toIndexedSeq.map { case (cell, c) =>
      struct((lit(ddot(c, c)) - lit(2.0) * array_dot(v, typedLit(c))).as("d2"),
        lit(cell).as("cell"))
    }: _*)
  }

  /** Fully-distributed k-means (Lloyd) — the tier above
    * [[ivfFitSampled]]'s bounded-driver-sample fit, for when the
    * codebook must reflect the WHOLE corpus (the SemDeDup clustering
    * precursor) rather than a 20k sample. Per iteration:
    *  - assignment is a narrow map against the centroid literals
    *    (no join, no shuffle — the only assignment shape that
    *    survives a Lloyd iteration at 100 TB);
    *  - the update is ONE partial-aggregating groupBy on
    *    (cell, component): every task pre-reduces its partition to
    *    ≤ k·d rows before the exchange, so the shuffle carries
    *    k·d·partitions rows however large the corpus is, and only the
    *    k·d centroid table ever reaches the driver.
    * Component sums are DECIMAL, so the updated centroids are
    * bit-identical under any partitioning/merge order — with double
    * sums, boundary vectors' assignments (and thus the whole
    * clustering) would vary run to run.
    *
    * Init: the k lowest-vec_id vectors (deterministic). An emptied
    * cell drops out, like [[lloydIvf]]. Returns the assigned corpus
    * (with per-row squared distance), the centroids, and — when
    * `trace` is set — the per-iteration mean squared distance BEFORE
    * each update; Lloyd guarantees that trace is non-increasing, and
    * KmeansSpec pins it. The trace costs one extra aggregation job
    * per iteration, so production callers (the s08/p02 gates) leave
    * it off. */
  private[graft] def kmeansFit(corpus: DataFrame, k: Int = 16, iters: Int = 5,
                                   trace: Boolean = false)
      : (DataFrame, Array[(Int, Array[Double])], Seq[Double]) = {
    // cache for the iteration scans — unless the caller already cached
    // this frame (p02 shares its qe cache and owns its lifetime). An
    // OWNED cache is released after the last iteration: the returned
    // assignment frame is one narrow pass, so its consumer re-reads
    // the source once instead of pinning corpus-sized executor storage
    // until someone remembers to clearCache (at 100 TB the corpus
    // wouldn't fit storage anyway — the iterations are what the cache
    // is for).
    val ownsCache = corpus.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val e = if (ownsCache) corpus.cache() else corpus
    var cents: Array[(Int, Array[Double])] = e.orderBy("vec_id").limit(k)
      .select(col("v")).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toArray) }
    val traceB = Seq.newBuilder[Double]
    for (_ <- 0 until iters) {
      val best = array_min(kmeansScores(cents, col("v")))
      val assigned = e.select(col("v"),
        best.getField("cell").as("cell"),
        // |v|² + (|c|² − 2·v·c) = ||v−c||²; rounded per row so the
        // objective aggregate is merge-order-independent
        Det.dround(col("norm") * col("norm") + best.getField("d2"), 6).as("sqdist"))
      if (trace)
        traceB += assigned.agg(Det.avgDec9R(col("sqdist"), 6)).first().getDouble(0)
      val sums = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy("cell", "pos")
        .agg(sum(col("col").cast("decimal(28,12)")).as("s"), count(lit(1)).as("n"))
        .collect()
      cents = sums.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (cell, rows) =>
        val dim = rows.map(_.getInt(1)).max + 1
        val c = new Array[Double](dim)
        rows.foreach(r => c(r.getInt(1)) = r.getDecimal(2).doubleValue() / r.getLong(3))
        (cell, c)
      }
    }
    if (ownsCache) e.unpersist()
    val best = array_min(kmeansScores(cents, col("v")))
    (e.select(col("vec_id"), col("v"), col("norm"),
        best.getField("cell").as("cell"),
        Det.dround(col("norm") * col("norm") + best.getField("d2"), 6).as("sqdist")),
      cents, traceB.result())
  }

  /** Distributed-k-means gate: per-cluster size, mean/max squared
    * distance to the centroid, and the smallest member id. Rows-only
    * (iterative Lloyd isn't SQL-expressible); KmeansSpec pins the
    * semantic contract — monotone objective, corpus partition
    * totality, and partitioning-independence of the whole result. */
  /** Distributed-Lloyd centroids memoized per (JVM, sf dir, k, iters)
    * — the kmeansFit analogue of [[ivfFitDir]]'s train-once artifact:
    * s08 and p06 share one fit instead of each re-running the
    * iteration passes. Assignment is re-derived from the cached
    * centroids with kmeansFit's own final-select expression, so the
    * frame is IDENTICAL to a fresh fit's (deterministic init + fixed
    * iteration count). */
  private val kmeansCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int), Array[(Int, Array[Double])]]()

  private[graft] def kmeansFitDir(spark: SparkSession, dir: String,
                                      k: Int = 16, iters: Int = 5)
      : (DataFrame, Array[(Int, Array[Double])]) = {
    val cents = kmeansCache.computeIfAbsent((dir, k, iters), { _ =>
      kmeansFit(Dedup.normalizedVectors(spark, dir), k, iters)._2
    })
    val best = array_min(kmeansScores(cents, col("v")))
    (Dedup.normalizedVectors(spark, dir)
      .select(col("vec_id"), col("v"), col("norm"),
        best.getField("cell").as("cell"),
        Det.dround(col("norm") * col("norm") + best.getField("d2"), 6).as("sqdist")),
      cents)
  }

  def s08KmeansClusters(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, _) = kmeansFitDir(spark, dir)
    assigned
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"),
           Det.avgDec9R(col("sqdist"), 4).as("avg_sqdist"),
           max(col("sqdist")).as("max_sqdist"),
           min(col("vec_id")).as("first_vec"))
      .orderBy("cell")
  }

  // ---- IVF corpus persistence: the cell-partitioned 100 TB layout ----

  /** Fit the IVF quantizer and persist the assigned corpus PARTITIONED
    * BY CELL — the layout a 100 TB deployment stores vectors under, so
    * a probe reads nProbe/K of the directories instead of the corpus
    * (the FAISS add phase, landed as a Hive-style partitioned table).
    * `repartition(cell)` before the write: `partitionBy` alone emits
    * one file per (task × cell) — 32 tasks × K cells of small files —
    * while hashing by cell lands each cell in one task → one file per
    * cell directory at fixture scale (a real deployment repartitions
    * to ~file-sized splits per cell instead). Rows are (vec_id, v,
    * norm, any metadata columns the corpus carries, gen), `gen` 0 at
    * build — the IVF-PQ `_refine` sidecar's shape, so both layouts
    * share their append, live view and compaction. The codebook is written
    * next to the data under `_codebook`: underscore-prefixed paths are
    * invisible to Spark's file index, so the corpus read stays clean
    * while probe sessions skip the refit. The fit cache is released as
    * soon as the write (its last reader) finishes. */
  def writeIvfCorpus(spark: SparkSession, dir: String, out: String,
                     k: Int = 16, iters: Int = 10): Array[(Int, Array[Double])] =
    writeIvfLayout(Dedup.normalizedVectors(spark, dir), out, k, iters)

  /** [[writeIvfCorpus]] over an arbitrary normalized (vec_id, v, norm)
    * frame — the corpus-subset entry the incremental-ingest spec and
    * gate build their base layout from. */
  private[analytics] def writeIvfLayout(corpus: DataFrame, out: String,
                                        k: Int, iters: Int): Array[(Int, Array[Double])] = {
    val e = corpus.cache()
    try {
      val cents = lloydIvf(localFitSample(e), k, iters)
      writeIvfLayoutWith(cents, e, out)
      cents
    } finally e.unpersist()
  }

  /** Append new vectors into an existing [[writeIvfCorpus]] layout
    * WITHOUT refitting — the incremental add phase of a vector index,
    * as a nightly/streaming ingest would run it: assign cells with the
    * STORED codebook (a K-row read), so assignments equal what a
    * one-shot write under that codebook would have produced, then
    * append cell-partitioned part files. Append mode only ADDS files
    * inside the touched cell directories — existing data is never
    * rewritten, probes immediately see old + new rows, and partition
    * pruning is untouched (same directory keys). Cost is one narrow
    * assignment pass + a write bounded by the BATCH, never the stored
    * corpus — the property that makes the layout maintainable at
    * 100 TB (periodic refit/rebalance is a separate offline
    * [[writeIvfCorpus]] run). `vecs` is (vec_id, embedding) plus any
    * metadata columns the stored layout denormalizes (s13's `lang`) —
    * extra columns ride through the append, and the batch's resulting
    * column set must MATCH the stored layout's, or the call fails fast:
    * silently appending a narrower schema would read back null metadata
    * and make filtered probes drop every appended vector. */
  /** Fresh generation for AD-HOC appends (the convenience wrappers):
    * repeated un-generationed appends must ACCUMULATE, never silently
    * replace each other's gen-named files. Uniqueness is layered:
    *
    *  - the base folds the PID in (disjoint per-candidate ranges of
    *    10M generations per pid), so two LIVE processes appending to
    *    one layout can never draw the same generation — the r14
    *    finding: a per-process counter restarting at the same seed
    *    made the second JVM's first append sweep the first JVM's rows;
    *  - before publishing, the chosen generation is checked against
    *    the LAYOUT ([[graft.core.SegmentedIndex.generationPublished]],
    *    a metadata walk) and bumped while taken, so a DEAD process's
    *    published generations (pid since reused, or a crashed
    *    maintainer's) are never swept either.
    *
    * Starts far above any batchId-derived generation a maintainer
    * would pass explicitly for replay idempotency. The check-and-bump
    * is race-free across live processes because their candidate
    * ranges are disjoint; stale on-disk generations have no live
    * writer, so the check cannot race its subject.
    * ForkedAdhocAppendSpec pins two concurrent JVMs accumulating. */
  private val adhocAppendGen =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Width of each pid's disjoint candidate range — crossing it would
    * land in another pid's range, where the check-and-bump CAN race a
    * live writer; exhaustion is therefore a loud failure, not a
    * silent unsafety (r15 advice). 10M ad-hoc draws per process is
    * ~300/s for a year. */
  private val AdhocGenRangeWidth = 10000000L
  private val adhocGenBase: Long =
    1000000000L + ProcessHandle.current().pid() * AdhocGenRangeWidth

  private[analytics] def nextAdhocGen(out: String): Long = {
    def draw(): Long = {
      val i = adhocAppendGen.getAndIncrement()
      require(i < AdhocGenRangeWidth,
        s"ad-hoc generation range exhausted for pid ${ProcessHandle.current().pid()}: " +
          s"$i draws ≥ range width $AdhocGenRangeWidth — the next draw would cross " +
          "into another process's range and could race a live writer")
      adhocGenBase + i
    }
    var g = draw()
    while (graft.core.SegmentedIndex.generationPublished(out, g)) g = draw()
    g
  }

  /** NOT reader-atomic: the publish sweeps a prior attempt's files
    * before the staged files move in one-by-one, so a probe plan
    * built MID-publish can see a partial generation (unlike
    * [[graft.core.DirSwap]]'s two-rename, there is no atomic
    * visibility point). Single-maintainer discipline extends to
    * readers here: sequence appends and probe construction in one
    * loop, or take the advisory lock
    * ([[graft.lock.AdvisoryLock]]) around both. */
  def appendIvfCorpus(spark: SparkSession, out: String, vecs: DataFrame): Unit =
    appendIvfCorpusWith(readIvfCodebook(out), out, vecs,
      ParquetRows.frame(spark, out).columns.toSet)

  /** [[appendIvfCorpus]] with a pre-collected codebook and stored
    * column set — the per-batch entry a streaming ingest loop uses so
    * the K-row codebook read and the layout-schema listing happen once
    * per stream, not once per microbatch. `gen` is stored in the rows'
    * `gen` column and names the published files, so a replayed
    * at-least-once batch replaces its own prior append instead of
    * duplicating it; explicit generation numbers must be unique per
    * layout lifetime except on replay (batchId-derived). */
  private[analytics] def appendIvfCorpusWith(cents: Array[(Int, Array[Double])],
                                             out: String, vecs: DataFrame,
                                             storedCols: Set[String],
                                             gen: Long = -1L): Unit = {
    // the stored layout defines the schema: carry exactly its metadata
    // columns through the append (batch columns the layout doesn't
    // store are dropped), and fail fast when the batch can't supply
    // one — silently appending a narrower schema would read back null
    // metadata and filtered probes would drop every appended vector
    val meta = (storedCols -- Set("vec_id", "v", "norm", "cell", "gen")).toSeq.sorted
    val missing = meta.filterNot(vecs.columns.contains)
    require(missing.isEmpty,
      s"IVF append schema mismatch: stored layout carries metadata column(s) " +
        s"[${missing.mkString(", ")}] the batch does not provide — appended " +
        "rows would read back with null metadata and filtered probes would " +
        "silently drop them")
    appendAssigned(cents, out, vecs, meta, gen)(
      out -> ((Seq("vec_id", "v", "norm") ++ meta :+ "cell").map(col)))
  }

  /** The one vector append of both stored layouts: assign `vecs`
    * (vec_id, embedding and the `meta` columns) to cells under `cents`
    * ONCE, then publish generation `gen` (< 0 = ad-hoc: a fresh
    * cross-process-safe generation, [[nextAdhocGen]]; explicit
    * generations are the replay contract, published verbatim) of each
    * `(path, columns)` layout from that one assigned batch, every row
    * carrying `gen`. Batch-sized by contract (a CDC diff / microbatch,
    * never the corpus): Bounded.localize runs the embed + cell
    * assignment cluster-side in its one capped-collect job and hands
    * the rows back driver-local, so each publish is ONE single-stage
    * job; over-cap batches keep a checkpoint + repartition shape.
    * Each publish is a per-generation OVERWRITE (gen-named files), so
    * an at-least-once maintainer replaying a batch replaces its own
    * prior rows instead of duplicating them. */
  private def appendAssigned(cents: Array[(Int, Array[Double])], out: String,
                             vecs: DataFrame, meta: Seq[String], gen: Long)
                            (layouts: (String, Seq[Column])*): Unit = {
    import graft.functions.VectorFunctions._
    val genPub = if (gen >= 0L) gen else nextAdhocGen(out)
    val assigned = graft.core.Bounded.localize(vecs
      .select(col("vec_id") +: as_double_array(col("embedding")).as("v") +: meta.map(col): _*)
      .withColumn("norm", array_norm(col("v")))
      .withColumn("cell", cellOf(cents, col("v"), col("norm"))))
    try layouts.foreach { case (path, cols) =>
      // the parallel view (an RDD scan, not the LocalRelation) keeps
      // projections such as the nibble-pack codegen'd instead of folded
      // driver-side interpreted; coalesce(1) keeps the write one task
      // writing one file per touched cell — exactly the repartition
      // shape's output, without its exchange
      val batch =
        if (assigned.local)
          graft.core.Bounded.parallel(assigned).select(cols: _*)
            .withColumn("gen", lit(genPub)).coalesce(1)
        else
          assigned.df.select(cols: _*)
            .withColumn("gen", lit(genPub)).repartition(col("cell"))
      graft.core.SegmentedIndex.publishGeneration(path, genPub) { stage =>
        batch.write.mode("overwrite").partitionBy("cell").parquet(stage)
      }
    } finally { assigned.release(); () }
  }

  /** Tombstone vector ids in a stored IVF or IVF-PQ layout — the
    * DELETE half of index maintenance. O(|ids|) append into the
    * `_tombstones` sidecar: no data file is touched, probes exclude the
    * ids' rows whose `gen` is at or below `uptoGen` immediately (a
    * bounded anti-join), and the next compaction drops the rows
    * physically (PQ: codes AND `_refine`) and clears the sidecar. The
    * default `uptoGen = Long.MaxValue` suppresses every generation
    * until that compaction; the maintainers delete at `gen − 1`
    * ([[applyIvfBatch]]). Visibility follows probe CONSTRUCTION order:
    * a probe plan built before the tombstone landed keeps its snapshot
    * (Spark fixes the sidecar's file index at plan time), so the single
    * maintainer sequences delete → rebuild probes.
    * IncrementalIndexSpec pins the interleaving: stale plans keep
    * their snapshot, fresh probes hide the id, a same-epoch re-append
    * stays suppressed, a post-compaction append resurrects it. */
  def deleteFromIvfCorpus(spark: SparkSession, out: String, ids: DataFrame,
                          uptoGen: Long = Long.MaxValue): Unit =
    graft.core.SegmentedIndex.tombstone(vecIds(ids), out,
      keyCol = "vec_id", uptoGen = uptoGen)

  private def vecIds(ids: DataFrame): DataFrame =
    ids.select(col("vec_id").cast("long").as("vec_id"))

  /** Apply one CDC batch to a plain IVF layout at generation `gen`
    * ([[graft.core.SegmentedIndex.applyBatch]]): tombstone the `dirty`
    * ids (vec_id) at `upto_gen = gen − 1`, then append `adds` (vec_id,
    * embedding, stored metadata) at `gen`, live at once. p08 applies at
    * 1 and then compacts, the p15 chain applies epoch `e` at `e`. A
    * replay at the same `gen` lands on the same live rows. */
  private[analytics] def applyIvfBatch(spark: SparkSession,
                                       cents: Array[(Int, Array[Double])],
                                       storedCols: Set[String], out: String,
                                       gen: Long, dirty: DataFrame,
                                       adds: DataFrame): Unit =
    graft.core.SegmentedIndex.applyBatch(Some(vecIds(dirty)), out, "vec_id", gen) {
      appendIvfCorpusWith(cents, out, adds, storedCols, gen)
    }

  /** [[writeIvfLayout]] under a GIVEN codebook — no fit: assign cells
    * with `cents` and write the partitioned layout + codebook. The
    * reference builder p08 uses to prove incremental maintenance ==
    * full rebuild under the same quantizer. */
  private[analytics] def writeIvfLayoutWith(cents: Array[(Int, Array[Double])],
                                            corpus: DataFrame, out: String): Unit = {
    writeCells(corpus.withColumn("cell", cellOf(cents, col("v"), col("norm"))), out)
    writeLayoutMeta(corpus.sparkSession, cents, out)
  }

  /** Build-time write of cell-assigned rows as generation 0 of the
    * cell-partitioned layout at `path` — the plain layout, the PQ
    * codes and their `_refine` sidecar alike. Every stored vector row
    * carries a GENERATION: tombstones are gen-scoped (SegmentedIndex's
    * convention), so a maintainer can delete-and-re-append the same id
    * within one batch with no compaction in between — the re-append's
    * higher gen is live immediately. */
  private def writeCells(assigned: DataFrame, path: String): Unit =
    assigned.withColumn("gen", lit(0L))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** The coarse codebook under `_codebook` (invisible to Spark's file
    * index, so probe sessions skip the refit) and the maintained row
    * count — what every built vector layout carries next to its data. */
  private def writeLayoutMeta(spark: SparkSession, cents: Array[(Int, Array[Double])],
                              out: String): Unit = {
    import spark.implicits._
    cents.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/_codebook")
    graft.core.SegmentedIndex.writeRowCount(out,
      graft.core.SegmentedIndex.footerRowCountOf(java.nio.file.Paths.get(out)))
  }

  /** The codebook persisted by [[writeIvfCorpus]] — K rows, read in
    * the driver with no Spark job. */
  def readIvfCodebook(out: String): Array[(Int, Array[Double])] = {
    val rows = Array.newBuilder[(Int, Array[Double])]
    graft.core.ParquetRows.foreach(java.nio.file.Paths.get(out, "_codebook")) { g =>
      rows += ((g.getInteger("cell", 0), graft.core.ParquetRows.doubles(g, "centroid")))
    }
    rows.result().sortBy(_._1)
  }

  /** Probe a [[writeIvfCorpus]] layout: collect the query set's probed
    * cells first (≤ K distinct values — driver-bounded however large
    * the query set), then scan the stored corpus with the cell set as
    * a PARTITION filter, so only nProbe/K of the directories are ever
    * listed or read — the probe cost a 100 TB deployment actually
    * pays, demonstrated against bytes on disk rather than asserted of
    * a cached frame. PlanSpec pins `PartitionFilters` on the scan;
    * ScaleProbe prices the nProbe proportionality. Downstream is
    * [[ivfTopK]]'s shape unchanged: broadcast probes ⋈ corpus on cell,
    * exact rerank, bounded top-k. */
  def ivfStoredTopK(spark: SparkSession, out: String,
                    queries: DataFrame, k: Int, nProbe: Int = 6,
                    where: Option[org.apache.spark.sql.Column] = None): DataFrame =
    ivfStoredTopKWith(readIvfCodebook(out), spark, out, queries, k, nProbe, where)

  /** [[ivfStoredTopK]] with a pre-collected codebook — the per-batch
    * entry a query-serving stream uses so the K-row codebook read
    * happens once per stream, not once per microbatch (st15's drive,
    * the serving dual of [[appendIvfCorpusWith]]). */
  private[analytics] def ivfStoredTopKWith(centroids: Array[(Int, Array[Double])],
                    spark: SparkSession, out: String,
                    queries: DataFrame, k: Int, nProbe: Int = 6,
                    where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import graft.functions.VectorFunctions._
    val (probes, probedCells) = localizedProbes(centroids, queries, nProbe)
    // `where` is a metadata predicate over columns DENORMALIZED into
    // the layout ([[writeIvfLayout]] persists whatever extra columns
    // ride on the corpus frame): it lands directly on the pruned scan,
    // so Catalyst pushes it into the parquet reader — the probe pays
    // partition pruning AND row-group predicate pushdown together
    // (PlanSpec pins both on the s13 gate's plan)
    val pruned0 = ParquetRows.frame(spark, out)
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    val pruned1 = where.map(pruned0.filter).getOrElse(pruned0)
    // tombstoned rows (deleteFromIvfCorpus) are excluded at probe
    // time, gen-scoped: the sidecar is bounded by deletions since the
    // last compaction, so the anti-join probe side broadcasts; layouts
    // without the sidecar pay nothing
    val pruned = graft.core.SegmentedIndex.live(spark, pruned1, out,
      keyCol = "vec_id", genCol = "gen")
    val scored = broadcast(probes).join(pruned, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** The probe pairs of `queries` — each query (with `extra` columns)
    * once per each of its `nProbe` nearest cells — and the probed-cell
    * set. |queries|·nProbe-bounded: ONE collect job materializes the
    * pairs driver-locally, the cell set falls out of the collected rows
    * (the old separate distinct+collect action), and a join's broadcast
    * of them builds joblessly. */
  private def localizedProbes(centroids: Array[(Int, Array[Double])], queries: DataFrame,
                              nProbe: Int, extra: Column*): (DataFrame, Seq[Int]) = {
    val probesL = graft.core.Bounded.localize(queries.select(
      Seq(col("query_id"), col("qv"), col("qnorm")) ++ extra :+
        explode(slice(array_sort(cellScores(centroids, col("qv"), col("qnorm"))),
          1, nProbe).getField("cell")).as("cell"): _*))
    val probedCells =
      if (probesL.local) {
        val i = probesL.df.schema.fieldIndex("cell")
        probesL.rows.map(_.getInt(i)).distinct.sorted.toSeq
      } else {
        // over-cap: the checkpoint localize already built serves BOTH
        // consumers (the r17 shape released it and re-ran the probe
        // plan twice more — the distinct+collect AND the join); the
        // block sticks around until the caller's action completes and
        // the session sweeps it
        probesL.df.select("cell").distinct()
          .collect().map(_.getInt(0)).sorted.toSeq
      }
    (probesL.df, probedCells)
  }

  /** s09 gate: write → read back → pruned probe, end to end over a
    * real partitioned layout on a scratch dir. Same quantizer (same
    * deterministic fit), same query set, and same probe/rerank
    * semantics as s03, so the result must EQUAL s03's exactly — Verify
    * emits the equality as a differential invariant. What s03's plan
    * audit asserts about the 100 TB layout, this gate demonstrates:
    * the probe scan carries the probed cells as partition filters
    * against directories on disk. */
  def s09IvfStoredProbe(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-ivf-corpus") { root =>
    val out = root.resolve("corpus").toString
    writeIvfCorpus(spark, dir, out)
    val stored = ParquetRows.frame(spark, out)
    val queries = stored.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    ivfStoredTopK(spark, out, queries, k = 10)
      .orderBy("query_id", "rnk").localCheckpoint(true)
  }

  /** s12 gate: FILTERED vector search — top-k restricted to the
    * corpus slice passing a metadata predicate (here: vectors whose
    * paired document is English), the retrieval shape every
    * vector-store query with a WHERE clause needs. Pre-filter then
    * rank: the predicate lands as a semi join on the bounded id set
    * BEFORE any scoring, so the search never scores (or at 100 TB,
    * never reads) vectors the filter excludes — the opposite of
    * post-filtering top-k lists, which silently returns short lists
    * when the filter is selective. Exact tier (one filtered scan +
    * bounded top-k) is the oracle-checked gate; the same pre-filtered
    * corpus drops into [[topK]]'s IVF tier unchanged for the scale
    * path (recall-floored in SimilaritySpec); the stored-layout
    * version — filter columns denormalized into the cell-partitioned
    * files, predicate pushed into the pruned probe scan — is the s13
    * gate ([[s13FilteredIvfStored]]). */
  def s12FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val en = Tables.documents(spark, dir)
      .filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val corpus = Tables.embeddings(spark, dir).join(en, Seq("vec_id"), "left_semi")
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    topK(corpus, queries, k = 10, method = "brute")
      .orderBy("query_id", "rnk")
  }

  /** s13 gate: s12's filtered search against the STORED layout — the
    * claim s12 documents, demonstrated end to end: the filter column
    * (lang) is denormalized into the cell-partitioned files at write
    * time (it simply rides on the corpus frame into
    * [[writeIvfLayout]]), and the probe applies the predicate on the
    * pruned scan, so one parquet read pays cell partition pruning AND
    * pushed row-group filtering together — at 100 TB the probe touches
    * nProbe/K directories and, inside them, only row groups whose
    * lang statistics can match. Rows-only gate (k-means); Verify emits
    * `s13_recall10` against s12's exact filtered baseline, PlanSpec
    * pins `PartitionFilters` + `PushedFilters` on the one scan. */
  def s13FilteredIvfStored(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-ivf-filtered") { root =>
    val out = root.resolve("corpus").toString
    val corpus = Dedup.normalizedVectors(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
    writeIvfLayout(corpus, out, k = 16, iters = 10)
    val stored = ParquetRows.frame(spark, out)
    val queries = stored.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    ivfStoredTopK(spark, out, queries, k = 10,
        where = Some(col("lang") === "en"))
      .orderBy("query_id", "rnk").localCheckpoint(true)
  }

  // ---- stored IVF-PQ: the product-quantized index ON DISK ----

  /** Persist the full IVF-PQ index: the hot index is the nibble-packed
    * PQ codes — ONE int per vector (M=8 subspaces × 4-bit codes), plus
    * id and norm — cell-partitioned exactly like [[writeIvfCorpus]],
    * so the ADC probe pays partition pruning over a layout ~26× smaller
    * per row than the raw-f64 layout (20 bytes vs 528). Raw vectors go
    * to a `_refine` sidecar with the SAME cell partitioning: underscore
    * paths are invisible to the code scan, and the exact-refine step
    * reads them pruned to the probed cells — the hot/cold split a real
    * deployment runs, where the code index fits executor memory and the
    * refine store stays on cheap storage. Both quantizers train on one
    * bounded driver sample ([[localFitSample]]); codebooks persist as
    * `_codebook` (coarse, K rows) and `_pq_codebooks` (M×Ks rows), so
    * probe sessions never refit. Fit paths and parameters are
    * bit-identical to [[s04IvfPqTopK]]'s in-memory pipeline — Verify
    * pins `s14_eq_s04` as an exact differential invariant. */
  private[analytics] def writeIvfPqLayout(corpus: DataFrame, out: String,
                                          k: Int = 16, iters: Int = 10): Unit = {
    val e = corpus.cache()
    try {
      val sample = localFitSample(e)
      writeIvfPqLayoutWith(lloydIvf(sample, k, iters), lloydPq(sample, iters = 8),
        e, out)
    } finally e.unpersist()
  }

  /** The deterministic IVF + PQ codebook fit [[writeIvfPqLayout]]
    * runs, exposed so a rebuild twin can fit on snapshot A exactly as
    * the incremental path's step 1 did. */
  private[analytics] def fitIvfPq(corpus: DataFrame, k: Int = 16, iters: Int = 10)
      : (Array[(Int, Array[Double])], Array[Array[Array[Double]]]) = {
    val e = corpus.cache()
    try {
      val sample = localFitSample(e)
      (lloydIvf(sample, k, iters), lloydPq(sample, iters = 8))
    } finally e.unpersist()
  }

  /** [[writeIvfPqLayout]] under GIVEN codebooks — no fit. The p11
    * rebuild twin uses this to prove incremental PQ maintenance ==
    * full rebuild under the same quantizers (writeIvfLayoutWith's role
    * for the plain layout). */
  private[analytics] def writeIvfPqLayoutWith(cents: Array[(Int, Array[Double])],
                                              books: Array[Array[Array[Double]]],
                                              corpus: DataFrame, out: String): Unit = {
    val assigned = corpus.withColumn("cell", cellOf(cents, col("v"), col("norm")))
    writeCells(assigned.select(col("vec_id"), col("norm"), col("cell"), pqCodeCol(books)), out)
    writeCells(assigned.select(col("vec_id"), col("v"), col("norm"), col("cell")), s"$out/_refine")
    val spark2 = corpus.sparkSession
    import spark2.implicits._
    (for { m <- 0 until PqM; cell <- 0 until PqKs }
      yield (m, cell, books(m)(cell).toSeq))
      .toDF("m", "cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/_pq_codebooks")
    writeLayoutMeta(spark2, cents, out)
  }

  /** The nibble-packed PQ code of `v` under `books`: m-th 4-bit code
    * in bits [4m, 4m+4) of one int — builtin shift/or expressions,
    * fully codegen'd. Shared by the from-scratch writer and the
    * stored-codebook append. */
  private def pqCodeCol(books: Array[Array[Array[Double]]]): Column =
    (0 until PqM).map(m =>
        shiftleft(pqCell(books(m), subv(col("v"), m)), 4 * m))
      .reduce(_.bitwiseOR(_)).as("code")

  /** The per-subspace PQ codebooks persisted by [[writeIvfPqLayout]] —
    * M×Ks rows, read in the driver with no Spark job. */
  def readPqCodebooks(out: String): Array[Array[Array[Double]]] = {
    val rows = Array.newBuilder[(Int, Int, Array[Double])]
    graft.core.ParquetRows.foreach(java.nio.file.Paths.get(out, "_pq_codebooks")) { g =>
      rows += ((g.getInteger("m", 0), g.getInteger("cell", 0), graft.core.ParquetRows.doubles(g, "centroid")))
    }
    val all = rows.result()
    Array.tabulate(PqM)(m =>
      all.filter(_._1 == m).sortBy(_._2).map(_._3))
  }

  /** [[applyIvfBatch]] for a stored IVF-PQ layout (codes and `_refine`
    * rows): p11 applies at 1 and then compacts, the p14 chain applies
    * epoch `e` at `e`, st25 batch `b` at `b + 1`. None skips a side. */
  private[analytics] def applyIvfPqBatch(spark: SparkSession,
                                         cents: Array[(Int, Array[Double])],
                                         books: Array[Array[Array[Double]]],
                                         out: String, gen: Long,
                                         dirty: Option[DataFrame],
                                         adds: Option[DataFrame]): Unit =
    graft.core.SegmentedIndex.applyBatch(dirty.map(vecIds), out, "vec_id", gen) {
      adds.foreach(appendIvfPqCorpusWith(cents, books, out, _, gen))
    }

  /** Append vectors to a stored IVF-PQ layout under its STORED
    * codebooks (no refit): assign cells, nibble-pack codes, append to
    * the code layout; raw vectors land in the `_refine` sidecar with
    * the same cell partitioning. Cost ∝ batch, never corpus.
    * NOT reader-atomic — and doubly so here: codes and `_refine`
    * publish in two separate sweeps, so a probe plan built
    * MID-publish can see codes without matching refine rows. Same
    * contract as [[appendIvfCorpus]]: sequence appends and probe
    * construction in one maintainer loop, or take the advisory lock
    * around both. */
  def appendIvfPqCorpus(spark: SparkSession, out: String, vecs: DataFrame,
                        gen: Long = -1L): Unit =
    appendIvfPqCorpusWith(readIvfCodebook(out),
      readPqCodebooks(out), out, vecs, gen)

  /** [[appendIvfPqCorpus]] with pre-collected codebooks — the
    * per-batch entry for a streaming maintainer (st13's *With rule:
    * the codebook reads happen once per stream, not per microbatch).
    * `gen` < 0 = ad-hoc: a fresh cross-process-safe generation is
    * drawn from the layout (see [[nextAdhocGen]]); explicit
    * generations are the replay contract, published verbatim. */
  def appendIvfPqCorpusWith(cents: Array[(Int, Array[Double])],
                            books: Array[Array[Array[Double]]],
                            out: String, vecs: DataFrame,
                            gen: Long = -1L): Unit =
    // the codes and `_refine` publishes both consume the one assigned
    // batch: re-deriving it would run the (model-pass-shaped) embed +
    // cell assignment twice per batch
    appendAssigned(cents, out, vecs, Nil, gen)(
      out -> Seq(col("vec_id"), col("norm"), col("cell"), pqCodeCol(books)),
      s"$out/_refine" -> Seq(col("vec_id"), col("v"), col("norm"), col("cell")))

  /** Compact a stored IVF-PQ layout: apply tombstones physically to
    * BOTH the code layout and the `_refine` raw-vector sidecar (the
    * refine rows carry the same tombstoned ids — copying them verbatim
    * would keep deleted vectors on disk forever), rewrite one file per
    * cell each, carry the two codebooks, clear the tombstones, publish
    * with the shared two-rename swap ([[compactCells]]). */
  def compactIvfPqCorpus(spark: SparkSession, out: String): Unit =
    compactCells(spark, out, "_refine")

  /** Probe a [[writeIvfPqLayout]] index: both codebooks are K-row /
    * M×Ks-row driver reads, the probed cells land as PARTITION filters
    * on the code scan (so the ADC pass reads nProbe/K of an index
    * already ~26× smaller than the vectors), the ADC cosine is M
    * nibble-extractions + LUT lookups per row — all builtin codegen'd
    * expressions — and the `refine·k` shortlist is exact-reranked
    * against the `_refine` raw-vector sidecar read pruned to the SAME
    * probed cells (every shortlist id lives in a probed cell, so the
    * pruning is lossless). Everything after the ADC scan is
    * query-bounded, never corpus-bounded. */
  def ivfPqStoredTopK(spark: SparkSession, out: String,
                      queries: DataFrame, k: Int,
                      nProbe: Int = 8, refine: Int = 16): DataFrame =
    ivfPqStoredTopKWith(readIvfCodebook(out), readPqCodebooks(out),
      spark, out, queries, k, nProbe, refine)

  /** [[ivfPqStoredTopK]] with pre-collected codebooks — the *With rule
    * (the per-epoch/per-batch entry: a maintenance chain or serving
    * stream collects the train-once codebooks ONCE, not twice per
    * probe call). */
  private[analytics] def ivfPqStoredTopKWith(
                      centroids: Array[(Int, Array[Double])],
                      books: Array[Array[Array[Double]]],
                      spark: SparkSession, out: String,
                      queries: DataFrame, k: Int,
                      nProbe: Int = 8, refine: Int = 16): DataFrame = {
    import graft.functions.VectorFunctions._
    // per-query ADC lookup table, same shape as [[ivfPqTopK]]'s
    val luts = array((0 until PqM).map { m =>
      array((0 until PqKs).map { cell =>
        array_dot(subv(col("qv"), m), typedLit(books(m)(cell).toSeq))
      }: _*)
    }: _*)
    val (probes, probedCells) = localizedProbes(centroids, queries, nProbe, luts.as("luts"))
    // tombstoned generations (deleteFromIvfCorpus) excluded at ADC
    // time — gen-scoped, so a same-epoch re-append at a higher gen is
    // probe-visible with no compaction in between
    val codeScan = graft.core.SegmentedIndex.live(spark,
      ParquetRows.frame(spark, out)
        .filter(col("cell").isin(probedCells.map(Int.box): _*)),
      out, keyCol = "vec_id", genCol = "gen")
    val adcSum = (0 until PqM).map { m =>
      element_at(element_at(col("luts"), m + 1),
        shiftright(col("code"), 4 * m).bitwiseAND(lit(15)) + 1)
    }.reduce(_ + _)
    val adc = codeScan
      .join(broadcast(probes.drop("qv")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (adcSum / (col("qnorm") * col("norm"))).as("adc_sim"))
    val shortlist = rankTopK(adc, k * refine, "adc_sim")
      .select(col("query_id"), col("neighbor_id"))
    // the refine sidecar carries the SAME tombstoned generations (a
    // re-appended id has old + new raw rows until compaction) — apply
    // the identical live view before the shortlist join, or the exact
    // rerank would score the id against both
    val refineScan = graft.core.SegmentedIndex.live(spark,
        ParquetRows.frame(spark, s"$out/_refine")
          .filter(col("cell").isin(probedCells.map(Int.box): _*)),
        out, keyCol = "vec_id", genCol = "gen")
      .select(col("vec_id").as("neighbor_id"), col("v"), col("norm"))
    val exact = shortlist
      .join(refineScan, "neighbor_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"), col("qnorm"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4).as("cos_sim"))
    rankTopK(exact, k)
  }

  /** s14 gate: the PQ-coded stored index end to end — write codes +
    * refine sidecar + both codebooks, read everything back from disk,
    * probe with the standard query set. Same fit, parameters, and
    * ranking as s04's in-memory IVF-PQ, so the result must EQUAL s04's
    * exactly (Verify emits `s14_eq_s04`); rows-only gate (k-means).
    * PlanSpec pins cell PartitionFilters on BOTH the code scan and the
    * refine scan. */
  def s14IvfPqStored(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-ivfpq-corpus") { root =>
    val out = root.resolve("corpus").toString
    writeIvfPqLayout(Dedup.normalizedVectors(spark, dir), out)
    val queries = ParquetRows.frame(spark, s"$out/_refine")
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    ivfPqStoredTopK(spark, out, queries, k = 10)
      .orderBy("query_id", "rnk").localCheckpoint(true)
  }

  /** Compact a [[writeIvfCorpus]] layout: rewrite each cell's
    * accumulated append files into one file per cell, so the probe's
    * per-cell read amplification stays bounded however long an ingest
    * stream runs (every [[appendIvfCorpus]] microbatch adds a part
    * file per touched cell; without maintenance a year of microbatches
    * is a year of files). Tombstoned rows are dropped, live rows keep
    * their `gen`. Same shape as the TableStore compactor: snapshot →
    * rewrite to a sibling `_compacting` dir → swap, with every
    * underscore sidecar (`_codebook`, and the PQ layout's
    * `_pq_codebooks`) carried over byte-for-byte — content, partition
    * keys, and pruning are untouched (IvfAppendSpec pins all three).
    *
    * Crash consistency: the swap is two renames — live layout aside to
    * `out_old`, then `_compacting` into place — never a delete of live
    * data before the replacement exists. A crash between the renames
    * leaves the canonical path briefly absent but the full layout
    * intact at `out_old` (and the compacted copy at `_compacting`);
    * a failed second rename restores `out_old` in-process. On the
    * next invocation [[graft.core.DirSwap.recover]] RESTORES an
    * `_old` whose live sibling is missing (never deletes the only
    * copy) and clears completed-swap debris and stale `_compacting`
    * output. The window where `out` does not resolve means
    * compaction is a SINGLE-MAINTAINER step: the owning ingest loop
    * (st13's drive) runs it inline between its own probes/appends,
    * never concurrently with them — IvfAppendSpec pins the interleaved
    * probe/append/compact sequence losing and duplicating nothing. */
  def compactIvfCorpus(spark: SparkSession, out: String): Unit =
    compactCells(spark, out)

  /** The one compaction of both stored vector layouts: the live view
    * of the layout at `out` (and of each cell-partitioned `sidecars`
    * dir, which shares its tombstones) is rewritten cell-partitioned,
    * rows keeping their `gen`; the other underscore sidecars' carry,
    * the tombstone clearing and the two-rename swap are the shared
    * SegmentedIndex shell. Scale-adaptive rewrite (rewriteClustered):
    * cluster-by-cell for big layouts, one task under the driver-local
    * cap — same per-cell files, one exchange stage-job fewer. */
  private def compactCells(spark: SparkSession, out: String, sidecars: String*): Unit =
    graft.core.SegmentedIndex.compactWith(out, skipSidecars = sidecars.toSet) { tmp =>
      ((out, tmp) +: sidecars.map(s => (s"$out/$s", s"$tmp/$s"))).foreach { case (from, to) =>
        graft.core.SegmentedIndex.rewriteClustered(graft.core.SegmentedIndex.live(spark,
            ParquetRows.frame(spark, from), out, keyCol = "vec_id", genCol = "gen"), out, "cell")
          .write.mode("overwrite").partitionBy("cell").parquet(to)
      }
    }

  /** s11 gate: incremental-ingest round trip — write a base layout
    * from the even vec_ids (the "already-indexed" corpus), APPEND the
    * odd half with [[appendIvfCorpus]] (stored-codebook assignment, no
    * refit), then probe the grown layout with the standard query set.
    * Rows-only (k-means fit isn't SQL-expressible); Verify emits
    * micro-averaged recall against s01's exact baseline as the
    * `s11_recall10` invariant, and IvfAppendSpec pins append ==
    * one-shot-under-the-same-codebook equality plus the partition-
    * pruned probe surviving the append. */
  def s11IvfAppend(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-ivf-append") { root =>
    val out = root.resolve("corpus").toString
    val all = Dedup.normalizedVectors(spark, dir)
    writeIvfLayout(all.filter(col("vec_id") % 2 === 0), out, k = 16, iters = 10)
    appendIvfCorpus(spark, out,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 2 =!= 0))
    val stored = ParquetRows.frame(spark, out)
    val queries = stored.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    ivfStoredTopK(spark, out, queries, k = 10)
      .orderBy("query_id", "rnk").localCheckpoint(true)
  }

  /** User-facing ANN search over arbitrary frames: corpus
    * (vec_id, embedding) × queries (query_id, embedding) → top-`k`
    * cosine neighbors per query as (query_id, rnk, neighbor_id,
    * cos_sim). `method`: `"brute"` (exact single-scan baseline),
    * `"lsh"` (random-hyperplane buckets), `"ivf"` (k-means cells,
    * probe + exact rerank — the 100 TB path), `"ivfpq"` (product-
    * quantized 8-byte codes + ADC shortlist + exact refine — the
    * path when even the IVF cells don't fit memory). Ids share one
    * namespace: a corpus row whose vec_id equals a query_id is
    * treated as that query itself and excluded from its results. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
           method: String = "ivf"): DataFrame = {
    import graft.functions.VectorFunctions._
    def normalized(df: DataFrame, id: String, vOut: String, nOut: String) = df
      .select(col(id), as_double_array(col("embedding")).as(vOut))
      .withColumn(nOut, array_norm(col(vOut)))
    method match {
      case "brute" =>
        bruteTopK(normalized(corpus, "vec_id", "v", "norm"),
          normalized(queries, "query_id", "qv", "qnorm"), k)
      case "lsh" =>
        lshTopK(corpus.select(col("vec_id"), col("embedding")),
          queries.select(col("query_id"), col("embedding").as("q_emb")), k)
      case "ivf" =>
        val (assigned, centroids) = ivfFitOf(normalized(corpus, "vec_id", "v", "norm"))
        ivfTopK(assigned, centroids,
          normalized(queries, "query_id", "qv", "qnorm"), k)
      case "ivfpq" =>
        val (assigned, centroids, sample) =
          ivfFitSampled(normalized(corpus, "vec_id", "v", "norm"))
        ivfPqTopK(assigned, centroids,
          normalized(queries, "query_id", "qv", "qnorm"), k, sample = Some(sample))
      case other => throw new IllegalArgumentException(
        s"unknown ANN method '$other' (brute | lsh | ivf | ivfpq)")
    }
  }

  private val MmrLambda = 0.7
  private val MmrCandidates = 30
  private val MmrK = 10

  /** One retrieval candidate inside a per-query MMR group: relevance
    * to the query plus the UNIT vector (so candidate-candidate cosine
    * is one dot product with no norms in the loop). */
  private[analytics] case class MmrCand(query_id: Long, neighbor_id: Long,
                                        rel: Double, uv: Seq[Double])

  /** s16 gate: Maximal Marginal Relevance reranking — the standard
    * diversification step between retrieval and a RAG prompt (or a
    * training-batch sampler): from each query's top-[[MmrCandidates]]
    * shortlist, greedily keep the [[MmrK]] items maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-kept, so near-
    * duplicate hits can't crowd out coverage.
    *
    * Scale shape: the candidate stage is the pluggable ANN tier (the
    * exact scorer here — oracle-adjacent; the IVF probe at 100 TB,
    * same swap as every other similarity gate), and the greedy stage
    * is inherently sequential PER QUERY but n-bounded: `mapGroups`
    * over (query → ≤ n candidates) shuffles n rows per query and does
    * n²k dot products per group — per-query work independent of
    * corpus size, queries parallelized across the cluster. This is
    * the documented legitimate per-group imperative case (like t29's
    * per-word encode): a greedy argmax chain has no declarative
    * equivalent.
    *
    * Deterministic: relevance is Det-rounded, ties break on
    * neighbor_id, candidate order is fixed before the loop. Rows-only
    * gate; Verify pins `s16_first_eq_s01_top1` (first pick ==
    * relevance argmax == s01's rank-1) and MmrSpec pins λ=1
    * degeneration, subset-of-candidates, diversity gain, and
    * partitioning parity. */
  def s16MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = Dedup.normalizedVectors(spark, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    mmrRerank(spark, e, q, MmrCandidates, MmrK, MmrLambda)
      .orderBy("query_id", "rnk")
  }

  private[analytics] def mmrRerank(spark: SparkSession, corpus: DataFrame,
                                   queries: DataFrame, n: Int, k: Int,
                                   lam: Double): DataFrame = {
    import spark.implicits._
    val cands = bruteTopK(corpus, queries, n)
    val unit = corpus.select(col("vec_id").as("neighbor_id"),
      transform(col("v"), x => x / col("norm")).as("uv"))
    cands.join(unit, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("cos_sim").as("rel"), col("uv"))
      .as[MmrCand]
      .groupByKey(_.query_id)
      .flatMapGroups { (qid: Long, it: Iterator[MmrCand]) =>
        val cs = it.toArray.sortBy(c => (-c.rel, c.neighbor_id))
        val uvs = cs.map(_.uv.toArray)
        val taken = new Array[Boolean](cs.length)
        val maxSim = new Array[Double](cs.length) // max cos to selected so far
        (1L to math.min(k, cs.length).toLong).map { rnk =>
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cs.length) {
            if (!taken(i)) {
              val sc = if (rnk == 1L) cs(i).rel
                       else lam * cs(i).rel - (1.0 - lam) * maxSim(i)
              // strict > plus rel-desc/id-asc candidate order = ties
              // break on (score desc, rel desc, id asc)
              if (sc > bestScore) { bestScore = sc; best = i }
            }
            i += 1
          }
          taken(best) = true
          var j = 0
          while (j < cs.length) {
            if (!taken(j)) {
              val s = ddot(uvs(best), uvs(j))
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          (qid, rnk, cs(best).neighbor_id, cs(best).rel,
            Det.droundD(bestScore, 4))
        }
      }
      .toDF("query_id", "rnk", "neighbor_id", "relevance", "mmr_score")
  }

  /** Per-vector symmetric int8 quantization: scale = max|x|/127,
    * code = floor(x/scale + 0.5) ∈ [-127, 127] (floor-arithmetic
    * rounding — the Det rule — so both engines produce identical
    * codes bit for bit). The 100 TB motivation is footprint: int8
    * codes are 8× smaller than f64 (4× vs f32), which is the
    * difference between an embedding corpus that fits executor memory
    * and one that spills — and integer dot products SIMD-vectorize.
    * Zero vectors quantize to zero codes (scale 0 guard). */
  private def quantize(v: Column): (Column, Column) = {
    val scale = array_max(transform(v, x => abs(x))) / 127.0
    val codes = when(scale === 0.0, transform(v, _ => lit(0.0)))
      .otherwise(transform(v, x => floor(x / scale + lit(0.5))))
    (scale, codes)
  }

  /** s17 gate: int8 quantization error report, per vector — the
    * acceptance check a pipeline runs before switching its index to
    * quantized codes. max_err is bounded by scale/2 by construction
    * (pinned in SimilaritySpec); mse is the average squared
    * reconstruction error. Oracle-exact: scale, codes, and error
    * arithmetic are all engine-neutral IEEE. */
  def s17Int8Quant(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), as_double_array(col("embedding")).as("v"))
    val (scale, codes) = quantize(col("v"))
    val err = zip_with(col("v"), col("q"), (x, c) => abs(x - c * col("scale")))
    e.select(col("vec_id"), col("v"), scale.as("scale"), codes.as("q"))
      .select(col("vec_id"), col("scale"), err.as("e"))
      .select(col("vec_id"),
        Det.dround(col("scale"), 9).as("scale"),
        Det.dround(array_max(col("e")), 8).as("max_err"),
        Det.dround(array_dot(col("e"), col("e")) / size(col("e")), 9).as("mse"))
      .orderBy("vec_id")
  }

  /** s18 gate: exact top-k over the DEQUANTIZED int8 corpus — what
    * retrieval quality survives the 8× compression. Same scorer and
    * query rule as s01, so Verify's `s18_recall10` invariant reads
    * recall directly against the s01 dump (floored in
    * SimilaritySpec); rows-only (the quantized ranking is its own
    * artifact, not SQL-oracle-able at reasonable cost). */
  def s18Int8TopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), as_double_array(col("embedding")).as("raw"))
    // fused quantize→dequantize: one codegen'd pass per row instead of
    // the four-HOF interpreted chain (bit-identical — FunctionsSpec
    // pins it against [[quantize]] ∘ ×scale element by element)
    val deq = base
      .select(col("vec_id"), int8_dequantize(col("raw")).as("v"))
      .withColumn("norm", array_norm(col("v")))
      .filter(col("norm") > 0)
    bruteTopK(deq, deq.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm")),
      k = 10)
      .orderBy("query_id", "rnk")
  }

  /** Radius threshold for s19 — sits at the corpus's ~99.5th cosine
    * percentile, so every SF returns a non-vacuous, bounded match set
    * (59 / 62 / 851 rows at the three fixtures). */
  val RangeTau = 0.25

  /** s19 gate: exact cosine RANGE search (radius query) — "every
    * neighbor scoring at or above τ", the retrieval dual of top-k
    * (dedup candidate generation, recall-oriented retrieval, and the
    * serving shape of a similarity JOIN with one bounded side). Cell
    * pruning is SOUND, not approximate: the angular triangle
    * inequality that bounds maintenance admission (g07) is promoted
    * to a query operator — a cell is skipped only when
    * cos(max(0, θ_qc − δ_c)) proves NO member can reach τ — so unlike
    * the recall-floored top-k tiers this is a fully ORACLE-CHECKED
    * exact result over a pruned scan. Scale shape: one narrow corpus
    * pass for the K-row cell profile, a |queries|·K probe, then the
    * exact test only inside admitted cells (an equi join on cell —
    * partition-prunable when the corpus is the s09 stored layout). */
  def s19RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, cents, _) = ivfFitDir(spark, dir)
    val queries = assigned.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
    rangeSearch(assigned, cents, queries, RangeTau)
      .orderBy("query_id", "neighbor_id")
  }

  /** Radius search over an IVF-assigned corpus (vec_id, v, norm,
    * cell): (query_id, neighbor_id, cos_sim) for every pair whose
    * 4-decimal rounded cosine reaches `tau`. The 1e-4 prune slack
    * absorbs the rounding (rounded ≥ τ ⟹ true ≥ τ − 5e-5) plus
    * acos/cos noise — loose only costs pruning, never a missed
    * match. */
  private[analytics] def rangeSearch(assigned: DataFrame,
      cents: Array[(Int, Array[Double])], queries: DataFrame,
      tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val admitted = rangeAdmitted(assigned, cents, queries, tau)
    assigned.join(broadcast(admitted), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Det.dround(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4)
          .as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }

  /** The admitted (cell, query) pairs — split out so RangeSearchSpec
    * can pin that the bound genuinely PRUNES on clustered data while
    * [[rangeSearch]] stays exact. */
  private[analytics] def rangeAdmitted(assigned: DataFrame,
      cents: Array[(Int, Array[Double])], queries: DataFrame,
      tau: Double): DataFrame = {
    require(cents.zipWithIndex.forall { case ((c, _), i) => c == i },
      "range pruning requires contiguous 0-based cell ids")
    val stats = assigned
      .select(col("cell"), angleOf(element_at(
        cosToCentroids(cents, col("v"), col("norm")), col("cell") + 1)).as("a"))
      .groupBy("cell").agg(max(col("a")).as("delta"))
    queries
      .withColumn("cos_arr", cosToCentroids(cents, col("qv"), col("qnorm")))
      .select(col("query_id"), col("qv"), col("qnorm"),
        posexplode(col("cos_arr")).as(Seq("cell", "cos_qc")))
      .join(broadcast(stats), "cell")
      .filter(cos(greatest(lit(0.0), angleOf(col("cos_qc")) - col("delta")))
        >= lit(tau) - lit(1e-4))
      .select(col("cell"), col("query_id"), col("qv"), col("qnorm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s19_range_search"   -> s19RangeSearch _,
    "s01_ann_bruteforce" -> s01BruteForceTopK _,
    "s02_ann_lsh"        -> s02LshTopK _,
    "s03_ann_ivf"        -> s03IvfTopK _,
    "s04_ann_ivfpq"      -> s04IvfPqTopK _,
    "s05_knn_graph"      -> s05KnnGraph _,
    "s06_knn_graph_ivf"  -> s06KnnGraphIvf _,
    "s07_cluster_stats"  -> s07ClusterStats _,
    "s08_kmeans_clusters" -> s08KmeansClusters _,
    "s09_ivf_stored"     -> s09IvfStoredProbe _,
    "s10_hard_negatives" -> s10HardNegatives _,
    "s11_ivf_append"     -> s11IvfAppend _,
    "s12_filtered_ann"   -> s12FilteredAnn _,
    "s13_filtered_ivf_stored" -> s13FilteredIvfStored _,
    "s14_ivf_pq_stored"  -> s14IvfPqStored _,
    "s16_mmr_rerank"     -> s16MmrRerank _,
    "s17_int8_quant"     -> s17Int8Quant _,
    "s18_int8_topk"      -> s18Int8TopK _,
  )

  val oracleSql: Map[String, String] = Map(
    // s19's cell pruning is a sound bound, so the pruned result must
    // HASH-MATCH the brute-force radius scan — a fully exact oracle,
    // unlike the recall-floored top-k tiers
    "s19_range_search" ->
      s"""WITH q AS (SELECT vec_id query_id, embedding q_emb FROM embeddings WHERE vec_id % 100 = 0),
          scored AS (SELECT q.query_id, e.vec_id neighbor_id,
            floor((list_aggregate(list_transform(range(1, len(q.q_emb)+1),
                k -> CAST(q.q_emb[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE)), 'sum')
              / (sqrt(list_aggregate(list_transform(q.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
               * sqrt(list_aggregate(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, cos_sim
         FROM scored WHERE cos_sim >= $RangeTau
         ORDER BY query_id, neighbor_id""",
    // s17's scale/code/error arithmetic is engine-neutral IEEE (floor
    // rounding, sequential list folds) — exact oracle
    "s17_int8_quant" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                    FROM embeddings),
          s AS (SELECT vec_id, v,
                 list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 scale
                FROM v),
          q AS (SELECT vec_id, v, scale,
                 CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                      ELSE list_transform(v, x -> floor(x / scale + 0.5)) END q
                FROM s),
          e AS (SELECT vec_id, scale,
                 list_transform(range(1, len(v)+1), k -> abs(v[k] - q[k] * scale)) e
                FROM q)
         SELECT vec_id,
          floor(scale * 1000000000.0 + 0.5) / 1000000000.0 AS scale,
          floor(list_aggregate(e, 'max') * 100000000.0 + 0.5) / 100000000.0 AS max_err,
          floor((list_aggregate(list_transform(range(1, len(e)+1), k -> e[k] * e[k]), 'sum')
                 / len(e)) * 1000000000.0 + 0.5) / 1000000000.0 AS mse
         FROM e ORDER BY vec_id""",
    // s12 = s01's exact scorer over the metadata-filtered corpus slice
    "s12_filtered_ann" ->
      """WITH q AS (SELECT vec_id query_id, embedding q_emb FROM embeddings WHERE vec_id % 100 = 0),
          scored AS (SELECT q.query_id, e.vec_id neighbor_id,
            floor((list_aggregate(list_transform(range(1, len(q.q_emb)+1),
                k -> CAST(q.q_emb[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE)), 'sum')
              / (sqrt(list_aggregate(list_transform(q.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
               * sqrt(list_aggregate(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id
           WHERE e.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
          ranked AS (SELECT query_id, neighbor_id, cos_sim,
            row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rnk
           FROM scored)
         SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cos_sim
         FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk""",
    "s01_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id query_id, embedding q_emb FROM embeddings WHERE vec_id % 100 = 0),
          scored AS (SELECT q.query_id, e.vec_id neighbor_id,
            floor((list_aggregate(list_transform(range(1, len(q.q_emb)+1),
                k -> CAST(q.q_emb[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE)), 'sum')
              / (sqrt(list_aggregate(list_transform(q.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
               * sqrt(list_aggregate(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
          ranked AS (SELECT query_id, neighbor_id, cos_sim,
            row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rnk
           FROM scored)
         SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cos_sim
         FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk""",
    "s05_knn_graph" ->
      """WITH scored AS (SELECT a.vec_id, b.vec_id neighbor_id,
            floor((list_aggregate(list_transform(range(1, len(a.embedding)+1),
                k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)), 'sum')
              / (sqrt(list_aggregate(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
               * sqrt(list_aggregate(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
          ranked AS (SELECT vec_id, neighbor_id, cos_sim,
            row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) rnk
           FROM scored)
         SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cos_sim
         FROM ranked WHERE rnk <= 5 ORDER BY vec_id, rnk""",
    "s10_hard_negatives" ->
      """WITH q AS (SELECT vec_id query_id, embedding q_emb FROM embeddings WHERE vec_id % 100 = 0),
          scored AS (SELECT q.query_id, e.vec_id neighbor_id,
            floor((list_aggregate(list_transform(range(1, len(q.q_emb)+1),
                k -> CAST(q.q_emb[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE)), 'sum')
              / (sqrt(list_aggregate(list_transform(q.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
               * sqrt(list_aggregate(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
          banded AS (SELECT * FROM scored WHERE cos_sim < 0.95),
          ranked AS (SELECT query_id, neighbor_id, cos_sim,
            row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rnk
           FROM banded)
         SELECT query_id, CAST(rnk - 10 AS BIGINT) AS rnk, neighbor_id, cos_sim
         FROM ranked WHERE rnk > 10 AND rnk <= 15 ORDER BY query_id, rnk""",
  )
}
