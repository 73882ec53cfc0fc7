package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.EventStream
import graft.core.ParquetRows

/** Driver-gate entries for the streaming surface. st01 drives a real
  * Structured Streaming query (file source → watermark + window agg →
  * memory sink) over the bounded events table, so its result equals
  * the batch oracle. st02 is gap-based sessionization (batch twin of
  * the stateful streaming path, oracle-checked; the
  * flatMapGroupsWithState variant is covered by StreamingSpec). */
object StreamingQueries {

  def st01StreamDaily(spark: SparkSession, dir: String): DataFrame = {
    val name = "st01_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.runToCompletion(spark, EventStream.dailyCounts(_, dir), name)
      .orderBy("day", "event_type")
  }

  def st02Sessions(spark: SparkSession, dir: String): DataFrame =
    EventStream.sessionizeBatch(spark, dir, gapMinutes = 30)
      .orderBy("user_id", "start_ms")

  def st03StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val name = "st03_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.runToCompletion(spark, EventStream.streamingDedup(_, dir), name)
      .orderBy("event_type")
  }

  /** Stream-stream interval join run to completion; aggregated to
    * per-user pair counts so the output is compact and deterministic. */
  def st04StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val name = "st04_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val pairs = EventStream.runAppendToCompletion(spark,
      EventStream.streamStreamJoin(_, dir), name)
    pairs.groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
           countDistinct(col("purchase_id")).as("n_purchases"),
           countDistinct(col("view_id")).as("n_views"))
      .orderBy("user_id")
  }

  /** Stream-static enrichment join run to completion (complete-mode
    * aggregation over the dim-bounded key space). */
  def st05StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val name = "st05_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.runToCompletion(spark, EventStream.enrichByNation(_, dir), name)
      .orderBy("nation", "event_type")
  }

  /** Streaming ingestion into the asset store: drive the event stream
    * through foreachBatch → TableStore.bulkAppend, then read the
    * per-experiment asset counts BACK OUT of the store's catalog —
    * the round trip proves the streaming ETL feeds the database the
    * reference's consumers would read. */
  def st06StreamIngest(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-stream-ingest") { tmp =>
    import spark.implicits._
    val db = new graft.store.TableStore(spark, tmp.toString)
    try {
      EventStream.ingestEventsToStore(spark, dir, db)
      db.query(Seq(graft.core.Route.Timeseries))
        .groupBy(_.meta("experiment")).toSeq
        .map { case (exp, entries) => (exp, entries.size.toLong) }
        .toDF("experiment", "n_assets")
        .orderBy("experiment")
    } finally db.close()
  }

  /** Streaming near-duplicate monitor: MinHash-band collision state
    * over an arriving document stream — the in-flight version of d02's
    * candidate generation, detecting near-dup clusters as the crawl
    * lands instead of in a nightly batch. Per document the stream
    * computes the 64-slot MinHash signature and its 16 LSH band hashes
    * (narrow per-row expressions, no corpus joins), then keeps ONE
    * streaming aggregation keyed by (band, bandhash): bucket count +
    * smallest doc_id. Count and min are commutative, so the state —
    * and the gate output — is identical under any microbatch slicing
    * or arrival order (StreamingSpec pins trickle == one-shot ==
    * batch). The final per-band rollup of hot (≥ 2-doc) buckets runs
    * as a batch step over the dedup-state snapshot. Rows-only gate
    * (xxhash64/minhash are not SQL-expressible); the batch-parity spec
    * is the semantic check. */
  def st07StreamNeardup(spark: SparkSession, dir: String): DataFrame = {
    val name = "st07_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val buckets = EventStream.runToCompletion(spark,
      nearDupBuckets(_, dir, None), name)
    hotBucketRollup(buckets)
  }

  /** The streaming frame: (band, bh) bucket occupancy over the
    * document stream. Public pieces so the spec drives the same plan
    * through trickled multi-file sources. */
  private[analytics] def nearDupBuckets(spark: SparkSession, dir: String,
                                        maxFilesPerTrigger: Option[Int]): DataFrame =
    nearDupBucketsOf(EventStream.readDocumentsStream(spark, dir, maxFilesPerTrigger))

  /** ONE bucket-state definition for the streaming frame and the batch
    * twin (the zoneMapOf rule: parity cannot drift from a hand-copied
    * expression tree). */
  private def nearDupBucketsOf(docs: DataFrame): DataFrame = {
    import graft.functions.MinHash64.minhash64
    import graft.functions.WordShingles.word_shingles
    docs
      .select(col("doc_id"), minhash64(word_shingles(col("text"))).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), explode(Dedup.bandStructs(col("sig"))).as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.bh").as("bh"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
  }

  /** st07's batch twin — the same bucket state + rollup computed over
    * the static table; Verify pins `st07_eq_batch` (count and min are
    * commutative, so the streamed state must land here exactly). */
  private[graft] def st07BatchTwin(spark: SparkSession, dir: String): DataFrame =
    hotBucketRollup(nearDupBucketsOf(Tables.documents(spark, dir)))

  private[analytics] def hotBucketRollup(buckets: DataFrame): DataFrame =
    buckets.filter(col("n_docs") >= 2)
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_hot_buckets"),
           sum("n_docs").as("n_docs_in_hot"),
           min("first_doc").as("first_doc"))
      .orderBy("band")

  /** Streaming decontamination — t20's Bloom-tiered benchmark scrub
    * applied as documents ARRIVE instead of in a nightly batch: the
    * eval set's (static, fixed-size) distinct shingles build one Bloom
    * filter before the stream starts; each arriving train document's
    * shingles probe the filter per-row (no state, no shuffle), only
    * probable hits reach the stream-static LEFT SEMI join that removes
    * the ~1% false positives (stateless — the static side is the same
    * every microbatch), and the only stateful operators are the
    * contaminated-doc dedup + the |sources|-bounded count. State is
    * proportional to CONTAMINATED docs — on a mostly-clean stream,
    * almost nothing. Oracle-checked: the bounded drive must equal the
    * batch count of distinct contaminated docs per source, which also
    * proves the Bloom stage is correctness-invisible in-flight. */
  def st08StreamDecontam(spark: SparkSession, dir: String): DataFrame = {
    val name = "st08_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the eval-shingle cache outlives the drive (every microbatch's
    // semi join reads it) and is released the moment the drive ends —
    // the memory sink holds the result, so nothing downstream re-reads
    // the cached frame
    var evalCache: Option[DataFrame] = None
    try EventStream.runToCompletion(spark,
        { s =>
          val (frame, cached) = decontamStreamCached(s, dir, dir, None)
          evalCache = Some(cached)
          frame
        }, name).orderBy("source")
    finally evalCache.foreach(_.unpersist())
  }

  /** The st08 streaming frame, split out so the spec can drive the
    * same plan through a trickled multi-file source: eval shingles and
    * the Bloom filter come from `evalDir` (static), the train stream
    * from `streamDir`. Callers own the returned cache's lifetime (it
    * must survive the whole drive); [[st08StreamDecontam]] releases it
    * when its drive completes. */
  private[analytics] def decontamStream(s: SparkSession, streamDir: String,
                                        evalDir: String,
                                        maxFilesPerTrigger: Option[Int]): DataFrame =
    decontamStreamCached(s, streamDir, evalDir, maxFilesPerTrigger)._1

  private[analytics] def decontamStreamCached(s: SparkSession, streamDir: String,
                                              evalDir: String,
                                              maxFilesPerTrigger: Option[Int])
      : (DataFrame, DataFrame) = {
    import graft.functions.WordShingles.word_shingles
    import graft.functions.BloomMightContain.bloom_might_contain
    // cached: the bounded distinct-shingle set is read three+ times —
    // count, Bloom build, and the static side of the semi join EVERY
    // microbatch; uncached, each arriving file would pay a full
    // eval-corpus scan + distinct shuffle
    val evalSh = Tables.documents(s, evalDir).filter(col("source") === "src0")
      .select(explode(word_shingles(col("text"))).as("shingle")).distinct()
      .cache()
    val bloom = graft.functions.BloomMightContain.serialize(
      evalSh.stat.bloomFilter("shingle", math.max(evalSh.count(), 1L), 0.01))
    val frame = EventStream.readDocumentsStream(s, streamDir, maxFilesPerTrigger)
      .filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"),
        explode(word_shingles(col("text"))).as("shingle"))
      .filter(bloom_might_contain(col("shingle"), bloom))
      .join(evalSh, Seq("shingle"), "left_semi")
      .dropDuplicates("doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_contaminated"))
    (frame, evalSh)
  }

  /** Streaming vector ingest with IVF cell assignment — the FAISS
    * train/add split in streaming form: the coarse quantizer trains on
    * the STATIC corpus once (bounded driver sample, before the stream
    * starts), and every ARRIVING vector is assigned to its nearest
    * cell by the same narrow centroid-literal expression the batch
    * path uses — per-row, stateless, no join; the only streaming
    * state is the |cells|-bounded count table. This is how a 100 TB
    * vector pipeline ingests continuously: cells are the partition
    * key the corpus lands under, so downstream IVF probes stay
    * partition-pruned while data keeps arriving. Rows-only gate;
    * StreamingVecSpec pins exact parity with the batch assignment. */
  def st09StreamVectorIngest(spark: SparkSession, dir: String): DataFrame = {
    val name = "st09_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.runToCompletion(spark,
      vectorIngestStream(_, dir, dir, None), name).orderBy("cell")
  }

  /** The st09 streaming frame — quantizer from `fitDir` (static),
    * vectors from `streamDir`; split out for the spec's trickle and
    * parity drives. */
  private[analytics] def vectorIngestStream(s: SparkSession, streamDir: String,
                                            fitDir: String,
                                            maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.functions.VectorFunctions._
    // codebook-only fit: releases ITS OWN corpus cache instead of
    // clearCache()-ing the whole session (which would also evict e.g.
    // a concurrent st08 drive's eval-shingle cache)
    val centroids = Similarity.ivfCentroids(s, fitDir)
    EventStream.readEmbeddingsStream(s, streamDir, maxFilesPerTrigger)
      .select(col("vec_id"), as_double_array(col("embedding")).as("v"))
      .withColumn("norm", array_norm(col("v")))
      .withColumn("cell", Similarity.cellOf(centroids, col("v"), col("norm")))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
  }

  /** st09's batch twin: the full corpus assigned in ONE batch query
    * under the same static-fit centroids ([[Similarity.ivfCentroids]]
    * is memoized per dir, so the codebook is bit-identical to the
    * stream's) — Verify pins `st09_eq_batch` (per-row stateless
    * assignment + commutative count/min aggregates cannot depend on
    * arrival slicing). */
  private[graft] def st09BatchTwin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val centroids = Similarity.ivfCentroids(spark, dir)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), as_double_array(col("embedding")).as("v"))
      .withColumn("norm", array_norm(col("v")))
      .withColumn("cell", Similarity.cellOf(centroids, col("v"), col("norm")))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
  }

  /** st13's batch twin: the full corpus assigned one-shot under a base
    * codebook fit the same way as the gate's (even half, same k/iters
    * — the fit is deterministic, so the codebooks agree across
    * independent builds). Verify pins `st13_eq_batch`: the streamed
    * grow-the-layout loop, whatever its microbatch slicing and
    * compaction cadence, must land the exact per-cell occupancy of the
    * one-shot assignment. The same parity is spec-pinned at sf0.001
    * with trickle drives (StreamVecAppendSpec); the Verify invariant
    * re-proves it against the sf0.01 dump every round. */
  private[graft] def st13BatchTwin(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-st13-twin") { tmp =>
      val base = tmp.resolve("base").toString
      val all = Dedup.normalizedVectors(spark, dir)
      Similarity.writeIvfLayout(all.filter(col("vec_id") % 2 === 0), base,
        k = 16, iters = 10)
      val cents = Similarity.readIvfCodebook(base)
      // cents is a collected array — nothing below reads the scoped
      // layout, but the aggregate is materialized before return anyway
      all.withColumn("cell", Similarity.cellOf(cents, col("v"), col("norm")))
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
        .localCheckpoint(true)
    }

  /** Streaming mixture sampler — t16's fair-share re-balancing
    * applied as documents ARRIVE: the per-language rates fit on the
    * STATIC corpus before the stream starts (a |languages|-row table,
    * broadcast against every microbatch — the stream-static join is
    * stateless), each arriving document passes the deterministic
    * md5-gate per row, and the only streaming state is the
    * |languages|-bounded rollup. Because the gate is content-hashed
    * (no RNG) and the aggregates are commutative, the drive equals
    * the batch rollup under any microbatch slicing — so the gate is
    * ORACLE-CHECKED against t16's batch SQL. This is how a crawl
    * front-end holds a target language mix in-flight instead of
    * re-balancing in a nightly batch. */
  def st10StreamMixture(spark: SparkSession, dir: String): DataFrame = {
    val name = "st10_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.runToCompletion(spark,
      mixtureStream(_, dir, dir, None), name).orderBy("lang")
  }

  /** The st10 streaming frame — rates from `fitDir` (static), the
    * document stream from `streamDir`; split out for the spec's
    * trickle and parity drives. */
  private[analytics] def mixtureStream(s: SparkSession, streamDir: String,
                                       fitDir: String,
                                       maxFilesPerTrigger: Option[Int]): DataFrame = {
    val fit = Tables.documents(s, fitDir)
      .select(col("lang"), col("text"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val rates = TextOps.mixtureRates(fit)
    val stream = EventStream.readDocumentsStream(s, streamDir, maxFilesPerTrigger)
      .select(col("lang"), col("text"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    TextOps.mixtureRollup(stream.join(broadcast(rates), "lang"))
  }

  /** Streaming incremental dedup — d12's ingest-ledger shape applied
    * as documents ARRIVE, structured like st07: the stream keeps ONE
    * aggregation keyed on (source, fingerprint) — count + min doc_id,
    * both commutative, state bounded by distinct (source, fp) — and
    * the d12 accounting (ledger hits first, then within-batch winner
    * per fingerprint, then survivors) runs as a BATCH rollup over the
    * state snapshot, joining the static ledger on 16-byte keys. A
    * multi-branch streaming plan (three aggregations + joins) is not
    * expressible in Structured Streaming; the snapshot-rollup split
    * is, and it keeps the in-flight state minimal. Shares d12's
    * DuckDB oracle verbatim — the drive must reproduce the batch
    * accounting bit for bit (trickle parity spec-pinned). */
  def st11StreamIncDedup(spark: SparkSession, dir: String): DataFrame = {
    val name = "st11_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val snapshot = EventStream.runToCompletion(spark,
      incDedupStream(_, dir, None), name)
    incDedupRollup(snapshot, ledgerOf(spark, dir)).orderBy("source")
  }

  private def docFp =
    substring(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")), 1, 16)
  private def isLedgerSource = col("source").rlike("^src[0-9]$")

  /** The already-ingested corpus's distinct fingerprint set. */
  private[analytics] def ledgerOf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(isLedgerSource)
      .select(docFp.as("fp")).distinct()

  /** The st11 streaming frame: (source, fp) → (cnt, min_doc) over the
    * arriving batch. */
  private[analytics] def incDedupStream(s: SparkSession, streamDir: String,
                                        maxFilesPerTrigger: Option[Int]): DataFrame =
    EventStream.readDocumentsStream(s, streamDir, maxFilesPerTrigger)
      .filter(!isLedgerSource)
      .select(col("source"), col("doc_id"), docFp.as("fp"))
      .groupBy("source", "fp")
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc"))

  /** d12's accounting over a (source, fp, cnt, min_doc) snapshot:
    * ledger fingerprints' whole counts are ledger dups; for the rest,
    * the fingerprint's global min doc (d12's winner rule) is kept by
    * its source and every other occurrence is a within-batch dup. */
  private[analytics] def incDedupRollup(snapshot: DataFrame, ledger: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flagged = snapshot.join(
      ledger.withColumn("in_ledger", lit(true)), Seq("fp"), "left")
    // winner resolution runs over the fp-keyed snapshot (output-sized);
    // doc ids are unique so min(min_doc) names exactly one source
    val w = Window.partitionBy("fp")
    val resolved = flagged
      .withColumn("winner", !coalesce(col("in_ledger"), lit(false)) &&
        col("min_doc") === min(col("min_doc")).over(w))
    resolved.groupBy("source")
      .agg(sum(col("cnt")).as("n_docs"),
           sum(when(col("in_ledger").isNotNull, col("cnt")).otherwise(0L)).as("n_ledger_dups"),
           sum(when(col("in_ledger").isNull,
             col("cnt") - when(col("winner"), 1L).otherwise(0L)).otherwise(0L)).as("n_within_dups"),
           sum(when(col("winner"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Streaming distribution-drift monitor — t32's PSI report computed
    * as documents ARRIVE: stateless per-row bin assignment (the fixed
    * bin edges are what make in-flight drift comparable), ONE
    * streaming aggregation keyed (source, bin) — counts, commutative,
    * state bounded by |sources|×|bins| — and the PSI rollup as a batch
    * step over the state snapshot against the STATIC corpus reference
    * (st11's snapshot-rollup split). Counts are exact, so the drive
    * reproduces the batch report bit for bit and shares t32's DuckDB
    * oracle (trickle parity pinned in StreamDriftSpec). This is how an
    * ingest front-end flags a vendor's distribution shift while the
    * batch lands, not in tomorrow's report. */
  def st14StreamDrift(spark: SparkSession, dir: String): DataFrame = {
    val name = "st14_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val snapshot = EventStream.runToCompletion(spark, driftStream(_, dir, None), name)
    val ref = Tables.documents(spark, dir)
      .select(col("source"), TextOps.driftBin.as("bin"))
    TextOps.driftRollup(spark, snapshot,
        ref.groupBy("bin").agg(count(lit(1)).as("cc")),
        ref.groupBy().agg(count(lit(1)).cast("double").as("nc")))
      .orderBy("source")
  }

  /** The st14 streaming frame: (source, bin) → count over arriving
    * documents; split out for the spec's trickle drives. */
  private[analytics] def driftStream(s: SparkSession, streamDir: String,
                                     maxFilesPerTrigger: Option[Int]): DataFrame =
    EventStream.readDocumentsStream(s, streamDir, maxFilesPerTrigger)
      .select(col("source"), TextOps.driftBin.as("bin"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("c"))

  /** Streaming ingestion INTO the stored IVF layout — st09's cell
    * assignment plus the persistence s11 adds offline, closed into the
    * full production loop: each microbatch is assigned under the
    * STORED codebook (one K-row read per stream) and appended
    * cell-partitioned to the index on disk, so the layout grows as
    * vectors arrive and stays probe-ready between batches. Per-batch
    * cost ∝ the microbatch, never the stored corpus; the gate reports
    * per-cell occupancy read back FROM DISK, which must equal the
    * one-shot batch assignment of the full corpus under the base
    * codebook (trickle == one-shot == batch pinned in
    * StreamVecAppendSpec). Rows-only gate (k-means fit isn't
    * SQL-expressible). */
  def st13StreamVecAppend(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-stream-vec-append") { root =>
    val out = root.resolve("corpus").toString
    // base index: the already-ingested even half, fit + written offline
    Similarity.writeIvfLayout(
      Dedup.normalizedVectors(spark, dir).filter(col("vec_id") % 2 === 0),
      out, k = 16, iters = 10)
    vecAppendDrive(spark, dir, out, None)
    // |cells|-bounded occupancy report materialized eagerly; the scoped
    // layout is deleted when this returns
    ParquetRows.frame(spark, out)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
      .orderBy("cell").localCheckpoint(true)
  }

  /** The st13 drive: stream the odd vec_ids and append each microbatch
    * into the layout at `out`; split out for the spec's trickle
    * drives. The foreachBatch side effect is idempotent-per-content
    * (append of deterministic assignments), and the codebook is
    * collected once per stream. */
  private[analytics] def vecAppendDrive(spark: SparkSession, streamDir: String,
                                        out: String,
                                        maxFilesPerTrigger: Option[Int],
                                        compactEvery: Int = 8): Unit = {
    val s = EventStream.boundedDriveSession(spark)
    val cents = Similarity.readIvfCodebook(out)
    val storedCols = ParquetRows.frame(s, out).columns.toSet
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
    EventStream.driveBatches(spark, EventStream.readEmbeddingsStream(_, streamDir,
        maxFilesPerTrigger).filter(col("vec_id") % 2 =!= 0)) { (batch, batchId) =>
      // batchId-derived generation (replay-stable) names the
      // published files, so a redelivered batch replaces its own
      // prior append instead of duplicating it (idempotent between
      // compactions; gen 0 is the seeded baseline's)
      Similarity.appendIvfCorpusWith(cents, out, batch, storedCols,
        gen = batchId + 1)
      // in-line maintenance, same knob as the event-store ingest:
      // every compactEvery batches the cell dirs are rewritten to one
      // file each, so probe read amplification is bounded by the
      // compaction interval, not the stream's lifetime
      if (compactEvery > 0 && nBatches.incrementAndGet() % compactEvery == 0)
        Similarity.compactIvfCorpus(batch.sparkSession, out)
    }
  }

  /** st15: streaming QUERIES against the stored IVF index — the
    * serving half of the loop st13's ingest opened. A query stream
    * arrives in microbatches; each batch is normalized and probed with
    * [[Similarity.ivfStoredTopKWith]] (codebook collected ONCE per
    * stream — the per-microbatch cost is the pruned probe itself, a
    * nProbe/K-of-the-layout read bounded by the batch's query count),
    * results appended to a parquet sink. Every query is probed
    * independently, so the union over microbatches must EQUAL the
    * one-shot batch probe of the full query set — and the gate's base
    * layout, parameters, and query set are s09's, so the result must
    * equal s03/s09 exactly (Verify emits `st15_eq_s03`);
    * StreamVecQuerySpec pins trickle == one-shot == batch and that
    * queries arriving AFTER an append see the appended vectors. */
  def st15StreamVecQuery(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-stream-vec-query") { root =>
    val out = root.resolve("corpus").toString
    val results = root.resolve("results").toString
    Similarity.writeIvfLayout(Dedup.normalizedVectors(spark, dir), out, k = 16, iters = 10)
    vecQueryDrive(spark, dir, out, results, None)
    ParquetRows.frame(spark, results).orderBy("query_id", "rnk").localCheckpoint(true)
  }

  /** The st15 drive: stream the embeddings table, keep the standard
    * query ids (every 100th), probe the layout at `out` per microbatch,
    * append each batch's top-k to `results`; split out for the spec's
    * trickle drives. */
  private[analytics] def vecQueryDrive(spark: SparkSession, streamDir: String,
                                       out: String, results: String,
                                       maxFilesPerTrigger: Option[Int],
                                       k: Int = 10, nProbe: Int = 6): Unit = {
    import graft.functions.VectorFunctions._
    val s = EventStream.boundedDriveSession(spark)
    val cents = Similarity.readIvfCodebook(out)
    EventStream.driveBatches(spark, EventStream.readEmbeddingsStream(_, streamDir,
        maxFilesPerTrigger).filter(col("vec_id") % 100 === 0)) { (batch, _) =>
      // ONE collect job materializes the batch's (bounded) query
      // slice driver-locally — it doubles as the emptiness check
      // (the old isEmpty job) and the probe's broadcasts of it
      // build joblessly
      val qL = graft.core.Bounded.localize(batch
        .select(col("vec_id").as("query_id"),
          as_double_array(col("embedding")).as("qv"))
        .withColumn("qnorm", array_norm(col("qv"))))
      if (qL.count > 0) {
        Similarity.ivfStoredTopKWith(cents, batch.sparkSession, out,
            qL.df, k, nProbe)
          .write.mode("append").parquet(results)
      }
      qL.release()
    }
  }

  /** Streaming anomaly monitor — stateless z-score scoring against a
    * batch-fit per-type profile, |event_type|-bounded rollup
    * ([[EventStream.anomalyCounts]]); oracle-checked against the batch
    * SQL computing the same exact-decimal profile. */
  def st12StreamAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val name = "st12_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.runToCompletion(spark,
      EventStream.anomalyCounts(_, dir), name).orderBy("event_type")
  }

  /** Streaming quality scoring — the SERVING half of t28's training
    * loop, closing train → artifact → serve the way st15 closed it
    * for the vector index: the scorer comes from the persisted model
    * artifact (trained once per corpus per JVM), each arriving
    * document is scored by ONE stateless per-row select (the same
    * plan the batch scorer runs), and the per-source rollup is a
    * |sources|-bounded streaming aggregation of commutative
    * aggregates. Rows-only gate; the Verify invariant `st16_eq_batch`
    * requires the streamed rollup to equal the batch scorer's rollup
    * under the same artifact bit for bit (trickle parity pinned in
    * StreamQualitySpec). */
  def st16StreamQuality(spark: SparkSession, dir: String): DataFrame = {
    val name = "st16_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.runToCompletion(spark,
      qualityStream(_, dir, dir, None), name).orderBy("source")
  }

  /** The st16 streaming frame — scorer from `fitDir`'s artifact
    * (static), the document stream from `streamDir`; split out for
    * the spec's trickle and parity drives. */
  private[analytics] def qualityStream(s: SparkSession, streamDir: String,
                                       fitDir: String,
                                       maxFilesPerTrigger: Option[Int]): DataFrame = {
    val scorer = QualityModel.scorerFor(s, fitDir)
    QualityModel.qualityRollup(QualityModel.scoreDocs(
      EventStream.readDocumentsStream(s, streamDir, maxFilesPerTrigger),
      scorer, Seq("source")))
  }

  /** Batch twin of [[qualityStream]] under the same artifact — the
    * parity baseline for the spec and the Verify invariant. */
  private[graft] def qualityBatch(s: SparkSession, dir: String): DataFrame =
    QualityModel.qualityRollup(QualityModel.scoreDocs(
      Tables.documents(s, dir), QualityModel.scorerFor(s, dir), Seq("source")))

  /** Streaming heavy hitters — t31's Misra–Gries summary maintained
    * over an ARRIVING document stream: the token monitor for a 100 TB
    * ingest where even the vocabulary is too wide to shuffle. The
    * whole stream keeps ONE ≤ k-entry MG buffer as aggregation state
    * (TypedImperativeAggregates merge partial buffers, so the same
    * map-side-combine that bounds the batch shuffle bounds the
    * microbatch update). The summary's exact CONTENTS are
    * merge-order-dependent (inherent to MG — trickled arrival may
    * differ from one-shot), but the GUARANTEE is not: Verify emits
    * `st17_mg_guarantee` against exact corpus counts, and
    * StreamHeavyHittersSpec pins the guarantee under trickled
    * arrival too. */
  def st17StreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val name = "st17_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.runToCompletion(spark,
      heavyHittersStream(_, dir, None), name)
      .orderBy(col("est_count").desc, col("token").asc)
  }

  private[analytics] def heavyHittersStream(s: SparkSession, streamDir: String,
                                            maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.functions.FrequentItems.frequent_items
    EventStream.readDocumentsStream(s, streamDir, maxFilesPerTrigger)
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy()
      .agg(frequent_items(col("token"), TextOps.HeavyHittersK).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("token"), col("e.est").as("est_count"))
  }

  /** Streaming snapshot CDC — d14's diff computed as the NEW snapshot
    * ARRIVES: the arriving corpus maps to its (doc_id, new_md5) pairs
    * row-by-row (stateless, the hash is map-side), ONE streaming
    * aggregation keys them by doc_id (state = 48 bytes per snapshot
    * row — id+hash, never text), and the diff against the previous
    * snapshot's hash table runs as a batch rollup over the state
    * snapshot (st11's snapshot-rollup split — deletions are only
    * decidable once the arriving snapshot is complete). Shares d14's
    * DuckDB oracle verbatim; trickle parity pinned in CdcSpec. This is
    * how a 100 TB ingest computes "what changed since yesterday"
    * while the drop lands, not after it. */
  def st18StreamCdc(spark: SparkSession, dir: String): DataFrame = {
    val name = "st18_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val snapshot = EventStream.runToCompletion(spark, cdcStream(_, dir, None), name)
    val a = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("old_md5"))
    Dedup.cdcDiff(a, snapshot)
  }

  /** The st18 streaming frame: arriving docs → (doc_id, new_md5),
    * keyed by doc_id (max is identity — each B row is emitted once;
    * the agg exists to surface the complete-mode snapshot). */
  private[analytics] def cdcStream(s: SparkSession, streamDir: String,
                                   maxFilesPerTrigger: Option[Int]): DataFrame =
    Dedup.cdcSnapshotB(EventStream.readDocumentsStream(s, streamDir, maxFilesPerTrigger))
      .groupBy("doc_id").agg(max(col("new_md5")).as("new_md5"))

  /** Streaming zone-map maintenance — the ingest side of q35: as files
    * land in the time-ordered layout, ONE streaming aggregation keyed
    * by file maintains each file's (min ts, max ts, rows) — state is
    * file-count-sized, the manifest a table format updates per commit,
    * never data-sized. The rollup then answers q35's range query FROM
    * THE STREAMED MAP (prune to surviving files, residual filter,
    * aggregate), sharing q35's DuckDB oracle verbatim: the map
    * maintained in-flight must prune to exactly the files the
    * batch-built map prunes to. At 100 TB this is how data skipping
    * stays current without a nightly full-scan stats rebuild. */
  def st19StreamZonemap(spark: SparkSession, dir: String): DataFrame = {
    val layout = Layout.ensureZonedLayout(spark, dir)
    val name = "st19_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val snapshot = EventStream.runToCompletion(spark, zonemapStream(_, layout, None), name)
    Layout.prunedRangeQuery(spark, snapshot)
  }

  /** The st19 streaming frame: arriving layout files → per-file zone
    * rows. min/max/count are commutative, so microbatch slicing can
    * never move the map (CdcSpec-style trickle parity pinned in
    * ZonemapStreamSpec). */
  private[analytics] def zonemapStream(s: SparkSession, layout: String,
                                       maxFilesPerTrigger: Option[Int]): DataFrame = {
    val r = s.readStream
      .schema(EventStream.eventsSchemaWith(org.apache.spark.sql.types.TimestampType))
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    // the agg IS Layout.zoneMapOf — one definition for the batch map
    // and the streamed map, so parity cannot drift
    Layout.zoneMapOf(r.parquet(layout))
  }

  /** Streaming rollup-state maintenance — q36's incremental-aggregate
    * loop with the STREAM as the state keeper: one streaming
    * aggregation holds the (day, type) mergeable state (count + exact
    * decimal sum + min/max; |days|×|types| rows, never event-count),
    * and the final report derives from the state snapshot exactly as
    * q36 derives from its stored state. Every state column is
    * commutative, so the drive reproduces the batch recompute bit for
    * bit and shares q36's DuckDB oracle (trickle parity pinned in
    * StreamRollupSpec). This is the metrics stack maintained while
    * events land — the nightly state-merge job, deleted. */
  def st20StreamRollupState(spark: SparkSession, dir: String): DataFrame = {
    val name = "st20_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val snapshot = EventStream.runToCompletion(spark,
      EventStream.rollupState(_, dir, None), name)
    rollupReport(snapshot)
  }

  /** q36's derivation from mergeable state: surface the derived
    * columns (avg divides doubles AFTER the exact decimal sum — the
    * oracle's arithmetic). */
  private[analytics] def rollupReport(state: DataFrame): DataFrame =
    state.select(col("day"), col("event_type"),
        col("cnt").as("n_events"),
        graft.analytics.Det.dround(col("sval").cast("double"), 2).as("sum_value"),
        graft.analytics.Det.dround(col("sval").cast("double") / col("cnt"), 4).as("avg_value"),
        col("minv").as("min_value"), col("maxv").as("max_value"))
      .orderBy("day", "event_type")

  /** st21 gate: streaming DISTINCT-COUNT state maintenance — q39's
    * mergeable HLL loop with the STREAM as the state keeper: one
    * streaming aggregation holds the (day, type) user sketches
    * (|days|×|types| sketches of ~KB each, never event-count), and
    * the final report derives from the state snapshot exactly as q39
    * derives from its stored state (`Layout.hllReport`, shared).
    * Sketch merge is register-max — commutative, associative — so
    * the streamed state carries the SAME registers as the batch
    * build whatever the microbatch slicing (trickle parity pinned in
    * StreamHllSpec; Verify pins st21 == q39 row for row). This is
    * "distinct users per day, live" without a nightly
    * count-distinct rescan. */
  def st21StreamHllState(spark: SparkSession, dir: String): DataFrame = {
    val name = "st21_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val snapshot = EventStream.runToCompletion(spark,
      EventStream.hllState(_, dir, None), name)
    Layout.hllReport(spark, dir, snapshot)
  }

  /** st22 gate: STREAMING RETENTION — continuous ingest through the
    * st06 foreachBatch path with a periodic VACUUM RETAIN running
    * inline: a snapshot marker is pinned mid-stream, and
    * `compactRetain(marker)` runs between later microbatches (and
    * once at end of stream) while appends keep landing — the drive
    * `require`s the pinned-marker live view bit-stable across every
    * vacuum ([[graft.streaming.EventStream.ingestEventsToStoreRetained]];
    * vacuum and appends serialize inside foreachBatch, the
    * single-maintainer discipline the rewrite swap documents). The
    * fixture's single-file events table is re-laid into four
    * ts-ranged files so the drive genuinely microbatches.
    *
    * Report: per event type off the POST-VACUUM live frame — live
    * keys and the exact decimal total parsed back from the stored
    * payloads — which must equal the batch aggregate of the raw
    * events. Fully oracle-checked: streaming state → append log →
    * repeated vacuum → newest-per-key read is content-lossless, and
    * any row the vacuum dropped or duplicated would move a count or
    * a total. */
  def st22StreamRetention(spark: SparkSession, dir: String): DataFrame = {
    // the 4-file re-lay of the single-file fixture is input staging,
    // not the operation under test — stage it once per (JVM, dir)
    // like the other shared artifacts; the STORE stays per-invocation
    // (each drive must ingest into a fresh one)
    val srcDir = graft.core.FixtureClock.staged("st22-fixture", dir) { p =>
      Tables.events(spark, dir).repartitionByRange(4, col("ts"))
        .write.parquet(s"$p/events.parquet")
    }
    graft.core.TempDirs.scoped("graft-st22-store") { storeDir =>
    val db = new graft.store.TableStore(spark, storeDir.toString)
    try {
      val marker = EventStream.ingestEventsToStoreRetained(spark, srcDir.toString, db)
      require(marker >= 0, "stream produced too few batches to pin a marker")
      val jschema = new org.apache.spark.sql.types.StructType()
        .add("n", org.apache.spark.sql.types.LongType)
        .add("total", org.apache.spark.sql.types.DecimalType(18, 6))
      db.liveFrame("timeseries").get
        .select(col("experiment"), from_json(col("json"), jschema).as("j"))
        .groupBy("experiment")
        .agg(count(lit(1)).as("n_users"),
             Det.dround(sum(col("j.total")).cast("double"), 2).as("total_value"))
        .orderBy("experiment")
        // |experiments|-bounded report materialized eagerly; the scoped
        // store layout is deleted when this returns
        .localCheckpoint(true)
    } finally db.close()
    }
  }

  /** st23 gate: STREAMING inverted-index maintenance — p10's loop
    * consumed from a CDC change FEED instead of a nightly diff: each
    * microbatch of change rows is one [[TextOps.applyPostingsBatch]] at
    * generation `batchId + 1` (p10 applies its one batch at 1): a
    * GENERATION-SCOPED tombstone (covers generations below this
    * batch's — a re-append in the same batch is live immediately, the
    * Lucene per-segment-delete move), the diff's re-tokenized postings
    * appended at the batch's generation, and the per-term df deltas
    * folded — all inside
    * foreachBatch (single-maintainer, the st13/st22 discipline). NO
    * per-batch compaction: per-batch work is diff-bounded (tombstone
    * write + diff tokenize + |vocab| sidecar merge), never a corpus
    * rewrite; ONE compaction at end of stream applies the accumulated
    * tombstones physically, exactly like st13's owning ingest loop.
    * Per-doc change rows are independent, every op commutes across
    * docs, and df deltas are exact counts — the final layout is
    * slicing-invariant. The feed is d14's diff joined with the new
    * snapshot's text (deleted rows carry none), re-laid into 3 files
    * and trickled one per batch. Final report = p10's, sharing its
    * oracle verbatim; PostingsSpec pins frame-level equality with the
    * batch loop's layout. */
  def st23StreamPostings(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-st23") { root =>
      // |vocab|-bounded report materialized eagerly; the scoped layout
      // is deleted when this returns
      TextOps.postingsReport(spark, streamMaintainPostingsAt(spark, dir, root))
        .localCheckpoint(true)
    }

  /** st25's staged change feed (the st23 staging rule — once per
    * (JVM, dataset), read in place). */
  private def st25FeedDir(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("st25-feed", dir) { p =>
      val docs = Tables.documents(spark, dir)
      Dedup.d14SnapshotCdc(spark, dir).select("doc_id", "change_type")
        .join(Dedup.cdcSnapshotBText(docs).select(col("doc_id"), col("text")),
          Seq("doc_id"), "left")
        .repartition(3).write.parquet(p)
    }

  /** st25 gate: STREAMING IVF-PQ index maintenance — p11's epoch loop
    * consumed from a CDC change FEED (st23's shape for the PQ-coded
    * vector tier): each microbatch is one [[Similarity.applyIvfPqBatch]]
    * at generation `batchId + 1` — GENERATION-SCOPED tombstones for its
    * deleted+changed ids (covers gens below this batch's, so the
    * batch's own re-append is live immediately), then ONLY the batch's
    * changed+added docs re-embedded (content-derived stub at the PQ
    * dimension) and appended as codes + refine rows under the STORED
    * codebooks (collected once per stream). NO per-batch compaction —
    * per-batch work is diff-bounded; ONE end-of-stream compaction
    * applies the tombstones physically to codes AND refine. Per-doc
    * change rows are independent and ops commute across docs, so the
    * final index is slicing-invariant: the probe must equal p11's
    * batch loop exactly (Verify: `st25_eq_p11`, and transitively the
    * full PQ rebuild). Rows-only (k-means + PQ). */
  def st25StreamPqMaintain(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-st25") { tmp =>
    val docs = Tables.documents(spark, dir)
    // yesterday's index arrives as a COPY of the memoized baseline —
    // no per-invocation corpus re-encode (r12 finding #3)
    val out = Pipeline.copyBaseline(
      Pipeline.p11BaselineLayout(spark, dir), tmp.resolve("index"))
    // the change feed: d14's diff rows with snapshot-B text for
    // changed/added (deletes carry none), re-laid into 3 files and
    // trickled one per batch — staged once per (JVM, dataset) (input
    // staging, the st22/st23 rule; the drive reads it in place)
    val feedDir = st25FeedDir(spark, dir)
    val s = EventStream.boundedDriveSession(spark)
    val feedSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("change_type", org.apache.spark.sql.types.StringType)
      .add("text", org.apache.spark.sql.types.StringType)
    val cents = Similarity.readIvfCodebook(out)
    val books = Similarity.readPqCodebooks(out)
    EventStream.driveBatches(spark,
        EventStream.readStagedFeed(_, feedSchema, feedDir)) { (batch, batchId) =>
      val bs = batch.sparkSession
      // gen 0 is the base layout; batchId is replay-stable, and a
      // redelivered batch re-applied at its own generation lands on the
      // same live rows until the end-of-stream compaction
      val g = batchId + 1
      // ONE job reads the one-file microbatch driver-locally; the
      // branch decisions fold over the collected rows (no count job)
      // and the branch frames are filters over the LocalRelation, so
      // the deletes' internal broadcasts build with zero jobs and
      // the appends never re-scan the source file
      val batchL = graft.core.Bounded.localize(
        batch.select(col("doc_id"), col("change_type"), col("text")))
      val byType = graft.core.Bounded.countsBy(batchL, "change_type")
      def n(t: String): Long = byType.getOrElse(t, 0L)
      // the embed + cell-assign + PQ-encode input is the one HEAVY
      // per-row transform in this loop: hand it the re-parallelized
      // rows (Bounded.parallel — no shuffle, no extra job), not the
      // LocalRelation, or ConvertToLocalRelation folds the embed
      // driver-side single-threaded with interpreted expressions —
      // the r17 verdict's st25 ×2–2.9 regression at 32 cores
      Similarity.applyIvfPqBatch(bs, cents, books, out, gen = g,
        dirty = if (n("deleted") + n("changed") == 0) None
          else Some(batchL.df.filter(col("change_type").isin("deleted", "changed"))
            .select(col("doc_id").as("vec_id"))),
        adds = if (n("changed") + n("added") == 0) None
          else Some(Pipeline.p11Vectors(graft.core.Bounded.parallel(batchL)
            .filter(col("change_type").isin("changed", "added"))
            .select(col("doc_id"), col("text")))))
      batchL.release()
    }
    Similarity.compactIvfPqCorpus(spark, out)
    // |queries|×k report materialized eagerly; the scoped layout is
    // deleted when this returns. The *With entry reuses the codebooks
    // collected at stream start — compaction carries `_codebook` and
    // `_pq_codebooks` verbatim, so re-reading them here was 4 jobs
    // re-collecting identical arrays
    Similarity.ivfPqStoredTopKWith(cents, books, spark, out,
        Pipeline.p11QuerySet(docs), k = 10)
      .orderBy("query_id", "rnk").localCheckpoint(true)
  }

  /** st26 gate: STREAMING kNN-graph maintenance — g07's diff-driven
    * loop consumed from a vector CDC feed, the last maintained index
    * family to gain a streamed twin (vectors st13, postings st23,
    * images st24, PQ st25). The feed carries the Debezium after-image
    * (new vector for changed/added rows, id-only deletes); each
    * microbatch applies [[Graph.applyKnnDiffToStore]] to a SEGMENTED
    * edge store and the matching tombstone/append pair to a segmented
    * corpus store — per-batch storage writes are O(|touched|·k), never
    * the corpus+edge double-buffer rewrite the r12 shape paid. The
    * inductive invariant is that the stores' LIVE views are always the
    * exact corpus and its exact graph, so per-batch maintenance
    * composes to the one-shot result under ANY slicing: the final
    * graph must equal g07's batch loop (Verify: `st26_eq_g07`) and
    * transitively the full rebuild of snapshot B.
    *
    * Replay safety (foreachBatch is at-least-once): generations derive
    * from the framework's batchId — stable across retries — reads are
    * [[graft.core.SegmentedIndex.liveAsOf]] the PREVIOUS generation
    * (immutable once written), segment appends are per-generation
    * OVERWRITES, and tombstone re-appends max-fold idempotently — so a
    * re-delivered batch recomputes the same sets and lands on the same
    * bytes. Per-batch pair work is the cell-pruned admission +
    * |touched|·N recompute — diff-bounded, never N². Rows-only (kNN
    * maintenance). */
  /** st26's staged change feed (the st22/st23 staging rule). */
  private def st26FeedDir(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("st26-feed", dir) { p =>
      val a0 = Dedup.normalizedVectors(spark, dir)
      val b = Graph.vectorSnapshotB(a0)
      // the change feed, after-image convention
      val deleted = a0.filter(col("vec_id") % 10 === 7)
        .select(col("vec_id"), lit("deleted").as("change_type"),
          lit(null).cast("array<double>").as("v"), lit(null).cast("double").as("norm"))
      val changed = b.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"), lit("changed").as("change_type"), col("v"), col("norm"))
      val added = b.filter(col("vec_id") < 0)
        .select(col("vec_id"), lit("added").as("change_type"), col("v"), col("norm"))
      deleted.unionByName(changed).unionByName(added)
        .repartition(3).write.parquet(p)
    }

  def st26StreamKnnMaintain(spark: SparkSession, dir: String): DataFrame = {
    graft.core.TempDirs.scoped("graft-st26") { tmp =>
      val edgeStore = st26Drive(spark, dir, tmp,
        feed = spark.emptyDataFrame, // unused: the staged dir is read in place
        stagedFeedDir = Some(st26FeedDir(spark, dir)))
      // |5N|-bounded final graph materialized eagerly; the scoped
      // segmented stores are deleted when this returns
      graft.core.SegmentedIndex.live(spark,
          ParquetRows.frame(spark, edgeStore), edgeStore,
          keyCol = "vec_id", genCol = "gen")
        .select("vec_id", "rnk", "neighbor_id", "cos_sim")
        .orderBy("vec_id", "rnk").localCheckpoint(true)
    }
  }

  /** The st26 drive proper, parameterized on the change feed so the
    * MaintenanceProbeSpec scratch receipt can run it with a FIXED
    * diff against replicated corpora (the gate's own feed scales with
    * the fixture). Seeds the segmented corpus + edge stores under
    * `tmp`, streams the feed through the maintenance loop, compacts
    * on policy, and returns the edge-store path. */
  private[graft] def st26Drive(spark: SparkSession, dir: String,
      tmp: java.nio.file.Path,
      feed: DataFrame,
      stagedFeedDir: Option[String] = None): String = {
    val corpusStore = tmp.resolve("corpus").toString
    val edgeStore = tmp.resolve("edges").toString
    // generation 0: yesterday's corpus + the shared stored edge
    // artifact, both seeded by FILE COPY of memoized layouts (the
    // 6N-row seed writes ran once per JVM, not once per invocation)
    graft.core.DirSwap.copyTree(
      java.nio.file.Paths.get(st26CorpusSeed(spark, dir)),
      tmp.resolve("corpus/gen=0"))
    graft.core.DirSwap.copyTree(
      java.nio.file.Paths.get(Similarity.knnEdgesPath(spark, dir)),
      tmp.resolve("edges/gen=0"))
    // opt both stores into the O(1) row-count sidecar (driver-side
    // footer counts of the just-copied seed segments — no Spark job;
    // appends/compactions maintain the number from here by arithmetic)
    graft.core.SegmentedIndex.writeRowCount(corpusStore,
      graft.core.SegmentedIndex.footerRowCountOf(
        java.nio.file.Paths.get(corpusStore, "gen=0")))
    graft.core.SegmentedIndex.writeRowCount(edgeStore,
      graft.core.SegmentedIndex.footerRowCountOf(
        java.nio.file.Paths.get(edgeStore, "gen=0")))
    // the codebook is a train-once artifact: the admission prune keeps
    // its exactness whatever corpus the per-application cell profile
    // (δ_c, min kth) is measured over
    val cents = Similarity.ivfCentroids(spark, dir)
    // the gate passes its fixture feed pre-staged (once per JVM — the
    // st22/st23 staging rule); ad-hoc feeds (the MaintenanceProbe
    // receipts) still stage into the scoped tmp per drive
    val feedDir = stagedFeedDir.getOrElse {
      val fd = tmp.resolve("feed").toString
      feed.repartition(3).write.parquet(fd)
      fd
    }
    val feedSchema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", org.apache.spark.sql.types.LongType)
      .add("change_type", org.apache.spark.sql.types.StringType)
      .add("v", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
      .add("norm", org.apache.spark.sql.types.DoubleType)
    EventStream.driveBatches(spark,
        EventStream.readStagedFeed(_, feedSchema, feedDir)) { (batch, batchId) =>
      val bs = batch.sparkSession
      val g = batchId + 1 // gen 0 is the seed; batchId is replay-stable
      // ONE job reads the one-file microbatch driver-locally; the
      // two diff frames are filters over the LocalRelation (the
      // optimizer folds them back to LocalRelations), so every
      // downstream broadcast/semi-join of them builds with zero jobs
      // — the r16 shape paid two checkpoint jobs here plus a
      // broadcast-collect job per consuming action
      val batchL = graft.core.Bounded.localize(batch
        .select(col("vec_id"), col("change_type"), col("v"), col("norm")))
      val dirtyOld = batchL.df
        .filter(col("change_type").isin("deleted", "changed"))
        .select("vec_id")
      val newRows = batchL.df
        .filter(col("change_type").isin("changed", "added"))
        .select(col("vec_id"), col("v"), col("norm"))
      // the replay-stable pre-images: live as of the previous
      // generation (immutable), never "whatever is on disk now"
      val aCur = graft.core.SegmentedIndex.liveAsOf(bs,
        ParquetRows.frame(bs, corpusStore), corpusStore,
        keyCol = "vec_id", genCol = "gen", asOfGen = g - 1).drop("gen")
      val eCur = graft.core.SegmentedIndex.liveAsOf(bs,
        ParquetRows.frame(bs, edgeStore), edgeStore,
        keyCol = "vec_id", genCol = "gen", asOfGen = g - 1).drop("gen")
      // corpus maintenance: tombstone the batch's dirty ids, append
      // its after-images as segment g
      graft.core.SegmentedIndex.applyBatch(Some(dirtyOld), corpusStore, "vec_id", g) {
        graft.core.SegmentedIndex.appendSegment(newRows, corpusStore, g)
      }
      // edge maintenance against the batch's post-image corpus,
      // read FROM THE STORE the two writes above just produced:
      // liveAsOf(g) = segments ≤ g minus this batch's (and earlier)
      // tombstones — exactly aCur ∖ dirtyOld ∪ newRows, already on
      // disk diff-incrementally. The r13 build re-derived it as an
      // anti-join+union and localCheckpointed the FULL post-image
      // corpus every microbatch — N rows of scratch per batch, the
      // same E·N write-amp the segmented store exists to eliminate
      // (the r13 verdict's named scale-killer). Each consumer now
      // pays a parquet re-scan + the diff-bounded anti-join instead
      // — read work, bounded by the corpus scan the admission pass
      // does anyway, with zero per-batch scratch writes.
      val bCur = graft.core.SegmentedIndex.liveAsOf(bs,
        ParquetRows.frame(bs, corpusStore), corpusStore,
        keyCol = "vec_id", genCol = "gen", asOfGen = g).drop("gen")
      // `added` rows are first-seen by the CDC contract — excluded
      // from the tombstone write so the compaction policy's
      // instance-count estimate stays exact (no stored rows to cover)
      Graph.applyKnnDiffToStore(aCur, eCur, bCur, dirtyOld,
        newRows.select("vec_id"), edgeStore, g, Some(cents),
        pureNewIds = Some(batchL.df.filter(col("change_type") === "added")
          .select("vec_id")),
        // stored rows ≥ live rows: the tracked corpus store's O(1)
        // row-count sidecar is a sound survivor upper bound, so the
        // admission early-exit runs zero count jobs per microbatch
        survivorsBound = graft.core.SegmentedIndex.readRowCount(corpusStore))
      batchL.release()
    }
    // one END-OF-STREAM compaction on policy (the st13/st23/st25
    // discipline): physically drop tombstone-covered rows once they
    // pass the read-amp threshold — correctness never depends on it
    def edgesLive = graft.core.SegmentedIndex.live(spark,
      ParquetRows.frame(spark, edgeStore), edgeStore,
      keyCol = "vec_id", genCol = "gen")
    graft.core.SegmentedIndex.maybeCompact(edgeStore,
      rowsPerInstance = Similarity.KnnEdgeK.toDouble) { tmpDir =>
      edgesLive.drop("gen").write.parquet(s"$tmpDir/gen=0")
    }
    edgeStore
  }

  /** st26's snapshot-A corpus in segment shape (vec_id, v, norm),
    * memoized per (JVM, dataset) so each invocation seeds by file
    * copy. */
  private def st26CorpusSeed(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("st26-seed", dir) { p =>
      Dedup.normalizedVectors(spark, dir)
        .select(col("vec_id"), col("v"), col("norm"))
        .write.parquet(p)
    }

  /** The st23 drive on a fresh process-root layout (cleaned at JVM
    * exit), returning the maintained path (split out for PostingsSpec's
    * frame-level comparison with p10). */
  private[graft] def streamMaintainPostings(spark: SparkSession, dir: String): String =
    streamMaintainPostingsAt(spark, dir, graft.core.TempDirs.create("graft-st23"))

  /** st23's staged change feed — a pure function of the fixture
    * (d14's diff rows with both text images, re-laid into 3 files),
    * staged once per (JVM, dataset) like st22's 4-file re-lay: input
    * staging, not the operation under test. The drive reads the
    * memoized dir in place (read-only). */
  private def st23FeedDir(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("st23-feed", dir) { p =>
      val docs = Tables.documents(spark, dir)
      Dedup.d14SnapshotCdc(spark, dir).select("doc_id", "change_type")
        .join(Dedup.cdcSnapshotBText(docs).select(col("doc_id"), col("text")),
          Seq("doc_id"), "left")
        .join(docs.select(col("doc_id"), col("text").as("old_text")),
          Seq("doc_id"), "left")
        .repartition(3).write.parquet(p)
    }

  private def streamMaintainPostingsAt(spark: SparkSession, dir: String,
                                       tmp: java.nio.file.Path): String = {
    val out = tmp.resolve("postings").toString
    // yesterday's index: a file copy of the memoized baseline (p10's
    // discipline — the full-corpus tokenize ran once per JVM)
    Pipeline.copyBaseline(Pipeline.p10BaselineLayout(spark, dir), tmp.resolve("postings"))
    // the change feed carries BOTH images (the Debezium convention):
    // new text for changed/added rows, the BEFORE-image for
    // changed/deleted rows — so the consumer's removed-df deltas
    // tokenize the diff instead of scanning the stored index
    val feedDir = st23FeedDir(spark, dir)
    val feedSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("change_type", org.apache.spark.sql.types.StringType)
      .add("text", org.apache.spark.sql.types.StringType)
      .add("old_text", org.apache.spark.sql.types.StringType)
    EventStream.driveBatches(spark,
        EventStream.readStagedFeed(_, feedSchema, feedDir)) { (batch, batchId) =>
      val bs = batch.sparkSession
      val g = batchId + 1 // gen 0 is the base layout; batchId is replay-stable
      // ONE job reads the one-file microbatch driver-locally; branch
      // decisions fold over the collected rows (no count job) and
      // both branch frames are filters over the LocalRelation — no
      // checkpoint jobs, no broadcast-collect jobs in the consumers
      val batchL = graft.core.Bounded.localize(batch.select(
        col("doc_id"), col("change_type"), col("text"), col("old_text")))
      val byType = graft.core.Bounded.countsBy(batchL, "change_type")
      def nOf(t: String) = byType.getOrElse(t, 0L)
      // outgoing per-term doc counts from the feed's BEFORE-image —
      // equals the stored rows by construction (a doc's postings are
      // a pure function of its text), so the delta tokenizes |diff|
      // docs and never scans the index
      // the tokenize pass is the loop's heavy per-row transform: it
      // reads the RE-PARALLELIZED rows (Bounded.parallel — no
      // shuffle, no extra job) so the explode+agg keeps codegen and
      // every core, and it runs ONCE per batch over both images. The
      // tombstone write stays on the LocalRelation slice (driver-side
      // dedupe, zero-job broadcast) — the r17 verdict's item-1 split.
      val batchPar = graft.core.Bounded.parallel(batchL)
      val nRm = nOf("deleted") + nOf("changed")
      val nAdd = nOf("changed") + nOf("added")
      TextOps.applyPostingsBatch(bs, out, gen = g,
        dirty = if (nRm == 0) None else Some(batchL.df
          .filter(col("change_type").isin("deleted", "changed"))
          .select("doc_id")),
        addDocs = if (nAdd == 0) None else Some(batchPar
          .filter(col("change_type").isin("changed", "added"))
          .select(col("doc_id"), col("text"))),
        rmDocs = if (nRm == 0) None else Some(batchPar
          .filter(col("change_type").isin("deleted", "changed"))
          .select(col("doc_id"), col("old_text").as("text"))))
      batchL.release()
    }
    // the single end-of-stream compaction: apply the accumulated
    // tombstones physically, clear the sidecar, bound read
    // amplification for the serving side
    TextOps.compactPostings(spark, out)
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st23_stream_postings" -> st23StreamPostings _,
    "st25_stream_pq_maintain" -> st25StreamPqMaintain _,
    "st26_stream_knn_maintain" -> st26StreamKnnMaintain _,
    "st22_stream_retention" -> st22StreamRetention _,
    "st21_stream_hll_state" -> st21StreamHllState _,
    "st01_stream_daily" -> st01StreamDaily _,
    "st02_sessions"     -> st02Sessions _,
    "st03_stream_dedup" -> st03StreamDedup _,
    "st04_stream_join"  -> st04StreamJoin _,
    "st05_stream_enrich" -> st05StreamEnrich _,
    "st06_stream_ingest" -> st06StreamIngest _,
    "st07_stream_neardup" -> st07StreamNeardup _,
    "st08_stream_decontam" -> st08StreamDecontam _,
    "st09_stream_vec_ingest" -> st09StreamVectorIngest _,
    "st10_stream_mixture" -> st10StreamMixture _,
    "st11_stream_inc_dedup" -> st11StreamIncDedup _,
    "st12_stream_anomaly"   -> st12StreamAnomaly _,
    "st13_stream_vec_append" -> st13StreamVecAppend _,
    "st14_stream_drift"      -> st14StreamDrift _,
    "st15_stream_vec_query"  -> st15StreamVecQuery _,
    "st16_stream_quality"    -> st16StreamQuality _,
    "st17_stream_heavy_hitters" -> st17StreamHeavyHitters _,
    "st18_stream_cdc"           -> st18StreamCdc _,
    "st19_stream_zonemap"       -> st19StreamZonemap _,
    "st20_stream_rollup_state"  -> st20StreamRollupState _,
  )

  val oracleSql: Map[String, String] = Map(
    // st23 maintains the same index p10's batch loop maintains, from
    // the same diff sliced into microbatches — the maintenance ops
    // commute across docs, so it shares p10's oracle verbatim
    "st23_stream_postings" -> Pipeline.oracleSql("p10_incremental_postings"),
    // st22's live frame after any number of retention vacuums must
    // hold exactly the cumulative per-(user, type) state — so the
    // per-type rollup equals the batch aggregate of the raw events
    // (decimal sums: bit-exact under any slicing and vacuum schedule)
    "st22_stream_retention" ->
      s"""SELECT CAST(event_type AS VARCHAR) AS experiment,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           ${graft.analytics.Det.sqlSumDecR("value", 2)} AS total_value
         FROM events GROUP BY 1 ORDER BY 1""",
    // st18 streams the same derived snapshot d14 diffs in batch, and
    // md5 comparison is exact — the streamed diff must equal the batch
    // diff bit for bit, so it shares d14's SQL
    "st18_stream_cdc" -> Dedup.oracleSql("d14_snapshot_cdc"),
    // st19 answers q35's range query from the zone map it maintained
    // in-flight — same answer as the batch gate, same SQL
    "st19_stream_zonemap" -> Layout.oracleSql("q35_zonemap_prune"),
    // st20's state columns are all commutative (counts, exact decimal
    // sums, min/max) — the streamed state must reproduce q36's full
    // recompute bit for bit
    "st20_stream_rollup_state" -> Layout.oracleSql("q36_incremental_agg"),
    // st14 is t32's PSI report computed from a streaming (source, bin)
    // count snapshot — exact counts, so the batch SQL is its oracle
    "st14_stream_drift" -> TextOps.oracleSql("t32_source_drift"),
    // st12's profile is fit from exact decimal sums, so the batch SQL
    // reproduces the streamed z-score flags bit for bit
    "st12_stream_anomaly" ->
      """WITH st AS (SELECT event_type, count(*) n,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) s1,
                 CAST(sum(CAST(value*value AS DECIMAL(28,12))) AS DOUBLE) s2
               FROM events GROUP BY 1),
          p AS (SELECT event_type, s1/n AS mean,
                 sqrt(greatest(s2/n - (s1/n)*(s1/n), 0)) AS std FROM st),
          f AS (SELECT e.event_type,
                 CASE WHEN p.std = 0 THEN 0 ELSE abs(e.value - p.mean)/p.std END AS z
                FROM events e JOIN p USING (event_type))
         SELECT event_type, count(*) AS n_events,
          CAST(sum(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
          floor(max(z) * 10000.0 + 0.5) / 10000.0 AS max_abs_z
         FROM f GROUP BY 1 ORDER BY event_type""",
    // st11 is d12's accounting computed from a streaming (source, fp)
    // state snapshot — the drive must reproduce the batch ledger
    // precedence and winner rule bit for bit, so it shares d12's SQL
    "st11_stream_inc_dedup" ->
      """WITH d AS (SELECT source, doc_id,
                     substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) fp
                    FROM documents),
          ledger AS (SELECT DISTINCT fp FROM d WHERE regexp_matches(source, '^src[0-9]$')),
          batch AS (SELECT * FROM d WHERE NOT regexp_matches(source, '^src[0-9]$')),
          flagged AS (SELECT b.*, b.fp IN (SELECT fp FROM ledger) in_ledger FROM batch b),
          winners AS (SELECT fp, min(doc_id) keep_id FROM flagged WHERE NOT in_ledger GROUP BY fp),
          st AS (SELECT f.source,
                  CASE WHEN f.in_ledger THEN 'ledger'
                       WHEN f.doc_id <> w.keep_id THEN 'within'
                       ELSE 'kept' END status
                 FROM flagged f LEFT JOIN winners w USING (fp))
         SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN status = 'ledger' THEN 1 ELSE 0 END) AS BIGINT) AS n_ledger_dups,
          CAST(sum(CASE WHEN status = 'within' THEN 1 ELSE 0 END) AS BIGINT) AS n_within_dups,
          CAST(sum(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM st GROUP BY source ORDER BY source""",
    // st10 streams the same corpus its rates were fit on, with a
    // content-hashed gate and commutative rollup — so the batch SQL of
    // t16 is its exact oracle (the streaming tier must reproduce the
    // nightly batch bit for bit)
    "st10_stream_mixture" ->
      """WITH d AS (SELECT doc_id, lang, text,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_tokens
                    FROM documents),
          lt AS (SELECT lang, sum(n_tokens) lang_tokens FROM d GROUP BY lang),
          g AS (SELECT CAST(sum(lang_tokens) AS DOUBLE) total_tokens, count(*) n_langs FROM lt),
          r AS (SELECT lang, least(1.0, (total_tokens / n_langs) / lang_tokens) rate FROM lt, g),
          s AS (SELECT d.*, r.rate,
                 (r.rate >= 1.0 OR substr(md5(d.text), 1, 8) <
                   lpad(lower(hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')) sampled
                FROM d JOIN r USING (lang))
         SELECT lang, count(*) AS n_docs,
          CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
          CAST(sum(CASE WHEN sampled THEN n_tokens ELSE 0 END) AS BIGINT) AS sampled_tokens,
          floor(min(rate) * 10000.0 + 0.5) / 10000.0 AS rate
         FROM s GROUP BY lang ORDER BY lang""",
    "st01_stream_daily" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         count(*) AS n_events, floor((CAST(sum(CAST((value) AS DECIMAL(18,6))) AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    "st02_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
          l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) prev_ts FROM e),
          s AS (SELECT *, sum(CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000
                                   THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
                FROM l)
         SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
          count(*) AS n_events, floor((CAST(sum(CAST((value) AS DECIMAL(18,6))) AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS total_value
         FROM s GROUP BY user_id, session_id ORDER BY user_id, start_ms""",
    "st04_stream_join" ->
      """WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
          p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
          pairs AS (SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
                    FROM p JOIN v ON p.user_id = v.user_id
                     AND v.ts >= p.ts - INTERVAL 60 MINUTES AND v.ts <= p.ts)
         SELECT user_id, count(*) AS n_pairs,
          count(DISTINCT purchase_id) AS n_purchases,
          count(DISTINCT view_id) AS n_views
         FROM pairs GROUP BY user_id ORDER BY user_id""",
    "st03_stream_dedup" ->
      """WITH d AS (SELECT DISTINCT ON (event_id) event_id, event_type, value
                    FROM events ORDER BY event_id, ts)
         SELECT event_type, count(*) AS n_unique, floor((CAST(sum(CAST((value) AS DECIMAL(18,6))) AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS sum_value
         FROM d GROUP BY event_type ORDER BY event_type""",
    "st05_stream_enrich" ->
      """SELECT n.n_name AS nation, e.event_type,
          count(*) AS n_events,
          floor((CAST(sum(CAST((e.value) AS DECIMAL(18,6))) AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS sum_value
         FROM events e
         JOIN customer c ON e.user_id = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1, 2 ORDER BY nation, event_type""",
    // one TIMESERIES asset per (event_type, user): the store's catalog
    // after streaming ingest must equal the batch distinct count
    "st06_stream_ingest" ->
      """SELECT event_type AS experiment, count(DISTINCT user_id) AS n_assets
         FROM events GROUP BY 1 ORDER BY experiment""",
    // distinct contaminated train docs per source — the batch truth the
    // bounded streaming drive must land on exactly
    "st08_stream_decontam" ->
      """WITH toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') t FROM documents),
          sh AS (SELECT doc_id, source, list_distinct(list_transform(range(1, len(t)-1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) s
                 FROM toks WHERE len(t) >= 3),
          ev AS (SELECT DISTINCT unnest(s) shingle FROM sh WHERE source = 'src0'),
          tr AS (SELECT doc_id, source, unnest(s) shingle FROM sh WHERE source <> 'src0'),
          hit AS (SELECT DISTINCT doc_id, source FROM tr
                  WHERE shingle IN (SELECT shingle FROM ev))
         SELECT source, count(*) AS n_contaminated
         FROM hit GROUP BY source ORDER BY source""",
  )
}
