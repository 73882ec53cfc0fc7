package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetRows

/** Text-analysis operators for a large-scale training-data pipeline:
  * language distribution, token counting, quality scoring, language-ID
  * heuristic, document fingerprinting, exact deduplication.
  *
  * All operators are single-pass groupBy aggregations over `documents`
  * built from codegen'd `functions._` expressions (split / filter /
  * transform higher-order functions) — no UDFs, so the whole pipeline
  * stays inside WholeStageCodegen and scales linearly with executors.
  * Tokenization is `split(trim(text), "\s+")` on both engines so the
  * DuckDB oracle hashes line up.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "is", "in", "to")

  private def tokens: Column = split(trim(col("text")), "\\s+")

  /** Normalized-text MD5 fingerprint — whitespace-collapsed lowercase
    * MD5, the cheap exact-dup key (identical in DuckDB). */
  private[analytics] def fingerprint: Column =
    substring(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")), 1, 16)

  /** Language label distribution with document length stats. */
  def t01LangDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           Det.dround(sum("n_chars").cast("double") / count(lit(1)), 2).as("avg_chars"),
           sum("n_chars").as("total_chars"))
      .orderBy("lang")

  /** Whitespace token counting, aggregated per source. */
  def t02TokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), size(tokens).cast("bigint").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").as("total_tokens"),
           Det.dround(sum("n_tokens").cast("double") / count(lit(1)), 2).as("avg_tokens"))
      .orderBy("source")

  /** Quality scoring: tokens/doc, mean token length, stopword ratio,
    * type-token ratio — per language. */
  def t03QualityScores(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("lang"), tokens.as("t"))
      .select(col("lang"),
        size(col("t")).cast("double").as("n_tok"),
        (length(concat_ws("", col("t"))).cast("double") / size(col("t"))).as("tok_len"),
        (size(filter(col("t"), x => x.isin(stopwords: _*))).cast("double") / size(col("t"))).as("stop_ratio"),
        (size(array_distinct(col("t"))).cast("double") / size(col("t"))).as("ttr"))
    d.groupBy("lang")
      .agg(Det.dround(sum("n_tok").cast("double") / count(lit(1)), 2).as("avg_tokens"),
           Det.avgDec9R(col("tok_len"), 4).as("avg_token_len"),
           Det.avgDec9R(col("stop_ratio"), 4).as("avg_stopword_ratio"),
           Det.avgDec9R(col("ttr"), 4).as("avg_type_token_ratio"))
      .orderBy("lang")
  }

  /** Marker-word language-ID heuristic vs. the labeled language —
    * confusion counts (rule-based so it stays oracle-checkable). */
  def t04LangId(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens
    val predicted = when(array_contains(t, "the") && array_contains(t, "a"), "en")
      .when(array_contains(t, "data") && array_contains(t, "query"), "en_tech")
      .otherwise("unk")
    Tables.documents(spark, dir)
      .select(col("lang"), predicted.as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** Document fingerprinting: normalized MD5 prefix; distinct
    * fingerprints vs docs per source. */
  def t05Fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), fingerprint.as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("fp")).as("n_distinct_fp"))
      .orderBy("source")

  /** Exact deduplication: keep one doc per fingerprint (hash-groupBy
    * dedup — the 100 TB-scale shape: shuffle on the 16-char hash key,
    * never on the document text). Output: survivor stats per source. */
  def t06DedupExact(spark: SparkSession, dir: String): DataFrame =
    dedupExactOver(Tables.documents(spark, dir))

  /** t06's aggregation over ANY (doc_id, source, text) frame — shared
    * with av08, which runs it over documents served from the
    * TableStore catalog instead of the parquet fixture. */
  private[analytics] def dedupExactOver(docs: DataFrame): DataFrame = {
    val d = docs.select(col("source"), col("doc_id"), fingerprint.as("fp"))
    // min_by carries the survivor's source through the fingerprint agg —
    // one shuffle total, no join-back to recover attributes.
    val survivors = d.groupBy("fp")
      .agg(min_by(col("source"), col("doc_id")).as("source"),
           count(lit(1)).as("dups"))
    survivors
      .groupBy("source")
      .agg(count(lit(1)).as("n_unique"),
           sum(col("dups") - 1).as("n_removed"))
      .orderBy("source")
  }

  /** BPE-ish tokenization (subword-style segmentation a trainer's token
    * accounting uses, vs t02's whitespace counting): contraction
    * suffixes split off, letter runs, digit runs capped at 3 (the
    * number-chunking modern BPE vocabularies use), single punctuation.
    * Alternation is leftmost-first in BOTH Java regex and DuckDB's RE2,
    * and the pattern avoids lookarounds (RE2 has none), so the two
    * engines tokenize identically. */
  private val bpePattern =
    "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]"

  /** Token-budget accounting per source under BPE-ish segmentation:
    * doc counts, total/avg subword tokens, and the subword-per-
    * whitespace-token expansion ratio (integer sums → exact, so the
    * aggregate is order-independent at any parallelism). */
  def t11BpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .cast("bigint").as("n_bpe"),
        size(tokens).cast("bigint").as("n_ws"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_bpe").as("total_bpe_tokens"),
           Det.dround(sum("n_bpe").cast("double") / count(lit(1)), 2).as("avg_bpe_tokens"),
           Det.dround(sum("n_bpe").cast("double") / sum("n_ws"), 4).as("bpe_per_ws_token"))
      .orderBy("source")

  /** Repetition-based quality metrics (the Gopher/MassiveText rules a
    * trainer filters on): per-document duplicate-word fraction and
    * top-bigram fraction (share of all 2-grams taken by the most
    * common one), averaged per source. The per-doc top-bigram compute
    * is two hash aggregations keyed on (doc_id, bigram) then (doc_id)
    * — never a global structure, so it scales with executors. */
  def t12Repetition(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BigramStats.bigram_stats
    // one narrow pass: the per-doc counts come out of the single-pass
    // BigramStats expression, so the only shuffle left is the final
    // per-source rollup — the explode-bigrams + two per-doc hash
    // aggregations this replaced carried a row per bigram OCCURRENCE
    val base = Tables.documents(spark, dir)
      .select(col("source"), bigram_stats(col("text")).as("bs"))
      .filter(col("bs.n_tokens") >= 2)
      .select(col("source"),
        (lit(1.0) - col("bs.n_distinct").cast("double") / col("bs.n_tokens")).as("dwf"),
        (col("bs.top_bigram").cast("double") / col("bs.n_bigrams")).as("top_bg_frac"))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           Det.avgDec9R(col("dwf"), 4).as("avg_dup_word_frac"),
           Det.avgDec9R(col("top_bg_frac"), 4).as("avg_top_bigram_frac"))
      .orderBy("source")
  }

  private val postingsDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The corpus INVERTED INDEX as a per-(JVM, sf dir) parquet artifact
    * (the knnEdges/codebook pattern): one row per distinct (doc, term)
    * of the lowercased whitespace tokenization with its in-document
    * term frequency, hash-distributed on `term` so each posting list
    * is co-located in one file, plus a |vocab|-row `_df` sidecar
    * (term → document frequency) derived from the stored postings so
    * the two can never disagree (underscore name → invisible to the
    * postings scan, the IVF `_codebook` convention). Built once by the
    * first caller, read by every consumer — t13's tf-idf and p09's
    * lexical retriever, which previously each re-ran the
    * scan→explode→lower→aggregate shuffle per query. This is the
    * production shape: at 100 TB the postings ARE the index — a
    * stored, term-bucketed, maintained artifact, never a per-query
    * materialization. t22 deliberately does NOT consume it: its
    * coverage curve is case-sensitive over raw occurrences, a
    * different tokenization contract. */
  /** Term-hash bucket count of the SERVING artifact: each term's
    * posting list lives under exactly one `bucket=` directory, so a
    * query with known terms prunes the scan to its terms' buckets —
    * the IVF cell-partitioning move applied to the inverted index
    * (PlanSpec-style pin in RagSpec). A production deployment sizes
    * this so each bucket is a few files. */
  private[analytics] val PostingsBuckets = 32

  private[analytics] def postingsBucket(term: Column): Column =
    pmod(xxhash64(term), lit(PostingsBuckets.toLong))

  private[analytics] def ensurePostings(spark: SparkSession, dir: String): String =
    postingsDirs.computeIfAbsent(dir, { _ =>
      val out = graft.core.TempDirs
        .create("graft-postings").toString + "/postings"
      val pf = postingsOf(Tables.documents(spark, dir))
        .withColumn("bucket", postingsBucket(col("term")))
      pf.repartition(col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(out)
      // explicit schema (the postingsSchema rule): an empty corpus
      // writes zero part files, which must recount to an empty
      // sidecar, not fail schema inference
      spark.read.schema("doc_id LONG, term STRING, tf LONG").parquet(out)
        .groupBy("term").agg(count(lit(1)).as("df"))
        .coalesce(1).write.mode("overwrite").parquet(out + "/_df")
      out
    })

  /** The postings rows of a (doc_id, …, text) frame: one row per
    * distinct (doc, term) with its in-document term frequency —
    * lowercased whitespace tokens, the t13/p09 contract. */
  private[analytics] def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), lower(col("tok")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Write a postings layout from scratch: term-hashed postings files
    * (generation 0) plus the `_df` sidecar recounted from the stored
    * rows. */
  private[analytics] def writePostingsLayout(spark: SparkSession,
                                             docs: DataFrame, out: String): Unit = {
    postingsOf(docs).withColumn("gen", lit(0L)).repartition(col("term"))
      .write.mode("overwrite").parquet(out)
    spark.read.schema(postingsSchema).parquet(out)
      .groupBy("term").agg(count(lit(1)).as("df"))
      .coalesce(1).write.mode("overwrite").parquet(out + "/_df")
    graft.core.SegmentedIndex.writeRowCount(out,
      graft.core.SegmentedIndex.footerRowCountOf(java.nio.file.Paths.get(out)))
  }

  // ---- postings index maintenance (the IVF-corpus lifecycle applied
  // to the inverted index: tombstone → append → compact, p10/st23's
  // ops). Tombstones are GENERATION-SCOPED (the Lucene per-segment
  // delete): a tombstone suppresses a doc's rows at or below its
  // `upto_gen`, so a later re-append at a higher generation is live
  // IMMEDIATELY — no compaction needed between a delete and its
  // re-add, which is what lets a streaming maintainer apply a change
  // feed per microbatch without rewriting the corpus per batch. ----

  /** O(|ids|) logical deletion from a postings layout: (doc_id,
    * upto_gen) rows land in a `_tombstones` sidecar (one bounded file
    * per call, no postings file touched); [[postingsLive]] anti-joins
    * them out gen-scoped. */
  private[analytics] def deleteFromPostings(spark: SparkSession, out: String,
                                            docIds: DataFrame,
                                            uptoGen: Long = Long.MaxValue): Unit =
    graft.core.SegmentedIndex.tombstone(docIds.select(col("doc_id")), out,
      keyCol = "doc_id", uptoGen = uptoGen)

  /** Stored schema of a postings layout — read EXPLICITLY everywhere
    * so a fully-tombstoned, freshly-compacted layout (zero data files)
    * reads back as an empty frame instead of failing schema inference. */
  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("gen", org.apache.spark.sql.types.LongType)))

  /** Live postings of a layout: stored rows minus tombstone-covered
    * generations (diff-bounded broadcast anti-join — disappears after
    * compaction). */
  private[analytics] def postingsLive(spark: SparkSession, out: String): DataFrame =
    graft.core.SegmentedIndex.live(spark,
      spark.read.schema(postingsSchema).parquet(out), out,
      keyCol = "doc_id", genCol = "gen")

  private val dfSidecarSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df", org.apache.spark.sql.types.LongType)))

  private val dfDeltaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("delta", org.apache.spark.sql.types.LongType)))

  /** The EFFECTIVE per-term document frequencies: the `_df` base
    * (written at build, re-folded at compaction) plus the sum of the
    * per-generation `_df_deltas` segments — all |vocab|-bounded.
    * Terms whose effective df reaches 0 drop. */
  private[analytics] def readDfSidecar(spark: SparkSession, out: String): DataFrame = {
    val base = spark.read.schema(dfSidecarSchema).parquet(out + "/_df")
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(out, "_df_deltas"))) base
    else {
      val deltas = spark.read.schema(dfDeltaSchema)
        .parquet(out + "/_df_deltas")
        .groupBy("term").agg(sum(col("delta")).as("delta"))
      base.join(deltas, Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("delta"), lit(0L))).as("df"))
        .filter(col("df") > 0)
    }
  }

  /** The maintained-index report p10 and st23 SHARE (they share one
    * oracle, so the report must be one definition): per term, df from
    * the SIDECAR beside total tf from the live scan — FULL OUTER, so
    * a sidecar term with no live postings (or live postings missing
    * from the sidecar) surfaces as a null-bearing row and fails the
    * oracle hash instead of being silently dropped. */
  private[analytics] def postingsReport(spark: SparkSession, out: String): DataFrame =
    postingsLive(spark, out)
      .groupBy("term").agg(sum(col("tf")).as("total_tf"))
      .join(readDfSidecar(spark, out), Seq("term"), "full_outer")
      .select(col("term"), col("df"), col("total_tf"))
      .orderBy("term")

  /** Append re-tokenized postings for diff documents at generation
    * `gen` — the expensive tokenize pass sees ONLY the diff, never the
    * stored corpus. With gen-scoped tombstones a same-id re-append at
    * a generation above the tombstone is live immediately. The append
    * is a per-generation OVERWRITE
    * ([[graft.core.SegmentedIndex.publishGeneration]] — gen-named
    * files, staged then swapped), so an at-least-once maintainer
    * replaying batch `gen` replaces its own prior attempt instead of
    * duplicating it. */
  private[analytics] def appendPostings(docs: DataFrame, out: String,
                                        gen: Long = 1L): Unit =
    graft.core.SegmentedIndex.publishGeneration(out, gen) { stage =>
      // ONE exchange: the diff append skips the base layout's
      // term-hash repartition (guide §2.4 — the agg exchange is the
      // only one the pass needs). Term locality of the gen segments
      // buys no reader anything (live reads scan every file) and the
      // policy compaction rewrites term-hashed anyway; the shuffle
      // still carries aggregated (doc, term, tf) rows, never raw
      // tokens.
      postingsOf(docs).withColumn("gen", lit(gen))
        .write.mode("overwrite").parquet(stage)
    }

  /** DRIVER-SIDE twin of [[readDfSidecar]]'s effective-df fold,
    * summed: live (doc, term) posting rows = Σ over terms of
    * (base df + Σ deltas). One streaming pass, O(1) driver memory —
    * NOT a per-term map: the sidecars are |vocab|-bounded, and a
    * 100 TB corpus's vocabulary long tail is exactly the thing the
    * policy path must not materialize in the driver. The global sum
    * equals readDfSidecar's per-term `filter(df > 0)` fold because
    * every term's effective df is non-negative under the maintainer
    * invariant (batch g's deltas remove only postings that exist —
    * the p13 oracle pins the sidecar end-to-end); were that invariant
    * ever broken, an un-clamped negative term only LOWERS this sum,
    * which over-states the covered fraction and compacts early — the
    * estimate's safe direction. Keeps the compaction-policy path free
    * of Spark jobs entirely (the r16 verdict's item 7 applied to the
    * postings family, whose rows-per-key varies so the generic
    * instance estimate can't serve it). */
  private def dfSidecarLiveRows(out: String): Long = {
    var total = 0L
    def fold(dirName: String, field: String): Unit =
      graft.core.ParquetRows.foreach(
          java.nio.file.Paths.get(out, dirName)) { g =>
        if (g.getFieldRepetitionCount(field) > 0)
          total += g.getLong(field, 0)
      }
    fold("_df", "df")
    fold("_df_deltas", "delta")
    total
  }

  /** Tombstone-covered fraction of a postings layout's stored rows —
    * the read-amp signal the compaction policy reads (p13's multi-epoch
    * chain compacts only past [[graft.core.SegmentedIndex.CompactThreshold]],
    * never per epoch). Postings have VARIABLE rows per doc, so the
    * generic per-instance estimate doesn't apply; instead the live row
    * count comes off the layout's own `_df` sidecar (sum of per-term
    * document frequencies == live (doc, term) posting rows, |vocab|-
    * bounded, folded DRIVER-SIDE — [[dfSidecarLiveRows]]) over the
    * maintained `_rowcount` denominator — EXACT whenever the sidecar
    * is (which the p13 oracle pins end-to-end), with no Spark job at
    * all in the measurement path. The layout must carry both sidecars,
    * as [[writePostingsLayout]] writes them. */
  private[analytics] def postingsCoveredFraction(out: String): Double =
    if (graft.core.SegmentedIndex.tombstoneInstances(out) == 0L) 0.0
    else {
      val total = graft.core.SegmentedIndex.trackedRowCount(out)
      if (total == 0L) 0.0
      else math.max(0.0, 1.0 - dfSidecarLiveRows(out).toDouble / total)
    }

  /** Compact a postings layout: apply tombstones physically, rewrite
    * term-hashed, clear the tombstone sidecar, and FOLD the
    * accumulated `_df_deltas` segments into a fresh `_df` base (the
    * epoch boundary: deltas, like tombstones, accumulate only between
    * compactions). The swap is the shared crash-safe two-rename
    * ([[graft.core.DirSwap]]) — the TableStore/IVF discipline;
    * single-maintainer, like both. A layout under the driver-local cap
    * is rewritten as ONE file (no `term` fan-out): the live rows are
    * the contract, the file count is not. */
  private[analytics] def compactPostings(spark: SparkSession, out: String): Unit =
    graft.core.SegmentedIndex.compactWith(out,
        skipSidecars = Set("_df", "_df_deltas")) { tmp =>
      // scale-adaptive rewrite: term-hashed for big layouts, one task
      // under the driver-local cap (SegmentedIndex.rewriteClustered)
      graft.core.SegmentedIndex.rewriteClustered(
          postingsLive(spark, out), out, "term")
        .write.mode("overwrite").parquet(tmp)
      // source (`out/_df` + deltas) and target (`tmp/_df`) differ, so
      // no read-overwrite cycle to cut here
      readDfSidecar(spark, out)
        .coalesce(1).write.mode("overwrite").parquet(tmp + "/_df")
    }

  /** Apply one CDC batch to a postings layout at generation `gen`:
    * tombstone the `dirty` doc ids at `upto_gen = gen − 1`, append
    * `addDocs`' postings at `gen` (live at once), and land the per-term
    * df delta of `addDocs` against `rmDocs` (the dirty docs'
    * BEFORE-image text) as the `gen` delta segment. None skips a side.
    * The family's one generation rule: p10 applies at 1 and then
    * compacts, the p13 chain applies epoch `e` at `e`, st23 batch `b`
    * at `b + 1`. A replay at the same `gen` lands on the same live rows.
    * The tombstone reads the caller's `dirty` frame (a LocalRelation
    * slice: driver-side dedupe, no job), the tokenize the text frames. */
  private[analytics] def applyPostingsBatch(spark: SparkSession, out: String,
                                            gen: Long, dirty: Option[DataFrame],
                                            addDocs: Option[DataFrame],
                                            rmDocs: Option[DataFrame]): Unit = {
    graft.core.SegmentedIndex.applyBatch(dirty, out, "doc_id", gen) {
      if (addDocs.isDefined || rmDocs.isDefined) appendBatch(spark, out, addDocs, rmDocs, gen)
    }
  }

  /** [[applyPostingsBatch]]'s postings APPEND + `_df` sidecar delta in
    * ONE tokenize pass: ONE side-tagged tokenize+aggregate runs
    * cluster-side (over the caller's re-parallelized frames) and lands
    * driver-local via Bounded.localize; the append segment is then a
    * single-stage single-task write of the add-side rows (same
    * gen-named files, one file per generation) and both df deltas fold
    * driver-side into one LocalRelation delta segment — identical rows
    * to [[updateDfSidecar]]'s union-with-sign fold. Over-cap batches
    * fall back to separate cluster-side plans. */
  private def appendBatch(spark: SparkSession, out: String,
                          addDocs: Option[DataFrame], rmDocs: Option[DataFrame],
                          gen: Long): Unit = {
    def sided(df: DataFrame, side: String) =
      df.select(col("doc_id"), explode(tokens).as("tok"))
        .filter(col("tok") =!= "")
        .select(col("doc_id"), lower(col("tok")).as("term"), lit(side).as("side"))
    val both = (addDocs.map(sided(_, "add")).toSeq ++
        rmDocs.map(sided(_, "rm")).toSeq)
      .reduce(_.unionByName(_))
      .groupBy("doc_id", "term", "side").agg(count(lit(1)).as("tf"))
    val toksL = graft.core.Bounded.localize(both)
    if (toksL.local) {
      val iDoc = toksL.df.schema.fieldIndex("doc_id")
      val iTerm = toksL.df.schema.fieldIndex("term")
      val iSide = toksL.df.schema.fieldIndex("side")
      val iTf = toksL.df.schema.fieldIndex("tf")
      if (addDocs.isDefined) {
        val addRows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(toksL.rows.collect {
            case r if r.getString(iSide) == "add" =>
              org.apache.spark.sql.Row(r.getLong(iDoc), r.getString(iTerm),
                r.getLong(iTf), gen)
          }: _*)
        graft.core.SegmentedIndex.publishGeneration(out, gen) { stage =>
          spark.createDataFrame(addRows, postingsSchema)
            .coalesce(1).write.mode("overwrite").parquet(stage)
        }
      }
      // per-term df delta: +1 per distinct (doc, term) on the add side,
      // −1 on the removed side — the rows are already distinct pairs
      val delta = new scala.collection.mutable.HashMap[String, Long]()
      toksL.rows.foreach { r =>
        val d = if (r.getString(iSide) == "add") 1L else -1L
        val t = r.getString(iTerm)
        delta.update(t, delta.getOrElse(t, 0L) + d)
      }
      val deltaRows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(delta.iterator.filter(_._2 != 0L).toSeq
          .sortBy(_._1)
          .map { case (t, d) => org.apache.spark.sql.Row(t, d) }: _*)
      graft.core.SegmentedIndex.appendSegment(
        spark.createDataFrame(deltaRows, dfDeltaSchema).coalesce(1),
        out + "/_df_deltas", gen)
    } else {
      // over-cap: separate cluster-side plans
      toksL.release()
      addDocs.foreach(d => appendPostings(d, out, gen))
      val removed = rmDocs.map(d =>
        postingsOf(d).groupBy("term").agg(count(lit(1)).as("n")))
      val added = addDocs.map(d =>
        postingsOf(d).groupBy("term").agg(count(lit(1)).as("n")))
      val any = removed.orElse(added).get
      updateDfSidecar(spark, out,
        removed.getOrElse(any.limit(0)), added.getOrElse(any.limit(0)), gen = gen)
    }
  }

  /** Incremental `_df` sidecar maintenance: the diff's per-term
    * removed/added document counts land as ONE per-generation DELTA
    * segment (`_df_deltas/gen=<g>`, an overwrite — so a replayed
    * at-least-once batch replaces its own prior fold instead of
    * double-counting, the same idempotency the postings rows get from
    * the gen-named appends; the pre-r14 in-place additive fold was
    * the one remaining non-idempotent write in the maintainer loop).
    * All |vocab|-bounded; [[readDfSidecar]] sums base + deltas at
    * read time and [[compactPostings]] folds them into a fresh base
    * at the epoch boundary, so deltas accumulate only between
    * compactions. Terms whose effective df reaches 0 drop at read. */
  private[analytics] def updateDfSidecar(spark: SparkSession, out: String,
                                         removed: DataFrame, added: DataFrame,
                                         gen: Long = 1L): Unit = {
    // union-with-sign instead of a full-outer join: one aggregation
    // stage fewer per fold, identical per-term delta (a term on one
    // side only sums against an implicit 0)
    val delta = removed.select(col("term"), (-col("n")).as("delta"))
      .unionByName(added.select(col("term"), col("n").as("delta")))
      .groupBy("term").agg(sum(col("delta")).as("delta"))
      .filter(col("delta") =!= 0L)
      .coalesce(1)
    graft.core.SegmentedIndex.appendSegment(delta, out + "/_df_deltas", gen)
  }

  /** The stored postings: (doc_id, term, tf). */
  private[analytics] def postings(spark: SparkSession, dir: String): DataFrame =
    ParquetRows.frame(spark, ensurePostings(spark, dir))

  /** The |vocab|-row document-frequency sidecar: (term, df). */
  private[analytics] def postingsDf(spark: SparkSession, dir: String): DataFrame =
    ParquetRows.frame(spark, ensurePostings(spark, dir) + "/_df")

  /** TF-IDF distinctive-term extraction: top-3 terms per document by
    * tf·ln(N/df), ties broken by term. Both inputs come off the stored
    * postings artifact ([[ensurePostings]]) — tf is the postings scan,
    * df its precomputed sidecar — and the tf⋈df join's build side is
    * vocabulary-sized: AQE broadcasts it when it fits and falls back
    * to a shuffle join when a 100 TB vocabulary doesn't. Ranking
    * orders by the ROUNDED score so the cross-engine compare never
    * depends on sub-ulp ordering of mathematically-equal scores. */
  def t13Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus size for the idf denominator: a metadata-only count
    val nDocs = Tables.documents(spark, dir).count()
    val tf = postings(spark, dir)
    val df = postingsDf(spark, dir)
    tf.join(df, "term")
      .withColumn("tfidf", Det.dround(col("tf") * log(lit(nDocs.toDouble) / col("df")), 4))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))).cast("bigint"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Benchmark decontamination — the check every training corpus needs
    * before a model trains on it: which candidate documents share word
    * 3-gram shingles with the held-out benchmark corpus (here: the
    * `src0` source slice plays the benchmark). One corpus pass builds
    * shingle sets (single-pass [[graft.functions.WordShingles]]
    * expression), the benchmark's distinct shingles form the probe
    * side of a LEFT SEMI join keyed on the shingle — real benchmark
    * suites are fixed-size, so at 100 TB that side broadcasts and the
    * scan stays shuffle-free on the corpus side; here it grows with
    * the fixture, so the hint is left to AQE. Output: per-document
    * contaminated-shingle counts and fraction. */
  def t14Decontamination(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), word_shingles(col("text")).as("s"))
    val evalSh = sh.filter(col("source") === "src0")
      .select(explode(col("s")).as("shingle")).distinct()
    // n_sh rides inside the exploded struct (attribute-free generator
    // child, so InferFiltersFromGenerate cannot duplicate the shingle
    // computation into an inferred filter — same shape as d01)
    val train = sh.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(transform(col("s"), x =>
        struct(x.as("shingle"), size(col("s")).cast("long").as("n_sh")))).as("e"))
      .select(col("doc_id"), col("e.shingle").as("shingle"), col("e.n_sh").as("n_shingles"))
    train.join(evalSh, Seq("shingle"), "left_semi")
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        Det.dround(col("n_contaminated").cast("double") / col("n_shingles"), 4).as("contamination"))
      .orderBy("doc_id")
  }

  /** C4-style heuristic quality gate — the rule battery a web-scale
    * corpus is filtered through before training, with per-rule failure
    * accounting so a pipeline owner can see WHICH rule bites: minimum
    * token count, sane mean token length, contains a stopword
    * (English-centric by design, like C4), lexical diversity, and no
    * pathological unbroken token. One narrow pass + one rollup
    * shuffle; every rule is a codegen'd column predicate. */
  /** t15's rule battery distilled to ONE per-row boolean over `text` —
    * the per-doc scorer p07's incremental pipeline re-runs on the CDC
    * diff. Kept expression-identical to the t15 columns (QualitySpec's
    * parity test ties the two: per-source pass counts must match
    * t15's n_pass, so the battery cannot drift apart silently). */
  private[analytics] def qualityPass: Column = {
    val t = tokens
    val nTok = size(t)
    val meanLen = length(concat_ws("", t)).cast("double") / size(t)
    val nStop = size(filter(t, x => x.isin(stopwords: _*)))
    val ttr = size(array_distinct(t)).cast("double") / size(t)
    val maxLen = array_max(transform(t, x => length(x)))
    (nTok >= 20) && (meanLen >= 2.0 && meanLen <= 12.0) &&
      (nStop > 0) && (ttr >= 0.2) && (maxLen <= 40)
  }

  def t15QualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"), tokens.as("t"))
      .select(col("source"),
        size(col("t")).as("n_tok"),
        (length(concat_ws("", col("t"))).cast("double") / size(col("t"))).as("mean_len"),
        size(filter(col("t"), x => x.isin(stopwords: _*))).as("n_stop"),
        (size(array_distinct(col("t"))).cast("double") / size(col("t"))).as("ttr"),
        array_max(transform(col("t"), x => length(x))).as("max_len"))
      .select(col("source"),
        (col("n_tok") >= 20).as("r1"),
        (col("mean_len") >= 2.0 && col("mean_len") <= 12.0).as("r2"),
        (col("n_stop") > 0).as("r3"),
        (col("ttr") >= 0.2).as("r4"),
        (col("max_len") <= 40).as("r5"))
    d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("r1") && col("r2") && col("r3") && col("r4") && col("r5"), 1L)
          .otherwise(0L)).as("n_pass"),
        sum(when(!col("r1"), 1L).otherwise(0L)).as("fail_min_tokens"),
        sum(when(!col("r2"), 1L).otherwise(0L)).as("fail_token_len"),
        sum(when(!col("r3"), 1L).otherwise(0L)).as("fail_no_stopword"),
        sum(when(!col("r4"), 1L).otherwise(0L)).as("fail_ttr"),
        sum(when(!col("r5"), 1L).otherwise(0L)).as("fail_long_token"))
      .orderBy("source")
  }

  /** Data-mixture sampling — the mixing step that turns a raw corpus
    * into a training mix: compute per-language sampling rates that
    * equalize token budgets (rate = min(1, fair_share / lang_tokens)),
    * then gate each document deterministically by comparing its md5
    * prefix against the rate's 32-bit hex threshold — RNG-free, so the
    * sample is reproducible across engines, runs, and partitionings.
    * Shape at scale: two tiny aggregations (per-lang totals) + one
    * broadcast-joined corpus pass; no shuffle touches document text. */
  def t16MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        size(tokens).cast("long").as("n_tokens"))
    mixtureRollup(d.join(broadcast(mixtureRates(d)), "lang"))
      .orderBy("lang")
  }

  /** Per-language fair-share sampling rates (t16's fit) — a
    * |languages|-row table, shared with the streaming tier (st10)
    * which broadcasts it against the arriving stream. */
  private[analytics] def mixtureRates(d: DataFrame): DataFrame = {
    val langTotals = d.groupBy("lang").agg(sum("n_tokens").as("lang_tokens"))
    val global = langTotals.agg(sum("lang_tokens").cast("double").as("total_tokens"),
      count(lit(1)).as("n_langs"))
    langTotals.crossJoin(broadcast(global))
      .select(col("lang"),
        least(lit(1.0), (col("total_tokens") / col("n_langs")) / col("lang_tokens")).as("rate"))
  }

  /** The deterministic md5-gate + per-language rollup over a
    * rate-joined document frame — stateless per row, commutative
    * aggregates, so the SAME code runs batch (t16) and streaming
    * (st10) with identical results under any microbatch slicing. */
  private[analytics] def mixtureRollup(withRate: DataFrame): DataFrame =
    withRate
      // 8-hex-digit threshold: floor(rate·2³²) printed as zero-padded
      // lowercase hex, compared lexicographically against the md5
      // prefix — the same cross-engine trick as t09, with the rate==1
      // case short-circuited (its threshold would need 9 digits)
      .withColumn("sampled", col("rate") >= 1.0 ||
        substring(md5(col("text")), 1, 8) <
          lpad(lower(hex(floor(col("rate") * lit(4294967296.0)).cast("bigint"))), 8, "0"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
           sum(when(col("sampled"), col("n_tokens")).otherwise(0L)).as("sampled_tokens"),
           Det.dround(min(col("rate")), 4).as("rate"))

  /** PII patterns shared by detection and redaction — no lookarounds,
    * so Java regex (Spark) and RE2 (DuckDB) match identically. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val Ipv4Re  = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** PII scrub — the redaction pass a corpus takes before release:
    * detect and mask emails, phone numbers, and IPv4 addresses. The
    * synthetic corpus carries no PII, so the gate PLANTS deterministic
    * PII spans on a doc_id-keyed subset first (the same trick the m04
    * image gate uses), then reports per-source detection counts and
    * verifies every planted span is gone after redaction — the
    * residual count is part of the oracle-checked output, pinning the
    * scrub itself, not just the detector. One narrow pass; regex work
    * is codegen'd `regexp_extract_all`/`regexp_replace`. */
  def t17PiiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir)
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" reach me at user"), col("doc_id"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call +1 555-867-5309")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 200).cast("string"), lit(".25")))
          .otherwise(lit(""))))
    val masked = regexp_replace(regexp_replace(regexp_replace(col("text"),
      EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"), Ipv4Re, "[IP]")
    planted
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long").as("n_phone"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).cast("long").as("n_ip"),
        (size(regexp_extract_all(masked, lit(EmailRe), lit(0))) +
         size(regexp_extract_all(masked, lit(PhoneRe), lit(0))) +
         size(regexp_extract_all(masked, lit(Ipv4Re), lit(0)))).cast("long").as("n_residual"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n_email") + col("n_phone") + col("n_ip") > 0, 1L).otherwise(0L)).as("n_docs_with_pii"),
           sum("n_email").as("n_emails"),
           sum("n_phone").as("n_phones"),
           sum("n_ip").as("n_ips"),
           sum("n_residual").as("n_residual"))
      .orderBy("source")
  }

  /** Boilerplate fraction per document — the CCNet/C4 "shared passage"
    * quality signal: a document's word-3-gram shingles that also occur
    * in ≥ [[BoilerMinDf]] documents corpus-wide are boilerplate
    * (headers, footers, templated spans); their fraction of the doc's
    * shingle set scores how templated the doc is. The plan never
    * builds per-shingle postings arrays or pair expansions (the d01
    * shapes this signal replaces at scale): one shingle-keyed COUNT
    * gives df, the boiler shingle set semi-joins back against the
    * exploded corpus, and per-doc counts are bounded by doc length.
    * The boiler set grows with the corpus, so nothing is broadcast —
    * AQE decides (the d02 rule). Oracle-checked. */
  private val BoilerMinDf = 3
  def t18Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    // shingle arrays cached: read by the sizes branch and (exploded) by
    // the df and join-back branches; output-sized (one array per doc)
    val sh = Dedup.shinglesOf(Tables.documents(spark, dir))
      .filter(size(col("s")) >= 1).cache()
    val sizes = sh.select(col("doc_id"), size(col("s")).cast("long").as("n_shingles"))
    val inv = sh.select(col("doc_id"), explode(col("s")).as("shingle"))
    val boiler = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerMinDf).select("shingle")
    val counts = inv.join(boiler, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    sizes.join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        Det.dround(coalesce(col("n_boiler"), lit(0L)).cast("double") / col("n_shingles"), 4)
          .as("boiler_frac"))
      .orderBy("doc_id")
  }

  /** Cross-source overlap matrix — pairwise shingle Jaccard between
    * provenance sources, the curation signal for "which corpora copy
    * from each other" (and the source-granular version of t14's
    * train/holdout decontamination). `source` is a bounded corpus
    * label (like event_type), NOT an open web-domain space: per-shingle
    * source postings are capped by the label cardinality, so the lazy
    * i<j slice expands at most |sources|²/2 pairs per shingle and the
    * output is |sources|²-bounded however large the corpus grows. Two
    * shuffles: the (source, shingle) distinct and the shingle-keyed
    * postings agg; the final pair count is label-bounded. Nothing
    * broadcast on the postings path. Oracle-checked. */
  def t19SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    // distinct (source, shingle) incidence, cached: read by the
    // per-source sizes and by the postings branch
    // shingle identity, not content, is all the overlap math needs —
    // key on xxhash64 so the distinct and the postings aggregate
    // shuffle 8-byte longs instead of shingle strings (the d09 rule; a
    // collision merges two shingles at birthday-in-2^64 odds, and the
    // string-keyed oracle attests none materializes)
    val inv = Tables.documents(spark, dir)
      .select(col("source"), explode(word_shingles(col("text"))).as("sh"))
      .select(col("source"), xxhash64(col("sh")).as("shingle"))
      .distinct().cache()
    val sizes = inv.groupBy("source").agg(count(lit(1)).as("n"))
    val postings = inv.groupBy("shingle")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
    val pairs = postings
      .select(col("srcs"), posexplode(col("srcs")).as(Seq("idx", "a")))
      .select(col("a"), explode(slice(col("srcs"), col("idx") + lit(2), size(col("srcs")))).as("b"))
      .groupBy(col("a").as("src_a"), col("b").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"),
        Det.dround(col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")), 4)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Bloom-filtered decontamination — the 100 TB tier of [[t14Decontamination]].
    * t14's probe side (the benchmark's distinct shingles) is fixed-size
    * in production, but its LEFT SEMI join still shuffles every train
    * shingle occurrence when the probe side outgrows the broadcast
    * threshold. This tier builds a Bloom filter over the benchmark
    * shingles (distributed `stat.bloomFilter` aggregation — the sketch
    * is mergeable, so the build is one treeAggregate, never a collect
    * of the shingles themselves), ships it to every task inside a
    * [[graft.functions.BloomMightContain]] expression (a few MB for
    * millions of entries at 1% FP), and pre-filters the corpus scan so
    * only probable hits reach the exact semi join that removes the
    * false positives. The corpus-side shuffle shrinks from "every
    * shingle occurrence" to "true hits + 1% FP" — on a mostly-clean
    * 100 TB corpus, effectively nothing. Output is IDENTICAL to t14
    * (the exact join makes the Bloom stage invisible to correctness —
    * false negatives are impossible), so it shares t14's oracle and
    * the gate proves the equivalence at every SF. */
  def t20BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    import graft.functions.BloomMightContain.bloom_might_contain
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), word_shingles(col("text")).as("s"))
    val evalSh = sh.filter(col("source") === "src0")
      .select(explode(col("s")).as("shingle")).distinct()
    val bloom = evalSh.stat.bloomFilter("shingle",
      math.max(evalSh.count(), 1L), 0.01)
    val train = sh.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(transform(col("s"), x =>
        struct(x.as("shingle"), size(col("s")).cast("long").as("n_sh")))).as("e"))
      .select(col("doc_id"), col("e.shingle").as("shingle"), col("e.n_sh").as("n_shingles"))
      .filter(bloom_might_contain(col("shingle"),
        graft.functions.BloomMightContain.serialize(bloom)))
    train.join(evalSh, Seq("shingle"), "left_semi")
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        Det.dround(col("n_contaminated").cast("double") / col("n_shingles"), 4).as("contamination"))
      .orderBy("doc_id")
  }

  /** Character-trigram language-model perplexity — the CCNet-style
    * quality signal: fit a trigram LM on the corpus itself (one
    * groupBy over per-doc trigram counts), then score each document's
    * mean negative log-likelihood and perplexity under it. Repetitive
    * / boilerplate text scores LOW perplexity, rare-charset garbage
    * scores HIGH — both tails are what a curation run cuts.
    *
    * Scale shape: per-doc trigram counts come pre-aggregated from
    * [[graft.functions.TrigramCounts]] (one O(len) pass per document —
    * no per-occurrence rows exist anywhere in the plan, and the only
    * corpus-sized shuffle carries (doc, tri, count) distinct entries),
    * then the global count table — bounded by the charset³ vocabulary,
    * not the corpus — joins back; AQE broadcasts it when it fits. The
    * corpus total is the only driver scalar, and it needs no trigram
    * pass at all: every char position past the second contributes
    * exactly one trigram, so total = Σ(len − 2) off the raw doc scan.
    * Determinism: per-term contributions are rounded then
    * decimal-summed (Det), so scores are independent of partitioning
    * and merge order; the same ln-then-floor-round shape as t13's idf
    * is already proven cross-engine. */
  def t21LmPerplexity(spark: SparkSession, dir: String): DataFrame =
    t21Build(spark, dir, materialize = true)

  /** t21 with the checkpoints elidable: `materialize = false` keeps
    * the full lineage visible so PlanSpec can pin that the gram table
    * comes from the single-pass [[graft.functions.TrigramCounts]]
    * expression (the production path's lineage cuts hide it behind a
    * `Scan ExistingRDD`). The gate always materializes. */
  private[graft] def t21Build(spark: SparkSession, dir: String,
                              materialize: Boolean): DataFrame = {
    import graft.functions.TrigramCounts.trigram_counts
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= 3)
    // two consumers (the global count table and the scored join) would
    // each re-run the corpus trigram pass — materialize it once; the
    // distinct (doc, tri) entries are far smaller than the raw text
    val tfRaw = docs
      .select(col("doc_id"), explode(trigram_counts(col("text"))))
      .toDF("doc_id", "tri", "tf")
    val tf = if (materialize) tfRaw.localCheckpoint(true) else tfRaw
    val global = tf.groupBy("tri").agg(sum(col("tf")).as("cnt"))
    val total = docs.agg(sum(col("len") - 2)).first().getLong(0).toDouble
    val scored = tf.join(global, "tri")
      .select(col("doc_id"), col("tf"),
        Det.dround(col("tf") * log(lit(total) / col("cnt")), 6).as("contrib"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tri"), Det.sumDec(col("contrib")).as("s"))
    val out = scored
      .select(col("doc_id"), col("n_tri"),
        Det.dround(col("s") / col("n_tri"), 4).as("avg_nll"))
      .withColumn("ppl", Det.dround(exp(col("avg_nll")), 2))
      .orderBy("doc_id")
    if (materialize) {
      // cut the result's lineage so the tf checkpoint can be RELEASED
      // here instead of leaking its block for the JVM's lifetime
      val cut = out.localCheckpoint(true)
      tf.unpersist()
      cut
    } else out
  }

  /** Top-of-vocabulary size for [[t22VocabCoverage]] — small enough
    * that the ranked result is driver-trivial, large enough to read
    * the coverage curve. */
  private val VocabTopK = 100

  /** Vocabulary coverage — the tokenizer-training signal: the corpus
    * token-frequency table's top [[VocabTopK]] entries with each
    * token's corpus share and the cumulative share of the vocabulary
    * so far (how much of the corpus a k-entry vocab would cover).
    *
    * Scale shape: token counting is one partial-aggregating groupBy on
    * the token string (map-side combine bounds the shuffle by vocab
    * size per partition, not corpus size); the ranked cut uses
    * `orderBy(...).limit(k)`, which Spark plans as TakeOrderedAndProject
    * — a per-partition bounded top-k merged on the driver, NEVER a
    * full vocabulary sort shuffle. The corpus total rides in as a
    * one-row broadcast cross join, and the running-sum window runs
    * over k rows, not the vocabulary. Ties rank alphabetically so the
    * cut is deterministic cross-engine. */
  def t22VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir).select(explode(tokens).as("token"))
    val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val totalDf = tok.groupBy().agg(count(lit(1)).cast("double").as("tot"))
    val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(VocabTopK)
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    top.crossJoin(broadcast(totalDf))
      .select(
        row_number().over(w).cast("bigint").as("rank"),
        col("token"), col("cnt"),
        Det.dround(col("cnt") / col("tot"), 6).as("frac"),
        Det.dround(
          sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            / col("tot"), 6).as("cum_frac"))
      .orderBy("rank")
  }

  /** Deterministic stratified train/val/test split — the holdout
    * assignment a training run needs before anything else. The split
    * key is md5 of the CONTENT (t09's hex-prefix gate: < 'cc' ≈ 80 %
    * train, < 'e6' ≈ 10 % val, else test), which buys two properties
    * row-number assignment cannot give at scale: the split is stable
    * under any re-partitioning/re-ordering of the corpus, and exact
    * duplicates land in the SAME split — a duplicated document can
    * never leak from train into the holdout. Stratified per language:
    * the narrow per-doc projection (lang, token count, 2 hex chars)
    * feeds one partial-aggregating groupBy; the per-stratum share
    * window runs over ≤3 rows per language, bounded by the label
    * space, never the corpus. */
  def t23StratifiedSplit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = substring(md5(col("text")), 1, 2)
    val split = when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    val agg = Tables.documents(spark, dir)
      .select(col("lang"), split.as("split"), size(tokens).cast("bigint").as("n_tok"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val w = Window.partitionBy("lang")
    agg
      .withColumn("doc_share",
        Det.dround(col("n_docs").cast("double") / sum(col("n_docs")).over(w), 4))
      .orderBy("lang", "split")
  }

  /** Token budget the epoch math in [[t24MixtureWeights]] is quoted
    * against — the "one pass of the re-balanced mixture" size. */
  private val MixtureBudget = 1000000.0

  /** Temperature-scaled source mixture weights (α = 1/2, i.e. T = 2
    * sampling) — the DoReMi/LLaMA-style re-balancing a training run
    * applies so small high-quality sources are not drowned by bulk
    * crawl: w_s ∝ (n_tokens_s)^α, normalized over sources. Output per
    * source: doc/token counts, raw corpus share, the temperature
    * weight, and effective epochs at a fixed [[MixtureBudget]]
    * (w_s·B / n_s — how often the source repeats in one pass of the
    * re-balanced mixture; > 1 means up-sampling).
    *
    * α is exactly 1/2 because `sqrt` is the one power IEEE 754
    * requires correctly rounded in BOTH engines — the Det determinism
    * rule extended to the exponent itself (`pow`'s 1-ulp slack would
    * make the oracle flaky at round boundaries). The normalizer sums
    * the sqrt terms in DECIMAL so it is merge-order-independent.
    *
    * Scale shape: one partial-aggregating groupBy down to |sources|
    * rows; the normalizing window runs over the label space, never
    * the corpus. */
  def t24MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(tokens).cast("bigint").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    per
      .withColumn("raw_share",
        Det.dround(col("n_tokens") / sum(col("n_tokens")).over(w), 6))
      .withColumn("weight", Det.dround(
        sqrt(col("n_tokens").cast("double")) /
          sum(sqrt(col("n_tokens").cast("double")).cast("decimal(18,6)"))
            .over(w).cast("double"), 6))
      .withColumn("epochs",
        Det.dround(col("weight") * MixtureBudget / col("n_tokens"), 4))
      .orderBy("source")
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every document by how much
    * more likely it is under a bag-of-unigrams model of the TARGET
    * domain than under the raw-corpus model — here the `lang = 'en'`
    * slice plays the high-quality target. Per term, the log-likelihood
    * ratio ln(p_t(w)/p_r(w)) with add-one smoothing over the joint
    * vocabulary; per document, the tf-weighted sum of ratios and its
    * per-token mean. `selected` is the principled zero-threshold cut
    * (document more target-like than raw-like), which is a LOCAL
    * predicate — no global sort or quantile pass touches the corpus,
    * unlike a top-N% cut.
    *
    * Scale shape: term statistics are one partial-aggregating groupBy
    * bounded by vocabulary size (the target/raw counts ride in the
    * same aggregate — one pass, not two); the three model scalars
    * (N_t, N_r, |V|) reduce off that vocab table; the per-term ratio
    * table joins back to per-doc tfs vocabulary-sized, so AQE
    * broadcasts it when it fits. Determinism: per-term contributions
    * are rounded then decimal-summed (Det), so scores are independent
    * of partitioning and merge order — the t13/t21 ln-then-floor shape.
    */
  def t25DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(tokens).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("lang"), lower(col("tok")).as("term"))
    val cnt = toks.groupBy("term").agg(
      count(lit(1)).as("c_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
    val g = cnt.agg(
      sum(col("c_r")).cast("double"), sum(col("c_t")).cast("double"),
      count(lit(1)).cast("double")).first()
    val (nR, nT, v) = (g.getDouble(0), g.getDouble(1), g.getDouble(2))
    val lr = cnt.select(col("term"),
      log(((col("c_t") + lit(1.0)) * lit(nR + v)) /
          ((col("c_r") + lit(1.0)) * lit(nT + v))).as("lr"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.join(lr, "term")
      .select(col("doc_id"), col("tf"),
        Det.dround(col("tf") * col("lr"), 6).as("contrib"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"), Det.sumDec(col("contrib")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        Det.dround(col("s") / col("n_tokens"), 4).as("dsir_score"),
        (col("s") > 0.0).as("selected"))
      .orderBy("doc_id")
  }

  /** n-gram size / cut for [[t26TopkNgrams]] — 5-grams are long
    * enough to be distinctive (the unit contamination lists and
    * memorization audits are built from) and the top-50 cut keeps the
    * ranked result driver-trivial. */
  private val NgramN = 5
  private val NgramTopK = 50

  /** Corpus-wide top-K most frequent word 5-grams — the miner behind
    * decontamination block-lists and memorization audits: the grams a
    * corpus repeats most are the first candidates for boilerplate
    * strip-lists and eval-overlap checks (t14/t20 consume exactly such
    * shingle sets). Reports each gram's total occurrence count, its
    * document frequency, and the df share of the corpus.
    *
    * Scale shape: gram explosion is narrow (per-row transform over the
    * token array, no joins); counting is TWO partial-aggregating
    * groupBys — per-(doc, gram) first, so the second stage's map-side
    * combine is bounded by DISTINCT grams per partition and doc_freq
    * falls out as a count instead of a corpus-wide count(DISTINCT)
    * shuffle. The ranked cut is `orderBy(...).limit(k)` →
    * TakeOrderedAndProject (per-partition bounded top-k merged on the
    * driver, never a full gram-table sort); the corpus doc count rides
    * in as a one-row broadcast. Ties rank lexicographically so the cut
    * is deterministic cross-engine. */
  def t26TopkNgrams(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val grams = docs
      .select(col("doc_id"), tokens.as("t"))
      .filter(size(col("t")) >= NgramN)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("t")) - (NgramN - 1)),
          i => concat_ws(" ", slice(col("t"), i, lit(NgramN))))).as("gram"))
    val perDoc = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    val counts = perDoc.groupBy("gram")
      .agg(sum("c").as("n_occ"), count(lit(1)).as("doc_freq"))
    val nDocs = docs.groupBy().agg(count(lit(1)).cast("double").as("n_corpus_docs"))
    val top = counts.orderBy(col("n_occ").desc, col("gram").asc).limit(NgramTopK)
    val w = Window.orderBy(col("n_occ").desc, col("gram").asc)
    top.crossJoin(broadcast(nDocs))
      .select(row_number().over(w).cast("bigint").as("rank"),
              col("gram"), col("n_occ"), col("doc_freq"),
              Det.dround(col("doc_freq") / col("n_corpus_docs"), 6).as("df_share"))
      .orderBy("rank")
  }

  /** Counter budget for [[t31HeavyHitters]] — every token with
    * frequency above N/(k+1) ≈ 3 % of the corpus is guaranteed
    * caught. */
  private[graft] val HeavyHittersK = 32

  /** Corpus heavy hitters in ONE pass with O(k) state — the
    * Misra–Gries summary ([[graft.functions.FrequentItems]]), the
    * third classic mergeable sketch next to q21's HLL and q25's
    * approximate percentiles. Where t22/t26 pay a vocabulary/gram-
    * bounded shuffle for exact ranked counts, this gate's shuffle is
    * ONE ≤ k-entry summary per input partition — the shape for "which
    * domains/tokens dominate" monitoring over a 100 TB stream where
    * even the vocabulary is too wide to shuffle. Rows-only gate (the
    * summary's exact contents are merge-order-dependent, inherent to
    * MG); Verify emits the sketch GUARANTEE as an invariant — every
    * token with true count > N/(k+1) present, every estimate within
    * [true − N/(k+1), true] — checked against the exact counts. */
  def t31HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.FrequentItems.frequent_items
    Tables.documents(spark, dir)
      .select(explode(tokens).as("token"))
      .groupBy()
      .agg(frequent_items(col("token"), HeavyHittersK).as("hh"))
      .select(posexplode(col("hh")).as(Seq("i", "e")))
      .select((col("i") + 1).cast("bigint").as("rank"),
              col("e.item").as("token"), col("e.est").as("est_count"))
      .orderBy("rank")
  }

  /** Fixed token-count bin edges for [[t32SourceDrift]]: width-16
    * bins, top bin open — fixed (not quantile-fit) so the binning is
    * stable across batches and engines, which is what makes drift
    * COMPARABLE over time. */
  private val DriftBins = 8

  private[analytics] def driftBin: Column =
    least(floor(size(tokens) / 16).cast("long"), lit(DriftBins - 1L))

  /** Per-source distribution drift vs the corpus — the data-quality
    * monitor every multi-vendor ingest runs: PSI (population stability
    * index) of each source's token-count distribution against the
    * corpus-wide reference, with add-one smoothing over the fixed
    * [[DriftBins]] bins so empty bins never produce log(0). PSI reads:
    * < 0.1 stable, 0.1–0.25 drifting, > 0.25 investigate — the gate
    * reports the index and the largest single-bin share shift so the
    * report says WHERE the distribution moved, not just that it did.
    *
    * Scale shape: everything is |sources|×[[DriftBins]]-bounded — one
    * narrow scan to (source, bin) partial-agg counts, the corpus
    * reference is the bin-marginal of the same table (8 rows,
    * broadcast), and the PSI sum runs over ≤ 8 rows per source. The
    * per-bin contributions are Det-rounded before the decimal sum so
    * the index is bit-identical across engines and partitionings. */
  def t32SourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"), driftBin.as("bin"))
    driftRollup(spark,
      d.groupBy("source", "bin").agg(count(lit(1)).as("c")),
      d.groupBy("bin").agg(count(lit(1)).as("cc")),
      d.groupBy().agg(count(lit(1)).cast("double").as("nc")))
  }

  /** The PSI rollup over a (source, bin, c) count table vs a corpus
    * reference — split out so st14's streaming drive (whose state
    * snapshot IS such a count table) shares the exact computation with
    * the batch gate. */
  private[analytics] def driftRollup(spark: SparkSession, perSrc: DataFrame,
                                     corpus: DataFrame, corpusTotal: DataFrame): DataFrame = {
    // dense (source × bin) grid so add-one smoothing covers bins a
    // source never hit. The source list is label-bounded METADATA, so
    // it collects to the driver (|sources| strings) and re-enters as a
    // fresh literal frame — which also sidesteps the self-join
    // attribute conflict a perSrc-derived grid would hit when perSrc
    // is a memory-sink view (st14's snapshot)
    val sources = perSrc.select("source").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    import spark.implicits._
    val grid = sources.toDF("source")
      .crossJoin(spark.range(DriftBins).select(col("id").as("bin")))
    val joined = grid
      .join(perSrc, Seq("source", "bin"), "left")
      .join(broadcast(corpus), Seq("bin"), "left")
      .crossJoin(broadcast(corpusTotal))
      .select(col("source"), col("bin"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("cc"), lit(0L)).as("cc"), col("nc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val contrib = joined
      .withColumn("nsrc", sum(col("c")).over(w).cast("double"))
      .withColumn("p", (col("c") + 1.0) / (col("nsrc") + lit(DriftBins.toDouble)))
      .withColumn("q", (col("cc") + 1.0) / (col("nc") + lit(DriftBins.toDouble)))
      .withColumn("contrib", Det.dround((col("p") - col("q")) * log(col("p") / col("q")), 9))
      .withColumn("shift", Det.dround(abs(col("p") - col("q")), 6))
    contrib.groupBy("source")
      .agg(sum(col("c")).as("n_docs"),
           Det.dround(Det.sumDec9(col("contrib")), 6).as("psi"),
           max(col("shift")).as("max_bin_shift"))
      .orderBy("source")
  }

  /** t35 gate: curriculum phases — every doc assigned to one of four
    * difficulty quartiles by its LM perplexity score (t21's avg_nll:
    * curriculum learning's easy→hard axis). The quartile boundaries
    * are EXACT, but computed without ever globally sorting the corpus:
    *
    *  1. histogram the (rounded) scores — `groupBy(avg_nll).count()`,
    *     whose cardinality is bounded by the score's 4-decimal grid
    *     (tens of thousands of distinct values at ANY corpus size),
    *     never by the corpus;
    *  2. a cumulative window over that bounded histogram yields the
    *     exact quartile thresholds (ties never straddle a boundary —
    *     equal scores land in one phase, deterministic cross-engine);
    *  3. the thresholds broadcast back over the corpus as three
    *     scalars.
    *
    * The corpus itself is touched by one narrow scoring pass and one
    * threshold comparison — this is how exact NTILE survives 100 TB:
    * sort the HISTOGRAM, not the data. Quartile fractions are dyadic
    * (0.25/0.5/0.75), so `ceil(q·n)` is bit-exact in both engines. */
  def t35CurriculumPhases(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = t21LmPerplexity(spark, dir).select(col("doc_id"), col("avg_nll"))
    val hist = per.groupBy("avg_nll").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("avg_nll")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
    val th = cum.crossJoin(broadcast(per.groupBy().agg(count(lit(1)).as("n"))))
      .agg(
        min(when(col("cum") >= ceil(col("n") * 0.25), col("avg_nll"))).as("t1"),
        min(when(col("cum") >= ceil(col("n") * 0.5), col("avg_nll"))).as("t2"),
        min(when(col("cum") >= ceil(col("n") * 0.75), col("avg_nll"))).as("t3"))
    per.crossJoin(broadcast(th))
      .select(col("doc_id"), col("avg_nll"),
        when(col("avg_nll") <= col("t1"), 1L)
          .when(col("avg_nll") <= col("t2"), 2L)
          .when(col("avg_nll") <= col("t3"), 3L)
          .otherwise(4L).as("phase"))
      .orderBy("doc_id")
  }

  private val PrefPairsK = 25

  /** t37 gate: preference-pair construction — the reward-model /
    * DPO data shape: per language, pair the k-th BEST document (by
    * quality score) with the k-th WORST, strongest contrasts first,
    * keeping only strict-preference pairs (chosen score > rejected).
    * Both rank lists come from the bounded map-side top-k aggregate
    * (`top_k_by`, ≤k entries per group per partition reach the
    * exchange — never a per-language window sorting a corpus-sized
    * partition); scores are rounded BEFORE ranking so the rank order
    * is identical cross-engine (the t13 rule). */
  def t37PreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BoundedTopK.top_k_by
    val t = tokens
    val scored = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        Det.dround(size(array_distinct(t)).cast("double") / size(t), 6).as("score"))
    val agg = scored.groupBy("lang").agg(
      top_k_by(col("score"), col("doc_id"), PrefPairsK).as("best"),
      top_k_by(-col("score"), col("doc_id"), PrefPairsK).as("worst"))
    agg.select(col("lang"),
        posexplode(arrays_zip(col("best"), col("worst"))))
      .select(col("lang"), (col("pos") + 1L).as("pair_rank"),
        col("col.best.id").as("chosen_doc_id"),
        col("col.best.score").as("chosen_score"),
        col("col.worst.id").as("rejected_doc_id"),
        (-col("col.worst.score")).as("rejected_score"))
      .filter(col("chosen_score") > col("rejected_score"))
      .select(col("lang"), col("pair_rank"), col("chosen_doc_id"),
        col("rejected_doc_id"),
        Det.dround(col("chosen_score") - col("rejected_score"), 6).as("score_gap"))
      .orderBy("lang", "pair_rank")
  }

  private val LenBuckets = Seq(128L, 256L, 512L, 1024L)

  /** t38 gate: context-length bucketing — the padding-waste report a
    * trainer reads before picking sequence lengths: each doc lands in
    * the smallest bucket that holds it (docs past the largest cap are
    * truncated there), and per (lang, bucket) the gate accounts docs,
    * real tokens, PADDING tokens burned (cap − n_tok) and TRUNCATED
    * tokens lost, plus the padding fraction of the bucket's compute.
    * One narrow pass + one label-bounded aggregate. */
  def t38LengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens).cast("long")
    val cap = LenBuckets.reverse.tail.foldLeft(lit(LenBuckets.last)) {
      (acc, b) => when(nTok <= b, lit(b)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("lang"), nTok.as("n_tok"), cap.as("bucket"))
      .withColumn("kept", least(col("n_tok"), col("bucket")))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("kept")).as("n_tokens"),
           sum(col("bucket") - col("kept")).as("pad_tokens"),
           sum(col("n_tok") - col("kept")).as("trunc_tokens"))
      .withColumn("pad_frac",
        Det.dround(col("pad_tokens").cast("double") /
                   (col("n_docs") * col("bucket")), 6))
      .orderBy("lang", "bucket")
  }

  /** The sketch accuracy knob for [[t41QuantileSketch]]: rank error ≤
    * 1/accuracy of the group size (Greenwald–Khanna guarantee). */
  private[graft] val T41Accuracy = 1000

  /** t41 gate: MERGEABLE approximate quantiles of the per-doc token
    * counts, per language — the sketch tier of exact percentiles (what
    * q39's HLL is to exact distinct): `percentile_approx` builds a
    * bounded Greenwald–Khanna summary per partition and merges, ONE
    * pass and codebook-sized state per group, where an exact
    * percentile of a 100 TB score column pays a full per-group sort.
    * Rank guarantee: each reported quantile's true rank is within
    * N/accuracy of p·N — Verify emits the tie-safe two-sided check as
    * `t41_max_rank_err` (fraction(< q) ≤ p + ε and fraction(≤ q) ≥
    * p − ε), which holds under ANY partition/merge order even though
    * the summary itself is not bit-deterministic across orders; the
    * spec pins per-lang monotonicity and repeat-stability.
    * Complements [[Relational.q25ApproxPercentiles]], which pins the
    * same sketch's EMPIRICAL value error against inline exact
    * percentiles on the relational side: value error is what a user
    * observes, the rank band is what the algorithm actually
    * guarantees — this gate checks the guarantee itself, in the
    * multi-quantile per-group form a quality-score distribution
    * report uses. Rows-only (the sketch is algorithm-specific;
    * DuckDB's quantile is a different estimator). */
  def t41QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    Tables.documents(spark, dir)
      .select(col("lang"), size(tokens).cast("bigint").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           percentile_approx(col("n_tok"),
             array(ps.map(lit): _*), lit(T41Accuracy)).as("qs"))
      .select(col("lang"), col("n_docs"), posexplode(col("qs")).as(Seq("i", "q")))
      .select(col("lang"), col("n_docs"),
        element_at(array(ps.map(lit): _*), col("i") + 1).as("p"),
        col("q").cast("bigint").as("approx_q"))
      .orderBy("lang", "p")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t41_quantile_sketch"   -> t41QuantileSketch _,
    "t01_lang_distribution" -> t01LangDistribution _,
    "t02_token_counts"      -> t02TokenCounts _,
    "t03_quality_scores"    -> t03QualityScores _,
    "t04_langid"            -> t04LangId _,
    "t05_fingerprints"      -> t05Fingerprints _,
    "t06_dedup_exact"       -> t06DedupExact _,
    "t11_bpe_tokens"        -> t11BpeTokens _,
    "t12_repetition"        -> t12Repetition _,
    "t13_tfidf"             -> t13Tfidf _,
    "t14_decontamination"   -> t14Decontamination _,
    "t15_quality_filter"    -> t15QualityFilter _,
    "t16_mixture_sample"    -> t16MixtureSample _,
    "t17_pii_redaction"     -> t17PiiRedaction _,
    "t18_boilerplate"       -> t18Boilerplate _,
    "t19_source_overlap"    -> t19SourceOverlap _,
    "t20_bloom_decontam"    -> t20BloomDecontam _,
    "t21_lm_perplexity"     -> t21LmPerplexity _,
    "t22_vocab_coverage"    -> t22VocabCoverage _,
    "t23_stratified_split"  -> t23StratifiedSplit _,
    "t24_mixture_weights"   -> t24MixtureWeights _,
    "t25_dsir_weights"      -> t25DsirWeights _,
    "t26_topk_ngrams"       -> t26TopkNgrams _,
    "t31_heavy_hitters"     -> t31HeavyHitters _,
    "t32_source_drift"      -> t32SourceDrift _,
    "t35_curriculum_phases" -> t35CurriculumPhases _,
    "t37_preference_pairs"  -> t37PreferencePairs _,
    "t38_length_buckets"    -> t38LengthBuckets _,
  )

  private[analytics] val stopListSql = stopwords.map(s => s"'$s'").mkString(", ")
  private def stopList = stopListSql

  /** The trigram-NLL derivation (docs → per-doc exact score sums),
    * shared by the t21 and t35 oracles — ONE definition, so a scoring
    * fix cannot leave one gate's SQL stale. */
  private val TrigramNllCtes =
    """docs AS (SELECT doc_id, text, strlen(text) len FROM documents WHERE strlen(text) >= 3),
          g AS (SELECT doc_id, unnest(generate_series(1, len-2)) i, text FROM docs),
          tf AS (SELECT doc_id, substr(text, i, 3) tri, count(*) tf FROM g GROUP BY 1, 2),
          gl AS (SELECT tri, sum(tf) cnt FROM tf GROUP BY tri),
          tot AS (SELECT CAST(sum(cnt) AS DOUBLE) n FROM gl),
          sc AS (SELECT doc_id, tf.tf,
                  floor((tf.tf * ln((SELECT n FROM tot) / cnt)) * 1000000.0 + 0.5) / 1000000.0 contrib
                 FROM tf JOIN gl USING (tri)),
          per AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) n_tri,
                   CAST(sum(CAST((contrib) AS DECIMAL(18,6))) AS DOUBLE) s
                  FROM sc GROUP BY doc_id)"""

  /** Shared by t14 (exact semi join) and t20 (Bloom-pre-filtered) —
    * the Bloom stage is correctness-invisible, so both gates hash
    * against the same oracle. */
  private val DecontamSql =
    """WITH toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') t FROM documents),
        sh AS (SELECT doc_id, source, list_distinct(list_transform(range(1, len(t)-1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) s
               FROM toks WHERE len(t) >= 3),
        ev AS (SELECT DISTINCT unnest(s) shingle FROM sh WHERE source = 'src0'),
        tr AS (SELECT doc_id, CAST(len(s) AS BIGINT) n_shingles, unnest(s) shingle
               FROM sh WHERE source <> 'src0'),
        hit AS (SELECT doc_id, n_shingles, count(*) n_contaminated
                FROM tr WHERE shingle IN (SELECT shingle FROM ev) GROUP BY 1, 2)
       SELECT doc_id, n_shingles, n_contaminated,
         floor((CAST(n_contaminated AS DOUBLE) / n_shingles) * 10000.0 + 0.5) / 10000.0 AS contamination
       FROM hit ORDER BY doc_id"""

  val oracleSql: Map[String, String] = Map(
    "t37_preference_pairs" ->
      """WITH d AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') t FROM documents),
          s AS (SELECT doc_id, lang,
                 floor((CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) * 1000000.0 + 0.5) / 1000000.0 score
                FROM d),
          b AS (SELECT lang, doc_id, score,
                 row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC) rb
                FROM s),
          w AS (SELECT lang, doc_id, score,
                 row_number() OVER (PARTITION BY lang ORDER BY score ASC, doc_id ASC) rw
                FROM s)
         SELECT b.lang, CAST(rb AS BIGINT) AS pair_rank,
          b.doc_id AS chosen_doc_id, w.doc_id AS rejected_doc_id,
          floor((b.score - w.score) * 1000000.0 + 0.5) / 1000000.0 AS score_gap
         FROM b JOIN w ON b.lang = w.lang AND b.rb = w.rw
         WHERE rb <= 25 AND b.score > w.score
         ORDER BY 1, 2""",
    "t38_length_buckets" ->
      """WITH d AS (SELECT lang,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_tok
                    FROM documents),
          c AS (SELECT lang, n_tok,
                 CAST(CASE WHEN n_tok <= 128 THEN 128 WHEN n_tok <= 256 THEN 256
                      WHEN n_tok <= 512 THEN 512 ELSE 1024 END AS BIGINT) bucket
                FROM d),
          k AS (SELECT lang, bucket, n_tok, least(n_tok, bucket) kept FROM c)
         SELECT lang, bucket, count(*) AS n_docs,
          CAST(sum(kept) AS BIGINT) AS n_tokens,
          CAST(sum(bucket - kept) AS BIGINT) AS pad_tokens,
          CAST(sum(n_tok - kept) AS BIGINT) AS trunc_tokens,
          floor((CAST(sum(bucket - kept) AS DOUBLE) / (count(*) * bucket)) * 1000000.0 + 0.5) / 1000000.0 AS pad_frac
         FROM k GROUP BY lang, bucket ORDER BY lang, bucket""",
    "t35_curriculum_phases" ->
      s"""WITH $TrigramNllCtes,
          pp AS (SELECT doc_id, floor((s / n_tri) * 10000.0 + 0.5) / 10000.0 avg_nll FROM per),
          hist AS (SELECT avg_nll, count(*) c FROM pp GROUP BY 1),
          cum AS (SELECT avg_nll,
                   sum(c) OVER (ORDER BY avg_nll
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
                  FROM hist),
          nn AS (SELECT count(*) n FROM pp),
          th AS (SELECT min(CASE WHEN cum >= ceil(n * 0.25) THEN avg_nll END) t1,
                  min(CASE WHEN cum >= ceil(n * 0.5) THEN avg_nll END) t2,
                  min(CASE WHEN cum >= ceil(n * 0.75) THEN avg_nll END) t3
                 FROM cum, nn)
         SELECT doc_id, avg_nll,
          CAST(CASE WHEN avg_nll <= t1 THEN 1 WHEN avg_nll <= t2 THEN 2
                    WHEN avg_nll <= t3 THEN 3 ELSE 4 END AS BIGINT) AS phase
         FROM pp, th ORDER BY doc_id""",
    "t32_source_drift" ->
      """WITH d AS (SELECT source,
              least(CAST(floor(len(string_split_regex(trim(text), '\s+')) / 16) AS BIGINT), 7) bin
             FROM documents),
          ps AS (SELECT source, bin, count(*) c FROM d GROUP BY 1, 2),
          cb AS (SELECT bin, count(*) cc FROM d GROUP BY 1),
          tot AS (SELECT CAST(count(*) AS DOUBLE) nc FROM d),
          grid AS (SELECT s.source, b.bin
                   FROM (SELECT DISTINCT source FROM ps) s,
                        (SELECT unnest(range(0, 8)) bin) b),
          j AS (SELECT g.source, g.bin, coalesce(ps.c, 0) c,
                 coalesce(cb.cc, 0) cc, nc
                FROM grid g
                LEFT JOIN ps ON g.source = ps.source AND g.bin = ps.bin
                LEFT JOIN cb ON g.bin = cb.bin, tot),
          k AS (SELECT *, CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE) nsrc FROM j),
          m AS (SELECT source, c,
                 (c + 1.0) / (nsrc + 8.0) p, (cc + 1.0) / (nc + 8.0) q FROM k),
          ct AS (SELECT source, c,
                 floor(((p - q) * ln(p / q)) * 1000000000.0 + 0.5) / 1000000000.0 contrib,
                 floor(abs(p - q) * 1000000.0 + 0.5) / 1000000.0 shift FROM m)
         SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
          floor((CAST(sum(CAST(contrib AS DECIMAL(18,9))) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS psi,
          max(shift) AS max_bin_shift
         FROM ct GROUP BY source ORDER BY source""",
    "t26_topk_ngrams" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
          g AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-3),
                  i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])) gram
                FROM toks WHERE len(t) >= 5),
          pd AS (SELECT doc_id, gram, count(*) c FROM g GROUP BY 1, 2),
          c AS (SELECT gram, CAST(sum(c) AS BIGINT) n_occ, count(*) doc_freq FROM pd GROUP BY 1),
          nd AS (SELECT CAST(count(*) AS DOUBLE) n FROM documents),
          top AS (SELECT gram, n_occ, doc_freq FROM c ORDER BY n_occ DESC, gram ASC LIMIT 50)
         SELECT row_number() OVER (ORDER BY n_occ DESC, gram ASC) AS rank, gram, n_occ,
          CAST(doc_freq AS BIGINT) AS doc_freq,
          floor((CAST(doc_freq AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0 AS df_share
         FROM top, nd ORDER BY rank""",
    "t01_lang_distribution" ->
      """SELECT lang, count(*) AS n_docs,
         floor((CAST(sum(n_chars) AS DOUBLE) / count(*)) * 100.0 + 0.5) / 100.0 AS avg_chars,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "t02_token_counts" ->
      """SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
         floor((CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE) / count(*)) * 100.0 + 0.5) / 100.0 AS avg_tokens
         FROM documents GROUP BY source ORDER BY source""",
    "t03_quality_scores" ->
      s"""WITH d AS (SELECT lang, string_split_regex(trim(text), '\\s+') t FROM documents),
          m AS (SELECT lang,
                 CAST(len(t) AS DOUBLE) n_tok,
                 CAST(list_aggregate(list_transform(t, x -> strlen(x)), 'sum') AS DOUBLE) / len(t) tok_len,
                 CAST(len(list_filter(t, x -> x IN ($stopList))) AS DOUBLE) / len(t) stop_ratio,
                 CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ttr
                FROM d)
          SELECT lang,
           floor((CAST(sum(n_tok) AS DOUBLE) / count(*)) * 100.0 + 0.5) / 100.0 AS avg_tokens,
           floor((CAST(sum(CAST((tok_len) AS DECIMAL(18,9))) AS DOUBLE) / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
           floor((CAST(sum(CAST((stop_ratio) AS DECIMAL(18,9))) AS DOUBLE) / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_stopword_ratio,
           floor((CAST(sum(CAST((ttr) AS DECIMAL(18,9))) AS DOUBLE) / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_type_token_ratio
          FROM m GROUP BY lang ORDER BY lang""",
    "t04_langid" ->
      """WITH d AS (SELECT lang, string_split_regex(trim(text), '\s+') t FROM documents)
         SELECT lang,
          CASE WHEN list_contains(t, 'the') AND list_contains(t, 'a') THEN 'en'
               WHEN list_contains(t, 'data') AND list_contains(t, 'query') THEN 'en_tech'
               ELSE 'unk' END AS predicted,
          count(*) AS n
         FROM d GROUP BY 1, 2 ORDER BY lang, predicted""",
    "t05_fingerprints" ->
      """SELECT source, count(*) AS n_docs,
         count(DISTINCT substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16)) AS n_distinct_fp
         FROM documents GROUP BY source ORDER BY source""",
    "t06_dedup_exact" ->
      """WITH f AS (SELECT source, doc_id,
                     substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) fp
                    FROM documents),
          s AS (SELECT min(doc_id) doc_id, count(*) dups FROM f GROUP BY fp)
         SELECT f.source, count(*) AS n_unique, CAST(sum(s.dups - 1) AS BIGINT) AS n_removed
         FROM s JOIN f ON s.doc_id = f.doc_id
         GROUP BY f.source ORDER BY f.source""",
    "t11_bpe_tokens" ->
      """WITH d AS (SELECT source,
             CAST(len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS BIGINT) n_bpe,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_ws
           FROM documents)
         SELECT source, count(*) AS n_docs,
          CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
          floor((CAST(sum(n_bpe) AS DOUBLE) / count(*)) * 100.0 + 0.5) / 100.0 AS avg_bpe_tokens,
          floor((CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws)) * 10000.0 + 0.5) / 10000.0 AS bpe_per_ws_token
         FROM d GROUP BY source ORDER BY source""",
    "t12_repetition" ->
      """WITH toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') t FROM documents),
          base AS (SELECT doc_id, source,
              1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS dwf,
              list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) bgs
            FROM toks WHERE len(t) >= 2),
          bg AS (SELECT doc_id, unnest(bgs) AS b FROM base),
          cnt AS (SELECT doc_id, b, count(*) c FROM bg GROUP BY 1, 2),
          top AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) top_frac FROM cnt GROUP BY 1)
         SELECT source, count(*) AS n_docs,
          floor((CAST(sum(CAST((dwf) AS DECIMAL(18,9))) AS DOUBLE) / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_dup_word_frac,
          floor((CAST(sum(CAST((top_frac) AS DECIMAL(18,9))) AS DOUBLE) / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_top_bigram_frac
         FROM base JOIN top USING (doc_id) GROUP BY source ORDER BY source""",
    "t13_tfidf" ->
      """WITH toks AS (SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) term
                       FROM documents),
          tf AS (SELECT doc_id, term, count(*) tf FROM toks WHERE term <> '' GROUP BY 1, 2),
          df AS (SELECT term, count(*) df FROM tf GROUP BY term),
          sc AS (SELECT doc_id, term, tf, df,
                  floor((tf * ln((SELECT count(*) FROM documents) * 1.0 / df)) * 10000.0 + 0.5) / 10000.0 tfidf
                 FROM tf JOIN df USING (term)),
          r AS (SELECT *, CAST(row_number() OVER (
                  PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) rank
                FROM sc)
         SELECT doc_id, rank, term, tf, df, tfidf
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    "t14_decontamination" -> DecontamSql,
    // t20 is t14's Bloom-pre-filtered scale tier; the exact semi join
    // on the survivors removes every Bloom false positive, so the two
    // share one oracle — the gate proves output identity at every SF.
    "t20_bloom_decontam" -> DecontamSql,
    "t21_lm_perplexity" ->
      s"""WITH $TrigramNllCtes
         SELECT doc_id, n_tri,
          floor((s / n_tri) * 10000.0 + 0.5) / 10000.0 AS avg_nll,
          floor(exp(floor((s / n_tri) * 10000.0 + 0.5) / 10000.0) * 100.0 + 0.5) / 100.0 AS ppl
         FROM per ORDER BY doc_id""",
    "t22_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) token FROM documents),
          c AS (SELECT token, count(*) cnt FROM tok GROUP BY 1),
          tot AS (SELECT CAST(count(*) AS DOUBLE) t FROM tok),
          top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token ASC LIMIT 100),
          r AS (SELECT row_number() OVER (ORDER BY cnt DESC, token ASC) rank, token, cnt,
                 sum(cnt) OVER (ORDER BY cnt DESC, token ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
                FROM top)
         SELECT rank, token, cnt,
          floor((CAST(cnt AS DOUBLE) / t) * 1000000.0 + 0.5) / 1000000.0 AS frac,
          floor((CAST(cum AS DOUBLE) / t) * 1000000.0 + 0.5) / 1000000.0 AS cum_frac
         FROM r, tot ORDER BY rank""",
    "t23_stratified_split" ->
      """WITH d AS (SELECT lang,
                 CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
                      WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
                      ELSE 'test' END AS split,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_tok
               FROM documents),
          agg AS (SELECT lang, split, count(*) n_docs, sum(n_tok) n_tokens
                  FROM d GROUP BY 1, 2)
         SELECT lang, split, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
          floor((CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang)) * 10000.0 + 0.5) / 10000.0 AS doc_share
         FROM agg ORDER BY lang, split""",
    "t24_mixture_weights" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
          tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) tot_tok,
                   CAST(sum(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) tot_scaled
                  FROM per),
          m AS (SELECT source, n_docs, n_tokens,
                 floor((CAST(n_tokens AS DOUBLE) / tot_tok) * 1000000.0 + 0.5) / 1000000.0 AS raw_share,
                 floor((sqrt(CAST(n_tokens AS DOUBLE)) / tot_scaled) * 1000000.0 + 0.5) / 1000000.0 AS weight
                FROM per, tot)
         SELECT source, n_docs, n_tokens, raw_share, weight,
          floor((weight * 1000000.0 / n_tokens) * 10000.0 + 0.5) / 10000.0 AS epochs
         FROM m ORDER BY source""",
    "t25_dsir_weights" ->
      """WITH t AS (SELECT doc_id, lang,
                     lower(unnest(string_split_regex(trim(text), '\s+'))) term
                    FROM documents),
          tk AS (SELECT doc_id, lang, term FROM t WHERE term <> ''),
          cnt AS (SELECT term, count(*) c_r,
                   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) c_t
                  FROM tk GROUP BY term),
          g AS (SELECT CAST(sum(c_r) AS DOUBLE) n_r, CAST(sum(c_t) AS DOUBLE) n_t,
                 CAST(count(*) AS DOUBLE) v FROM cnt),
          lr AS (SELECT term,
                  ln(((c_t + 1.0) * (n_r + v)) / ((c_r + 1.0) * (n_t + v))) lr
                 FROM cnt, g),
          tf AS (SELECT doc_id, term, count(*) tf FROM tk GROUP BY 1, 2),
          sc AS (SELECT doc_id, tf.tf,
                  floor((tf.tf * lr) * 1000000.0 + 0.5) / 1000000.0 contrib
                 FROM tf JOIN lr USING (term)),
          per AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) n_tokens,
                   CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) s
                  FROM sc GROUP BY doc_id)
         SELECT doc_id, n_tokens,
          floor((s / n_tokens) * 10000.0 + 0.5) / 10000.0 AS dsir_score,
          s > 0.0 AS selected
         FROM per ORDER BY doc_id""",
    "t15_quality_filter" ->
      s"""WITH d AS (SELECT source, string_split_regex(trim(text), '\\s+') t FROM documents),
          m AS (SELECT source,
                 len(t) n_tok,
                 CAST(list_aggregate(list_transform(t, x -> strlen(x)), 'sum') AS DOUBLE) / len(t) mean_len,
                 len(list_filter(t, x -> x IN ($stopList))) n_stop,
                 CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ttr,
                 list_max(list_transform(t, x -> strlen(x))) max_len
                FROM d),
          r AS (SELECT source, n_tok >= 20 r1,
                 mean_len >= 2.0 AND mean_len <= 12.0 r2,
                 n_stop > 0 r3, ttr >= 0.2 r4, max_len <= 40 r5
                FROM m)
         SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
          CAST(sum(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT) AS fail_min_tokens,
          CAST(sum(CASE WHEN NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_token_len,
          CAST(sum(CASE WHEN NOT r3 THEN 1 ELSE 0 END) AS BIGINT) AS fail_no_stopword,
          CAST(sum(CASE WHEN NOT r4 THEN 1 ELSE 0 END) AS BIGINT) AS fail_ttr,
          CAST(sum(CASE WHEN NOT r5 THEN 1 ELSE 0 END) AS BIGINT) AS fail_long_token
         FROM r GROUP BY source ORDER BY source""",
    "t16_mixture_sample" ->
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
    "t17_pii_redaction" ->
      """WITH p AS (SELECT source, text ||
            CASE WHEN doc_id % 7 = 0
                 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                 ELSE '' END ||
            CASE WHEN doc_id % 11 = 0 THEN ' call +1 555-867-5309' ELSE '' END ||
            CASE WHEN doc_id % 13 = 0
                 THEN ' host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.25'
                 ELSE '' END AS text
           FROM documents),
          m AS (SELECT source,
                 CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) n_email,
                 CAST(len(regexp_extract_all(text, '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) n_phone,
                 CAST(len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) n_ip,
                 regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
                   '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g') AS masked
                FROM p),
          r AS (SELECT source, n_email, n_phone, n_ip,
                 CAST(len(regexp_extract_all(masked, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                    + len(regexp_extract_all(masked, '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}'))
                    + len(regexp_extract_all(masked, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) n_residual
                FROM m)
         SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
          CAST(sum(n_email) AS BIGINT) AS n_emails,
          CAST(sum(n_phone) AS BIGINT) AS n_phones,
          CAST(sum(n_ip) AS BIGINT) AS n_ips,
          CAST(sum(n_residual) AS BIGINT) AS n_residual
         FROM r GROUP BY source ORDER BY source""",
    "t18_boilerplate" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
          sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) s
                 FROM toks WHERE len(t) >= 3),
          ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
          boiler AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) >= 3),
          bc AS (SELECT doc_id, count(*) n_boiler
                 FROM ex JOIN boiler USING (shingle) GROUP BY 1)
         SELECT sh.doc_id, CAST(len(sh.s) AS BIGINT) AS n_shingles,
          CAST(coalesce(bc.n_boiler, 0) AS BIGINT) AS n_boiler,
          floor((CAST(coalesce(bc.n_boiler, 0) AS DOUBLE) / len(sh.s)) * 10000.0 + 0.5) / 10000.0 AS boiler_frac
         FROM sh LEFT JOIN bc ON sh.doc_id = bc.doc_id ORDER BY sh.doc_id""",
    "t19_source_overlap" ->
      """WITH toks AS (SELECT source, doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
          sh AS (SELECT source, doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) shingle
                 FROM toks WHERE len(t) >= 3),
          inv AS (SELECT DISTINCT source, shingle FROM sh),
          sizes AS (SELECT source, count(*) n FROM inv GROUP BY 1),
          pairs AS (SELECT a.source src_a, b.source src_b, count(*) shared
                    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.source < b.source
                    GROUP BY 1, 2)
         SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
          floor((CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)) * 10000.0 + 0.5) / 10000.0 AS jaccard
         FROM pairs
         JOIN sizes sa ON src_a = sa.source
         JOIN sizes sb ON src_b = sb.source
         ORDER BY src_a, src_b""",
  )
}
