package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.ParquetRows

/** Corpus preparation operators that finish the training-data story:
  * chunking, deterministic sampling, shard packing. All pure column
  * expressions / windows, all oracle-checked.
  */
object TextPrep {

  private val ChunkTokens = 32
  private val Overlap = 8

  /** Split documents into overlapping token-window chunks: stride =
    * ChunkTokens - Overlap, one output row per chunk with its token
    * span — explode of a computed sequence, no UDF, linear scan. */
  def t08Chunking(spark: SparkSession, dir: String): DataFrame = {
    val stride = ChunkTokens - Overlap
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .withColumn("n_tok", size(col("toks")))
      // chunk start offsets (0, stride, 2*stride, … while start < n_tok)
      // built inline in the posexplode: the generator child is a
      // sequence *expression* (not an attribute), so no generate-filter
      // is inferred and pushed into a re-evaluation of the split
      .select(col("doc_id"), col("n_tok"),
        posexplode(sequence(lit(0),
          greatest(floor((col("n_tok") - 1) / stride).cast("int"), lit(0)) * stride,
          lit(stride))).as(Seq("chunk_id", "start")))
      .withColumn("chunk_len", least(lit(ChunkTokens), col("n_tok") - col("start")))
      .filter(col("chunk_len") > 0)
    d.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum("chunk_len").as("chunk_tokens"),
           max("n_tok").as("n_tok"))
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("n_chunks"), col("chunk_tokens"),
        col("n_tok").cast("bigint").as("n_tok"))
      .orderBy("doc_id")
  }

  /** Deterministic Bernoulli sampling: keep a doc iff the first two hex
    * digits of md5(text) fall under the rate — reproducible across
    * engines, runs, and cluster sizes (no RNG state). */
  def t09DeterministicSample(spark: SparkSession, dir: String): DataFrame = {
    // hex-prefix compare: md5 is lowercase hex in both engines, so the
    // lexicographic test "< '40'" is the deterministic 25% gate
    Tables.documents(spark, dir)
      .withColumn("sampled", substring(md5(col("text")), 1, 2) < "40")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  /** Shard packing: assign docs (ordered by doc_id) to output shards of
    * ~`budget` tokens via a cumulative-sum window — the deterministic
    * layout step before writing training shards. */
  def t10ShardPacking(spark: SparkSession, dir: String): DataFrame =
    shardAssignments(Tables.documents(spark, dir), 4000L)
      .groupBy("lang", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))
      .orderBy("lang", "shard_id")

  /** Shard assignment for an arbitrary (doc_id, lang, text, …) corpus —
    * the t10 packing core, returned per-document. */
  private[analytics] def shardAssignments(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    docs
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("shard_id",
        floor((sum("n_tokens").over(w) - 1L) / budget).cast("bigint"))
  }

  /** Materialize packed training shards: assign documents to ~`budget`-
    * token shards per language (t10's cumulative-sum layout) and write
    * them as parquet partitioned by (lang, shard_id), documents sorted
    * by doc_id inside each shard file. This is the step that turns the
    * curated corpus into the artifact a trainer actually consumes.
    * One shuffle total: the repartition to (lang, shard_id) doubles as
    * the write layout AND keeps each shard in one task → one file —
    * at 100 TB that means ~budget-token output files regardless of
    * executor count. Returns the written document count. */
  def writeShards(docs: DataFrame, outDir: String, budget: Long = 4000L): Long = {
    val assigned = shardAssignments(docs, budget)
    assigned
      .repartition(col("lang"), col("shard_id"))
      .sortWithinPartitions("lang", "shard_id", "doc_id")
      .write.partitionBy("lang", "shard_id")
      .mode("overwrite").parquet(outDir)
    ParquetRows.frame(assigned.sparkSession, outDir).count()
  }

  /** Materialize packed shards as JSONL — the line-delimited format
    * trainer data loaders consume directly (webdataset/HF-style):
    * same (lang, shard_id) packing and one-file-per-shard layout as
    * [[writeShards]], each line one `{"doc_id":…,"lang":…,"text":…}`
    * object via `to_json` (NaN→null per the engine-wide JSON rule),
    * sorted by doc_id inside each shard. Spark's text writer emits one
    * compressed-splittable line file per partition, so the export
    * stays one shuffle at any corpus size. Returns the line count
    * read back (the write-then-count verification the copy ETL also
    * uses). */
  def writeJsonlShards(docs: DataFrame, outDir: String, budget: Long = 4000L): Long = {
    val assigned = shardAssignments(docs, budget)
    assigned
      .repartition(col("lang"), col("shard_id"))
      .sortWithinPartitions("lang", "shard_id", "doc_id")
      .select(col("lang"), col("shard_id"),
        to_json(struct(col("doc_id"), col("lang"), col("text"),
          col("n_tokens"))).as("value"))
      .write.partitionBy("lang", "shard_id")
      .mode("overwrite").text(outDir)
    assigned.sparkSession.read.textFile(outDir).count()
  }

  /** Ingest a JSONL corpus (the format crawls and HF datasets arrive
    * in) into the engine's documents shape. The schema is DECLARED,
    * not inferred — at 100 TB, schema inference is a full extra pass
    * over the corpus; a declared schema makes the read one pass, and
    * `columnNameOfCorruptRecord` quarantines malformed lines into
    * `_corrupt` instead of failing the job. To split clean/quarantine
    * streams, materialize (cache or write) the parsed frame first —
    * Spark rejects queries that reference ONLY the corrupt column off
    * a raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN). */
  def readJsonlCorpus(spark: SparkSession, path: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_corrupt", org.apache.spark.sql.types.StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
  }

  /** Declared-schema CSV corpus ingest — [[readJsonlCorpus]]'s
    * contract for the other interchange format vendors and crawls
    * deliver: rows parse against the DECLARED schema (inference would
    * cost an extra full read at 100 TB and can silently mistype a
    * column from a biased sample), and malformed lines land in
    * `_corrupt` for quarantine instead of failing the job. Format
    * knobs (header, RFC-4180 quote/escape) are pinned explicitly so
    * the contract travels with the code, not the file. One narrow
    * distributed scan; corrupt handling is per-row, so one bad vendor
    * file never takes down the ingest. */
  def readCsvCorpus(spark: SparkSession, path: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_corrupt", org.apache.spark.sql.types.StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(path)
  }

  /** Training-sequence length for [[t30SequencePacking]] — fixture-
    * scale stand-in for the 2k/4k/8k context a trainer packs to. */
  private val SeqLen = 256L

  /** Sequence packing — the concatenate-and-chop step that turns a
    * document stream into fixed-[[SeqLen]]-token training rows
    * (GPT-style packing: documents are laid end to end in doc_id
    * order and the stream is cut every SeqLen tokens, so documents
    * can span sequence boundaries). Reported per language: sequence
    * count, token total, mean documents touched per sequence (the
    * attention-fragmentation signal packing pipelines watch), and how
    * many documents straddle a boundary.
    *
    * Scale shape: packing is inherently a running sum, so it runs per
    * LANGUAGE partition (the same per-stream discipline as t10's
    * shard budgets — production packs per shard/stream, never one
    * global sequence space). Each document's sequence span comes from
    * its cumulative offset arithmetic alone — no explode, no join;
    * the per-language rollup is one partial-aggregating groupBy over
    * label-bounded keys. */
  def t30SequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val d = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .withColumn("start", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("first_seq", floor(col("start") / SeqLen).cast("long"))
      .withColumn("last_seq",
        floor((col("start") + col("n_tok") - 1L) / SeqLen).cast("long"))
    d.groupBy("lang")
      .agg((max("last_seq") + 1L).as("n_seqs"),
           sum("n_tok").as("n_tokens"),
           Det.dround(sum(col("last_seq") - col("first_seq") + 1L).cast("double") /
                      (max("last_seq") + 1L), 4).as("avg_docs_per_seq"),
           sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
             .as("n_spanning_docs"))
      .orderBy("lang")
  }

  /** Shards per language for [[t39ShardedPacking]] — fixture-scale
    * stand-in for the hundreds of writer shards a production packer
    * runs per stream. */
  private val PackShards = 4L

  /** t39 gate: SHARD-AWARE sequence packing — t30's running-sum
    * arithmetic with the window keyed (lang, shard) instead of lang
    * alone. t30's per-language window is the correct per-stream
    * discipline, but a single-language 100 TB corpus makes one window
    * partition corpus-sized; sharding the stream (deterministically,
    * `doc_id % PackShards`, so the oracle is exact SQL) bounds every
    * window partition at corpus/|shards| while preserving the packing
    * contract per shard — exactly how a production packer runs: each
    * writer shard packs its own document substream into its own
    * sequence space. Tokens are conserved across the split (per-lang
    * totals equal t30's — pinned in ShardedPackingSpec). */
  def t39ShardedPacking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val d = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        (col("doc_id") % PackShards).as("shard"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .withColumn("start", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("first_seq", floor(col("start") / SeqLen).cast("long"))
      .withColumn("last_seq",
        floor((col("start") + col("n_tok") - 1L) / SeqLen).cast("long"))
    d.groupBy("lang", "shard")
      .agg((max("last_seq") + 1L).as("n_seqs"),
           count(lit(1)).as("n_docs"),
           sum("n_tok").as("n_tokens"),
           sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
             .as("n_spanning_docs"))
      .orderBy("lang", "shard")
  }

  /** t36 gate: contrastive-pair construction accounting — the training
    * set an embedding model (SimCSE/DPR family) consumes: positives
    * are ADJACENT overlapping chunks of the same document (t08's
    * 32/24 chunk grid, so each doc yields n_chunks−1 positive pairs),
    * and each anchor's in-batch negative comes from the NEXT document
    * in (lang, doc_id) order — a deterministic stand-in for the
    * shuffled-batch negative, so the whole assignment is reproducible
    * and SQL-exact. The gate emits per-doc accounting (chunk count,
    * positive-pair count, negative source), NOT materialized pairs:
    * at 100 TB the pair table is constructed lazily by the training
    * loader from exactly these columns; materializing it would square
    * the corpus for nothing. The only non-narrow op is the per-lang
    * `lead` window — partitioned by lang, ordered by doc_id, one
    * shuffle. Hard negatives (the quality upgrade) are s10's gate;
    * this one pins the pairing/accounting contract. */
  def t36ContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .withColumn("n_chunks",
        floor((col("n_tok") - 1L) / (ChunkTokens - Overlap)) + 1L)
      .withColumn("n_pos_pairs", greatest(col("n_chunks") - 1L, lit(0L)))
      .withColumn("neg_doc_id", coalesce(lead(col("doc_id"), 1).over(w), lit(-1L)))
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("lang"), col("n_chunks"), col("n_pos_pairs"),
        col("neg_doc_id"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t08_chunking"      -> t08Chunking _,
    "t09_deterministic_sample" -> t09DeterministicSample _,
    "t10_shard_packing" -> t10ShardPacking _,
    "t30_sequence_packing" -> t30SequencePacking _,
    "t36_contrastive_pairs" -> t36ContrastivePairs _,
    "t39_sharded_packing" -> t39ShardedPacking _,
  )

  val oracleSql: Map[String, String] = Map(
    "t36_contrastive_pairs" ->
      """WITH d AS (SELECT doc_id, lang,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_tok
                    FROM documents),
          c AS (SELECT doc_id, lang, ((n_tok - 1) // 24) + 1 AS n_chunks,
                 lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) nx
                FROM d)
         SELECT doc_id, lang, CAST(n_chunks AS BIGINT) AS n_chunks,
          CAST(greatest(n_chunks - 1, 0) AS BIGINT) AS n_pos_pairs,
          COALESCE(nx, -1) AS neg_doc_id
         FROM c WHERE doc_id < 50 ORDER BY doc_id""",
    "t08_chunking" ->
      """WITH d AS (SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tok
                    FROM documents),
          ch AS (SELECT doc_id, n_tok, unnest(range(0, ((n_tok - 1) // 24) * 24 + 1, 24)) AS start
                 FROM d),
          c AS (SELECT doc_id, n_tok, least(32, n_tok - start) AS chunk_len
                FROM ch WHERE n_tok - start > 0)
         SELECT doc_id, count(*) AS n_chunks, CAST(sum(chunk_len) AS BIGINT) AS chunk_tokens,
          CAST(max(n_tok) AS BIGINT) AS n_tok
         FROM c WHERE doc_id < 50 GROUP BY doc_id ORDER BY doc_id""",
    "t09_deterministic_sample" ->
      """SELECT lang, count(*) AS n_docs,
          CAST(sum(CASE WHEN substr(md5(text), 1, 2) < '40' THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         FROM documents GROUP BY lang ORDER BY lang""",
    "t10_shard_packing" ->
      """WITH d AS (SELECT doc_id, lang,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
                    FROM documents),
          c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                              ROWS UNBOUNDED PRECEDING) AS cum
                FROM d)
         SELECT lang, CAST((cum - 1) // 4000 AS BIGINT) AS shard_id,
          count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
         FROM c GROUP BY 1, 2 ORDER BY lang, shard_id""",
    "t39_sharded_packing" ->
      """WITH d AS (SELECT doc_id, lang, doc_id % 4 AS shard,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
                    FROM documents),
          c AS (SELECT *, COALESCE(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
                FROM d),
          s AS (SELECT lang, shard, n_tok,
                 CAST(start // 256 AS BIGINT) first_seq,
                 CAST((start + n_tok - 1) // 256 AS BIGINT) last_seq
                FROM c)
         SELECT lang, CAST(shard AS BIGINT) AS shard,
          CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
          count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning_docs
         FROM s GROUP BY lang, shard ORDER BY lang, shard""",
    "t30_sequence_packing" ->
      """WITH d AS (SELECT doc_id, lang,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
                    FROM documents),
          c AS (SELECT *, COALESCE(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
                FROM d),
          s AS (SELECT lang, n_tok,
                 CAST(start // 256 AS BIGINT) first_seq,
                 CAST((start + n_tok - 1) // 256 AS BIGINT) last_seq
                FROM c)
         SELECT lang, CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
          CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          floor((CAST(sum(last_seq - first_seq + 1) AS DOUBLE) / (max(last_seq) + 1)) * 10000.0 + 0.5) / 10000.0 AS avg_docs_per_seq,
          CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning_docs
         FROM s GROUP BY lang ORDER BY lang""",
  )
}
