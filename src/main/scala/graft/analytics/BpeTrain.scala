package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetRows

/** Distributed BPE merge learning (Sennrich et al. 2016) — the
  * tokenizer-training step of an LLM data pipeline: learn the first K
  * byte-pair merges of the corpus, exactly, with the corpus touched
  * ONCE.
  *
  * Scale shape — the reason this is feasible at 100 TB: classic BPE
  * trains on the word-frequency table, not the corpus. The single
  * corpus pass is a partial-aggregating groupBy down to distinct
  * (word, freq) rows (map-side combine bounds the shuffle by
  * per-partition vocabulary, not token count); every Lloyd-style
  * iteration after that runs over the |vocab|-row table. Per
  * iteration:
  *  - adjacent-pair counting is a narrow higher-order transform +
  *    one partial-aggregating groupBy (pairs per word ≤ symbols−1,
  *    and the pair space is bounded by the evolving symbol
  *    vocabulary);
  *  - the argmax pair is `orderBy(count desc, pair asc).limit(1)` —
  *    Spark plans TakeOrderedAndProject, a per-partition top-1
  *    merged on the driver, never a full sort shuffle;
  *  - the merge itself is a left-to-right greedy fold
  *    (`aggregate` higher-order function); each iteration's symbol
  *    table is eagerly `localCheckpoint`ed — materialized AND
  *    lineage-truncated — so iteration k's plan never nests its k
  *    predecessors (cache-on-cache would, and Catalyst's per-action
  *    plan handling grows superlinearly in that nesting depth).
  * Driver state is exactly the learned merge table (K rows) — the
  * same bounded-driver-state contract as s08's k-means.
  *
  * Determinism: pair counts are integer sums (exact, associative);
  * ties break lexicographically on (left, right) — the result is
  * bit-identical under any partitioning, which is what lets the
  * Verify invariant compare it against a single-node reference
  * ([[referenceMerges]]) exactly.
  */
object BpeTrain {

  /** Merges learned by the t27 gate — enough to see real structure
    * (multi-char subwords emerge) while keeping the gate cheap. */
  val NumMerges = 20

  /** End-of-word marker symbol (kept distinct from any 1-char
    * symbol so merged subwords never collide with raw text). */
  private val Eow = "</w>"

  /** Greedy left-to-right application of one merge (a,b)→ab over a
    * symbol array — the standard BPE apply order, as a codegen'd
    * fold (no UDF). "aaa" under (a,a) becomes ["aa","a"]: a freshly
    * merged element never re-merges within the same pass. */
  private def applyMerge(symbols: Column, a: String, b: String): Column =
    aggregate(symbols, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
           element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Learn `k` merges from a (word, freq) vocabulary frame. Returns
    * the merge table rows (rank, left, right, pair frequency at merge
    * time). Stops early when no pair occurs at least twice. */
  private[analytics] def learnMerges(vocab: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    // split(_, "") keeps a trailing "" (Java split limit -1) — drop it
    val base = vocab.select(col("freq"),
      concat(array_remove(split(col("word"), ""), ""), array(lit(Eow))).as("syms"))
    // localCheckpoint TRUNCATES lineage each iteration — with plain
    // cache-on-cache, iteration k's plan nests all k predecessors'
    // InMemoryRelations and Spark's plan-string/optimizer work grows
    // superlinearly (observed: minutes by merge ~15). The checkpointed
    // table is vocab-sized, so executor storage stays bounded and the
    // ContextCleaner reclaims dropped iterations.
    var cur = base.localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var done = false
    var rank = 1
    while (rank <= k && !done) {
      val top = cur
        .select(col("freq"), explode(
          transform(slice(col("syms"), lit(1), size(col("syms")) - 1),
            (x, i) => struct(x.as("left"), element_at(col("syms"), i + 2).as("right")))).as("p"))
        .groupBy(col("p.left").as("left"), col("p.right").as("right"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("left").asc, col("right").asc)
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2L) done = true
      else {
        val a = top(0).getString(0); val b = top(0).getString(1)
        val cnt = top(0).getLong(2)
        merges += ((rank, a, b, cnt))
        val next = cur.select(col("freq"), applyMerge(col("syms"), a, b).as("syms"))
          .localCheckpoint(true) // eager: materialized now, lineage cut
        cur.unpersist()
        cur = next
        rank += 1
      }
    }
    cur.unpersist()
    merges.result()
  }

  /** Single-node reference implementation — the parity oracle for the
    * spec and the Verify invariant (DuckDB cannot express the loop). */
  private[graft] def referenceMerges(wordFreq: Seq[(String, Long)], k: Int): Seq[(Int, String, String, Long)] = {
    var words: Seq[(List[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toList :+ Eow, f) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var done = false
    var rank = 1
    while (rank <= k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case Some(((a, b), cnt)) if cnt >= 2L =>
          merges += ((rank, a, b, cnt))
          words = words.map { case (syms, f) =>
            val out = scala.collection.mutable.ListBuffer.empty[String]
            syms.foreach { x =>
              if (out.nonEmpty && out.last == a && x == b)
                out(out.length - 1) = a + b
              else out += x
            }
            (out.toList, f)
          }
          rank += 1
        case _ => done = true
      }
    }
    merges.result()
  }

  /** The corpus's lowercased whitespace (word, freq) vocabulary — the
    * only corpus-sized pass in the whole train/apply story. */
  private[analytics] def vocabOf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(lower(col("tok")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** TRAIN the tokenizer and persist the K-row merge table as a
    * parquet artifact at `out` — the tokenizer's `_codebook` analogue:
    * production tokenizers are trained once and shipped as an
    * artifact, never re-learned by every consumer. Schema:
    * (rank bigint, left, right, freq). */
  def writeBpeMerges(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    learnMerges(vocabOf(spark, dir), NumMerges)
      .toDF("rank", "left", "right", "freq")
      .select(col("rank").cast("bigint"), col("left"), col("right"), col("freq"))
      .coalesce(1).write.mode("overwrite").parquet(out)
  }

  /** The merge table persisted by [[writeBpeMerges]] — K rows, one
    * driver-side collect, rank-sorted. */
  def readBpeMerges(spark: SparkSession, out: String): Seq[(Long, String, String, Long)] =
    ParquetRows.frame(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)

  /** Per-corpus artifact registry: the first gate to need the merge
    * table for `dir` trains it ONCE per JVM and writes the artifact;
    * every later consumer (t29's encode, a second t27 run, the warm
    * Bench pass) reads the K-row parquet instead of re-running the
    * 20-iteration learn loop. Process-scoped like the fixtures it
    * indexes; a production pipeline passes an explicit artifact path. */
  private val mergeArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[analytics] def mergesArtifact(spark: SparkSession, dir: String): String =
    mergeArtifacts.computeIfAbsent(dir, _ => {
      val out = graft.core.TempDirs.create("graft-bpe")
        .resolve("_bpe_merges").toString
      writeBpeMerges(spark, dir, out)
      out
    })

  /** BPE merge-learning gate: the first [[NumMerges]] merges of the
    * lowercased whitespace vocabulary, with each pair's corpus
    * frequency at merge time — trained via the artifact path, so the
    * learn loop runs once per corpus per JVM however many gates
    * consume the table. Rows-only (iterative training isn't
    * SQL-expressible); the Verify invariant `t27_parity_singlenode`
    * re-learns the table single-node from the same fixture and
    * requires exact equality (which also pins the artifact round
    * trip). */
  def t27BpeMerges(spark: SparkSession, dir: String): DataFrame =
    ParquetRows.frame(spark, mergesArtifact(spark, dir)).orderBy("rank")

  /** Canonical BPE ENCODE of one word under a learned merge table:
    * start from chars + [[Eow]], repeatedly merge the present pair
    * with the LOWEST rank (left-to-right within a pass) until no
    * learned pair remains — the standard rank-priority apply order
    * (GPT-2 style), shared verbatim by the distributed encoder and
    * the parity invariant. Pure function → deterministic anywhere. */
  private[graft] def encodeWord(word: String, ranks: Map[(String, String), Int]): List[String] = {
    var syms = word.map(_.toString).toList :+ Eow
    var done = false
    while (!done && syms.lengthCompare(1) > 0) {
      val present = syms.zip(syms.tail).flatMap(p => ranks.get(p).map(r => (r, p)))
      if (present.isEmpty) done = true
      else {
        val (_, (a, b)) = present.minBy(_._1)
        val out = scala.collection.mutable.ListBuffer.empty[String]
        syms.foreach { x =>
          if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
          else out += x
        }
        syms = out.toList
      }
    }
    syms
  }

  /** BPE encoding gate — the APPLY step that completes t27's training
    * story: tokenize the corpus under the learned merge table and
    * report the per-source compression it buys. The expensive part
    * never touches the corpus: encoding runs once per DISTINCT word
    * (`mapPartitions` over the vocab table with the K-row merge table
    * as a task literal — genuine per-partition imperative logic, the
    * documented mapPartitions exception), and per-source accounting
    * joins the (source, word, count) table — bounded by |sources|×|vocab|
    * — against those encoded lengths; AQE broadcasts the vocab side
    * when it fits. Rows-only (the merge loop isn't SQL-expressible);
    * Verify's `t29_parity_singlenode` invariant re-encodes the corpus
    * single-node with the same [[encodeWord]] and requires equality,
    * which pins the distributed word-split/join plumbing. */
  def t29BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the merge table comes from the persisted artifact — a K-row
    // parquet read, never a re-run of the 20-iteration learn loop
    val ranks = readBpeMerges(spark, mergesArtifact(spark, dir))
      .map { case (rank, a, b, _) => (a, b) -> rank.toInt }.toMap
    val sourceWords = Tables.documents(spark, dir)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("source"), lower(col("tok")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("n"))
    val encoded = sourceWords.select("word").distinct().as[String]
      .mapPartitions { it =>
        it.map(w => (w, encodeWord(w, ranks).length.toLong, w.length.toLong))
      }.toDF("word", "n_sym", "n_chars")
    sourceWords.join(encoded, "word")
      .groupBy("source")
      .agg(sum(col("n")).as("n_words"),
           sum(col("n") * col("n_sym")).as("n_symbols"),
           Det.dround(sum(col("n") * col("n_sym")).cast("double") /
                      sum(col("n")), 4).as("symbols_per_word"),
           Det.dround(sum(col("n") * col("n_chars")).cast("double") /
                      sum(col("n") * col("n_sym")), 4).as("chars_per_symbol"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t27_bpe_merges" -> t27BpeMerges _,
    "t29_bpe_encode" -> t29BpeEncode _)

  val oracleSql: Map[String, String] = Map.empty
}
