package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetRows

/** Distributed Unigram-LM tokenizer training (Kudo 2018, the
  * SentencePiece unigram model) — the other major tokenizer family
  * next to BPE (t27/t29): instead of greedy merges, keep a piece
  * vocabulary with a probability per piece and segment each word by
  * Viterbi under the unigram likelihood; training is EM over the
  * piece probabilities followed by pruning to the target size.
  *
  * Scale shape — BPE's train-small contract, kept exactly:
  *  - the corpus is touched ONCE, by the same partial-aggregating
  *    (word, freq) vocabulary pass BPE uses ([[BpeTrain.vocabOf]]);
  *  - seed-candidate extraction is one pass over the |vocab| table
  *    (all substrings ≤ [[SeedMaxLen]] as a nested higher-order
  *    transform, exact long-sum scoring, TakeOrderedAndProject cut —
  *    never a full sort);
  *  - each EM iteration is ONE job over the |vocab| table: the piece
  *    log-probs ride into `mapPartitions` as a task literal (like
  *    t29's merge table), each word is Viterbi-segmented, and the
  *    piece-usage counts partial-aggregate down to ≤ |pieces| rows.
  *    Driver state is the piece table — never words, never corpus.
  *
  * Deviation from full SentencePiece, documented: pruning keeps the
  * top-[[VocabSize]] pieces by probability (chars always kept for
  * coverage) instead of the likelihood-loss ranking, and EM runs a
  * fixed [[EmIters]] rounds — the structure (seed → EM → prune →
  * final E-step) is the real algorithm; the simplifications keep the
  * gate cheap and exactly reproducible.
  *
  * Determinism: occurrence scores and usage counts are exact long
  * sums; all tie-breaks are lexicographic; Viterbi prefers the longer
  * trailing piece on exact score ties; the M-step math is shared
  * verbatim with the single-node reference — so the Verify invariant
  * `t33_parity_singlenode` can require EXACT equality, the same
  * contract t27/t29 carry. */
object UnigramTrain {

  val SeedMaxLen = 6
  val SeedSize = 200 // multi-char candidates entering EM
  val EmIters = 3
  val VocabSize = 96 // final pieces incl. single chars

  /** Viterbi segmentation of one word under piece log-probs: maximize
    * Σ logp(piece). Ties prefer the longer trailing piece (l iterates
    * ascending; `>=` replaces), then earlier split structure — fully
    * deterministic. Total because every single char is in the table. */
  private[graft] def viterbi(word: String, logp: Map[String, Double],
                             maxLen: Int): List[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxLen, i)) {
        val piece = word.substring(i - l, i)
        logp.get(piece) match {
          case Some(lp) if best(i - l) + lp >= best(i) =>
            best(i) = best(i - l) + lp
            back(i) = l
          case _ =>
        }
        l += 1
      }
      i += 1
    }
    require(best(n) > Double.NegativeInfinity, s"word '$word' not segmentable")
    var out = List.empty[String]
    var p = n
    while (p > 0) { out = word.substring(p - back(p), p) :: out; p -= back(p) }
    out
  }

  /** Shared M-step: usage counts → log-probs. Zero-usage pieces (the
    * coverage chars nothing currently needs) get a 0.5-count floor so
    * segmentation stays total; identical math on both the distributed
    * and reference paths. */
  private[graft] def logProbs(usage: Map[String, Long]): Map[String, Double] = {
    val total = usage.values.sum.toDouble
    usage.map { case (p, u) =>
      p -> math.log(if (u > 0) u.toDouble / total else 0.5 / total)
    }
  }

  /** Shared seed→final driver loop, parameterized by the E-step
    * (usage counting) so the distributed and single-node paths share
    * every piece of driver math and differ ONLY in where the word
    * table lives. `countUsage(logp)` returns freq-weighted piece-use
    * counts over the whole word table. */
  private[graft] def emLoop(seed: Seq[(String, Long)],
                            countUsage: Map[String, Double] => Map[String, Long])
      : Seq[(Long, String, Long, Double)] = {
    val chars = seed.filter(_._1.length == 1).map(_._1).toSet
    val totalScore = seed.map(_._2).sum.toDouble
    var logp = seed.map { case (p, s) => p -> math.log(s / totalScore) }.toMap
    for (_ <- 0 until EmIters) {
      val usage = countUsage(logp)
      // drop non-char pieces EM stopped using; chars stay for coverage
      val kept = logp.keySet.filter(p => chars(p) || usage.getOrElse(p, 0L) > 0)
      logp = logProbs(kept.map(p => p -> usage.getOrElse(p, 0L)).toMap)
    }
    // prune to VocabSize: all chars + top multi-char by (prob, piece)
    val multi = logp.filterNot(p => chars(p._1)).toSeq
      .sortBy { case (p, lp) => (-lp, p) }
      .take(math.max(0, VocabSize - chars.size)).map(_._1)
    val finalSet = chars ++ multi
    val finalUsage = countUsage(
      logp.view.filterKeys(finalSet).toMap)
    val finalLogp = logProbs(finalSet.map(p => p -> finalUsage.getOrElse(p, 0L)).toMap)
    finalSet.toSeq
      .map(p => (p, finalUsage.getOrElse(p, 0L), finalLogp(p)))
      .sortBy { case (p, _, lp) => (-lp, p) }
      .zipWithIndex
      .map { case ((p, u, lp), i) => (i + 1L, p, u, Det.droundD(lp, 6)) }
  }

  /** Distributed seed candidates: every substring of length ≤
    * [[SeedMaxLen]] of every vocab word, scored by exact
    * freq·occurrences·length long sums; top [[SeedSize]] multi-char
    * pieces (TakeOrderedAndProject) plus ALL single chars. */
  private[analytics] def seedCandidates(vocab: DataFrame): Seq[(String, Long)] = {
    val subs = vocab
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
           |  i -> transform(sequence(i, least(length(word), i + ${SeedMaxLen - 1})),
           |         j -> substring(word, i, j - i + 1))))""".stripMargin)).as("piece"))
      .groupBy("piece")
      .agg(sum(col("freq") * length(col("piece"))).as("score"))
    val chars = subs.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multi = subs.filter(length(col("piece")) > 1)
      .orderBy(col("score").desc, col("piece").asc)
      .limit(SeedSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    (chars ++ multi).sortBy { case (p, s) => (-s, p) }.toSeq
  }

  /** Distributed E-step: ONE job over the |vocab| word table — the
    * log-prob table rides in as a task literal, each word segments
    * once, and usage partial-aggregates to ≤ |pieces| rows. */
  private def distributedUsage(vocab: DataFrame)(logp: Map[String, Double])
      : Map[String, Long] = {
    import vocab.sparkSession.implicits._
    val lp = logp // task literal
    vocab.select(col("word"), col("freq")).as[(String, Long)]
      .mapPartitions(_.flatMap { case (w, f) =>
        viterbi(w, lp, SeedMaxLen).map(piece => (piece, f))
      })
      .toDF("piece", "n")
      .groupBy("piece").agg(sum("n").as("usage"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
  }

  /** Train on a corpus: one vocabulary pass, then vocab-table EM. */
  private[analytics] def learnVocab(spark: SparkSession, dir: String)
      : Seq[(Long, String, Long, Double)] = {
    val vocab = BpeTrain.vocabOf(spark, dir).cache()
    try emLoop(seedCandidates(vocab), distributedUsage(vocab))
    finally vocab.unpersist()
  }

  /** Single-node reference — the parity oracle for the spec and the
    * Verify invariant: same [[emLoop]], same [[viterbi]], word table
    * in memory. */
  private[graft] def referenceVocab(wordFreq: Seq[(String, Long)])
      : Seq[(Long, String, Long, Double)] = {
    def seed: Seq[(String, Long)] = {
      val scores = scala.collection.mutable.Map.empty[String, Long]
      wordFreq.foreach { case (w, f) =>
        for (i <- 0 until w.length; l <- 1 to math.min(SeedMaxLen, w.length - i)) {
          val p = w.substring(i, i + l)
          scores(p) = scores.getOrElse(p, 0L) + f * l
        }
      }
      val chars = scores.filter(_._1.length == 1).toSeq
      val multi = scores.filter(_._1.length > 1).toSeq
        .sortBy { case (p, s) => (-s, p) }.take(SeedSize)
      (chars ++ multi).sortBy { case (p, s) => (-s, p) }
    }
    def usage(logp: Map[String, Double]): Map[String, Long] = {
      val u = scala.collection.mutable.Map.empty[String, Long]
      wordFreq.foreach { case (w, f) =>
        viterbi(w, logp, SeedMaxLen).foreach(p => u(p) = u.getOrElse(p, 0L) + f)
      }
      u.toMap
    }
    emLoop(seed, usage)
  }

  /** TRAIN and persist the piece table as a parquet artifact —
    * (rank, piece, usage, logp), the unigram twin of `_bpe_merges`. */
  def writeUnigramVocab(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    learnVocab(spark, dir).toDF("rank", "piece", "usage", "logp")
      .coalesce(1).write.mode("overwrite").parquet(out)
  }

  private val vocabArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[analytics] def vocabArtifact(spark: SparkSession, dir: String): String =
    vocabArtifacts.computeIfAbsent(dir, _ => {
      val out = graft.core.TempDirs.create("graft-unigram")
        .resolve("_unigram_vocab").toString
      writeUnigramVocab(spark, dir, out)
      out
    })

  /** t33 gate: the trained unigram piece table, via the artifact
    * path (train once per corpus per JVM). Rows-only; Verify emits
    * `t33_parity_singlenode`. */
  def t33UnigramVocab(spark: SparkSession, dir: String): DataFrame =
    ParquetRows.frame(spark, vocabArtifact(spark, dir)).orderBy("rank")

  /** t34 gate: ENCODE the corpus with the trained unigram model and
    * report per-source compression stats — t29's shape, so the two
    * tokenizer families are directly comparable on the same corpus
    * (pieces/word vs BPE's symbols/word). Segmentation runs once per
    * DISTINCT (source, word) via the vocab-bounded count table; the
    * piece table rides in as a task literal. */
  def t34UnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = ParquetRows.frame(spark, vocabArtifact(spark, dir)).collect()
      .map(r => (r.getString(1), r.getDouble(3)))
    val logp = rows.toMap
    val srcWord = Tables.documents(spark, dir)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("source"), lower(col("tok")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("n"))
    val enc = srcWord.as[(String, String, Long)]
      .mapPartitions { it =>
        val lp = logp
        it.map { case (src, w, n) =>
          (src, n, n * viterbi(w, lp, SeedMaxLen).length.toLong, n * w.length.toLong)
        }
      }
      .toDF("source", "n_words", "n_pieces", "n_chars")
    enc.groupBy("source")
      .agg(sum("n_words").as("n_words"), sum("n_pieces").as("n_pieces"),
        Det.dround(sum("n_pieces") / sum("n_words"), 4).as("pieces_per_word"),
        Det.dround(sum("n_chars") / sum("n_pieces"), 4).as("chars_per_piece"))
      .select("source", "n_words", "n_pieces", "pieces_per_word", "chars_per_piece")
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t33_unigram_vocab"  -> t33UnigramVocab _,
    "t34_unigram_encode" -> t34UnigramEncode _,
  )

  /** Iterative EM training isn't SQL-expressible → rows-only +
    * exact single-node-parity invariants. */
  val oracleSql: Map[String, String] = Map.empty
}
