package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetRows

/** Distributed quality-classifier training — the fasttext-style step
  * of an LLM curation pipeline, re-expressed as Spark-native
  * full-batch logistic regression. The label is the t15 rule
  * battery's pass/fail (in a real pipeline the teacher signal comes
  * from human ratings or a large model; the fixture's only
  * content-derived quality label is the rule battery, so it plays
  * the teacher) — the trained model DISTILLS the rule conjunction
  * into one linear scorer that ranks an unlabeled corpus at scan
  * speed, with smooth scores instead of a hard gate. The feature set
  * deliberately omits the r5 input (max token length), so the model
  * must generalize, not transcribe.
  *
  * Scale shape — the s08 k-means contract applied to SGD:
  *  - the feature frame is ONE narrow projection of the corpus
  *    (token count, mean token length, stopword ratio, type-token
  *    ratio — all codegen'd column expressions), cached for the
  *    iteration scans and released after the last;
  *  - each iteration is ONE partial-aggregating job: the margin
  *    w·x is a literal-weight column expression (no join, no
  *    broadcast — the weights ride in the plan the way kmeansScores'
  *    centroids do), and the gradient reduce carries d+1 scalars per
  *    partition to the driver, independent of corpus size;
  *  - driver state is the weight vector (d+1 doubles) and the
  *    K-row iteration trace. Nothing else leaves the executors.
  *
  * Determinism: per-row gradient/loss contributions are rounded
  * (Det.dround at 9 decimals) then DECIMAL-summed, so the learned
  * weights — and therefore every downstream score — are bit-identical
  * under any partitioning or merge order. QualityModelSpec pins
  * monotone loss descent, partitioning-independence, and that the
  * learned model actually separates the planted label. */
object QualityModel {

  /** Full-batch GD iterations for the t28 gate — enough for the
    * standardized problem to separate and the loss curve to flatten
    * visibly at the fixture scale. */
  val NumIters = 25

  /** Step size. Features are O(1)-scaled, so a unit step is stable. */
  val LearnRate = 1.0

  private val stopwords = Seq("the", "a", "of", "and", "is", "in", "to")

  /** Per-document features: bias, token count/100, mean token
    * length/10, stopword ratio, type-token ratio — plus the t15
    * teacher label y. One narrow pass; every column is a codegen'd
    * expression over the token array. */
  private[analytics] def features(spark: SparkSession, dir: String): DataFrame =
    featuresOf(Tables.documents(spark, dir), Seq("doc_id"))

  /** The same feature battery over ANY frame with a `text` column
    * (static table or arriving microbatch — every expression is a
    * stateless per-row map, so the projection streams unchanged),
    * keeping `keep` passthrough columns for downstream rollups. */
  private[analytics] def featuresOf(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val meanLen = length(concat_ws("", col("t"))).cast("double") / size(col("t"))
    val pass = size(col("t")) >= 20 &&
      meanLen >= 2.0 && meanLen <= 12.0 &&
      size(filter(col("t"), x => x.isin(stopwords: _*))) > 0 &&
      (size(array_distinct(col("t"))).cast("double") / size(col("t"))) >= 0.2 &&
      array_max(transform(col("t"), x => length(x))) <= 40
    docs
      .select(keep.map(col) :+ t.as("t"): _*)
      .select(keep.map(col) ++ Seq(
        when(pass, 1.0).otherwise(0.0).as("y"),
        lit(1.0).as("x0"),
        (size(col("t")).cast("double") / 100.0).as("x1"),
        (length(concat_ws("", col("t"))).cast("double") / size(col("t")) / 10.0).as("x2"),
        (size(filter(col("t"), x => x.isin(stopwords: _*))).cast("double") / size(col("t"))).as("x3"),
        (size(array_distinct(col("t"))).cast("double") / size(col("t"))).as("x4")): _*)
  }

  private val Dim = 5

  /** The deployable model: weights over standardized features plus the
    * standardization moments — everything scoring needs, nothing else.
    * `score` is a pure per-row column expression (literal weights, no
    * join, no UDF), so the same scorer drops into a batch scan or a
    * stateless streaming select unchanged. */
  case class QualityScorer(w: Array[Double], mu: Array[Double], sd: Array[Double]) {
    private def feature(j: Int): Column =
      if (j == 0) col("x0") else (col(s"x$j") - lit(mu(j))) / lit(sd(j))
    def margin: Column =
      (0 until Dim).map(j => lit(w(j)) * feature(j)).reduce(_ + _)
    /** σ(w·x), Det-rounded at 9 decimals so every downstream decimal
      * sum of scores is partitioning-independent. */
    def score: Column = Det.dround(lit(1.0) / (lit(1.0) + exp(-margin)), 9)
  }

  /** Train on a feature frame; returns (scorer over STANDARDIZED
    * features, per-iteration (loss, accuracy) trace). One extra
    * deterministic aggregate standardizes x1..x4 to zero mean / unit
    * variance first — full-batch GD on raw correlated features stalls
    * at the majority-class plateau (observed: accuracy pinned at the
    * base rate for any iteration budget), while the standardized
    * problem separates in a handful of steps. The moments are
    * decimal-summed and Det-rounded, so the standardization — and
    * therefore the whole training run — stays bit-identical under any
    * partitioning. The caller owns the frame; an uncached input is
    * cached for the iterations and released before return. */
  private[analytics] def train(feat: DataFrame, iters: Int = NumIters,
                               lr: Double = LearnRate): (QualityScorer, Seq[(Double, Double)]) = {
    val ownsCache = feat.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val f = if (ownsCache) feat.cache() else feat
    // per-feature mean and std (x0 is the bias: left as-is)
    val mAggs = (1 until Dim).flatMap(j => Seq(
      Det.sumDec9(Det.dround(col(s"x$j"), 9)),
      Det.sumDec9(Det.dround(col(s"x$j") * col(s"x$j"), 9)))) :+ count(lit(1))
    val mRow = f.agg(mAggs.head, mAggs.tail: _*).first()
    val nAll = mRow.getLong(2 * (Dim - 1)).toDouble
    val mu = new Array[Double](Dim); val sd = new Array[Double](Dim)
    mu(0) = 0.0; sd(0) = 1.0
    for (j <- 1 until Dim) {
      mu(j) = Det.droundD(mRow.getDouble(2 * (j - 1)) / nAll, 9)
      val ex2 = mRow.getDouble(2 * (j - 1) + 1) / nAll
      val v = math.max(ex2 - mu(j) * mu(j), 1e-12)
      sd(j) = Det.droundD(math.sqrt(v), 9)
    }
    def feature(j: Int): Column =
      if (j == 0) col("x0") else (col(s"x$j") - mu(j)) / sd(j)
    def margin(w: Array[Double]): Column =
      (0 until Dim).map(j => lit(w(j)) * feature(j)).reduce(_ + _)
    var w = Array.fill(Dim)(0.0)
    val trace = Seq.newBuilder[(Double, Double)]
    for (_ <- 0 until iters) {
      val p0 = lit(1.0) / (lit(1.0) + exp(-margin(w)))
      // clamp away from {0,1} so log never produces -Inf
      val p = least(greatest(p0, lit(1e-12)), lit(1.0) - lit(1e-12))
      val err = p - col("y")
      val aggs =
        (0 until Dim).map(j => Det.sumDec9(Det.dround(err * feature(j), 9))) ++ Seq(
          Det.sumDec9(Det.dround(-(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p)), 9)),
          sum(when((p > 0.5).cast("int") === col("y").cast("int"), 1L).otherwise(0L)),
          count(lit(1)))
      val r = f.agg(aggs.head, aggs.tail: _*).first()
      val n = r.getLong(Dim + 2).toDouble
      trace += ((r.getDouble(Dim) / n, r.getLong(Dim + 1) / n))
      w = w.zipWithIndex.map { case (wj, j) => wj - lr * r.getDouble(j) / n }
    }
    if (ownsCache) f.unpersist()
    (QualityScorer(w, mu, sd), trace.result())
  }

  /** TRAIN and persist the model as a parquet artifact at `out` — the
    * classifier's `_bpe_merges` analogue: production quality filters
    * are trained once and shipped as an artifact (a handful of
    * numbers), never re-learned by every scoring consumer. Two
    * sidecars: `model` (j, w, mu, sd — Dim rows) and `trace`
    * (iter, loss, accuracy — the training curve, for the t28 gate and
    * audits). */
  def writeQualityModel(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    val (m, trace) = train(features(spark, dir))
    (0 until Dim).map(j => (j, m.w(j), m.mu(j), m.sd(j)))
      .toDF("j", "w", "mu", "sd")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/model")
    trace.zipWithIndex
      .map { case ((loss, acc), i) =>
        (i + 1L, Det.droundD(loss, 9), Det.droundD(acc, 9)) }
      .toDF("iter", "loss", "accuracy")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/trace")
  }

  /** The scorer persisted by [[writeQualityModel]] — Dim rows, one
    * driver-side collect. */
  def readQualityModel(spark: SparkSession, out: String): QualityScorer = {
    val rows = ParquetRows.frame(spark, s"$out/model").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    require(rows.length == Dim, s"quality model artifact has ${rows.length} rows, want $Dim")
    QualityScorer(rows.map(_._2), rows.map(_._3), rows.map(_._4))
  }

  /** Per-corpus artifact registry (the BPE `mergesArtifact` pattern):
    * the first gate to need the model for `dir` trains it ONCE per JVM
    * and writes the artifact; every later consumer — t28's trace read,
    * st16's streaming scorer, the warm Bench pass — reads the tiny
    * parquet instead of re-running the 25-iteration GD loop. */
  private val modelArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[analytics] def modelArtifact(spark: SparkSession, dir: String): String =
    modelArtifacts.computeIfAbsent(dir, _ => {
      val out = graft.core.TempDirs.create("graft-quality").toString
      writeQualityModel(spark, dir, out)
      out
    })

  /** Artifact-backed scorer for a corpus (train-once-per-JVM). */
  private[analytics] def scorerFor(spark: SparkSession, dir: String): QualityScorer =
    readQualityModel(spark, modelArtifact(spark, dir))

  /** Score any documents frame with a trained scorer: the feature
    * projection + σ(w·x) as one stateless per-row select — identical
    * plan in batch and in a stream microbatch. */
  private[analytics] def scoreDocs(docs: DataFrame, m: QualityScorer,
                                   keep: Seq[String]): DataFrame =
    featuresOf(docs, keep).select(keep.map(col) :+ m.score.as("score"): _*)

  /** Per-source serving rollup: doc count, mean score (exact decimal
    * sum of the Det-rounded scores), pass count at the 0.5 gate — all
    * commutative aggregates, so the same expression runs as a
    * |sources|-bounded streaming aggregation or a batch groupBy with
    * bit-identical results. */
  private[analytics] def qualityRollup(scored: DataFrame): DataFrame =
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        Det.dround(Det.sumDec9(col("score")) / count(lit(1)), 6).as("mean_score"),
        sum(when(col("score") > 0.5, 1L).otherwise(0L)).as("n_pass"))

  /** Quality-classifier training gate: the per-iteration loss /
    * accuracy curve (loss BEFORE each update, so row 1 is the
    * w=0 baseline ln 2 ≈ 0.6931), read from the persisted artifact's
    * trace sidecar — training runs once per corpus per JVM however
    * many gates consume the model. Rows-only (iterative training
    * isn't SQL-expressible); Verify emits `t28_loss_decreasing` and
    * `t28_final_acc` invariants off this dump, and QualityModelSpec
    * pins the semantics. */
  def t28QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    ParquetRows.frame(spark, s"${modelArtifact(spark, dir)}/trace").orderBy("iter")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t28_quality_classifier" -> t28QualityClassifier _)

  val oracleSql: Map[String, String] = Map.empty
}
