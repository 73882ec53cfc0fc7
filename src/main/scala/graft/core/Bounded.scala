package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Driver-local materialization for DIFF-BOUNDED frames.
  *
  * The maintenance loops (g07/g08/st26 kNN, p13/p14/p15 chains,
  * st23/st25 streams) materialize small id/diff sets with
  * `localCheckpoint(true)` and then `broadcast(...)` them into several
  * consuming actions. That shape pays a hidden per-action tax: a
  * broadcast over an RDD-backed frame runs ONE SPARK JOB per consuming
  * query execution just to re-collect the build side (plus the
  * original checkpoint job, plus a count job when the caller needs the
  * cardinality). The r17 cost receipts price a local job at a fixed
  * ~80–100 ms of driver overhead, so a microbatch with 4 broadcast
  * consumers of 2 such frames burns ~1 s moving the SAME few thousand
  * rows to the SAME driver repeatedly.
  *
  * [[localize]] materializes the frame ONCE (one job) and rebuilds it
  * as a LocalRelation:
  *  - a broadcast of a LocalRelation builds driver-side with ZERO jobs
  *    (`LocalTableScanExec.executeCollect` never submits),
  *  - the cardinality is known without a count job,
  *  - non-broadcast consumers scan the local rows without touching the
  *    block manager, so there is no unpersist bookkeeping to leak.
  *
  * Scale guard (the r17 advice fix — the first cut collected BEFORE
  * checking the cap, so the guard bounded retention, not peak driver
  * memory): the one materializing job is a CAPPED collect — every task
  * ships at most maxRows+1 rows and counts the rest — so an over-cap
  * frame puts at most partitions×(maxRows+1) rows on the driver
  * transiently (never |df|), the exact count still comes back from the
  * same single job, and the fallback is the previous eager
  * localCheckpoint. Callers that KNOW a frame's cardinality bound
  * (a tracked store's `_rowcount` sidecar, a memoized fixture count)
  * pass it as `bound`: a known-over-cap frame then never collects at
  * all. */
object Bounded {

  def maxRows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.localizeMaxRows")
      .map(_.toInt).getOrElse(1 << 20)

  /** A materialized bounded frame: LocalRelation-backed when under the
    * cap (then `count` is free, `rows` holds the data for driver-side
    * folds, and [[release]] is a no-op), an eager localCheckpoint
    * otherwise (`rows` empty — consumers must go through `df`). */
  final case class Localized(df: DataFrame, count: Long, local: Boolean,
                             rows: Array[Row]) {
    def release(): Unit = if (!local) { df.unpersist(); () }
  }

  /** `df` as ONE task when `bound`, a caller-known upper bound on its
    * row count (a tracked layout's stored rows), is within the cap:
    * `coalesce(1)`, no shuffle. A single-partition child satisfies
    * every required distribution, so the windows, groupings, sorts
    * and aggregates planned above it run in one stage instead of a
    * shuffle each. None when the bound is unknown or over the cap. */
  def singleTask(df: DataFrame, bound: Option[Long]): Option[DataFrame] =
    bound.filter(_ <= maxRows(df.sparkSession)).map(_ => df.coalesce(1))

  /** Per-value row counts of a string column — a driver-side fold when
    * the frame is local, one aggregation job on the over-cap fallback
    * (where `rows` is empty and MUST NOT be folded over). */
  def countsBy(l: Localized, column: String): Map[String, Long] =
    if (l.local) {
      val i = l.df.schema.fieldIndex(column)
      l.rows.groupBy(_.getString(i)).map { case (k, v) => k -> v.length.toLong }
    } else {
      import org.apache.spark.sql.functions.{count, lit}
      l.df.groupBy(column).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  /** A re-PARALLELIZED view of a localized frame, for HEAVY row
    * transforms (tokenize / embed / PQ-encode). Feeding those a
    * LocalRelation serializes them twice over: `ConvertToLocalRelation`
    * folds deterministic projections over a LocalRelation INTO the
    * relation at optimization time — single driver thread, interpreted
    * (non-codegen) expression evaluation — and whatever survives runs
    * over the local scan's slices inside the consuming write job. The
    * r17 round shipped exactly that for the st23/st25 microbatches and
    * st25 ran ×2–2.9 slower at 32 cores (the r17 verdict's item 1).
    * This hands the already-collected rows back to the cluster as a
    * plain RDD scan — no shuffle, no extra job; the rows ship inside
    * the task closures — so per-row compute keeps whole-stage codegen
    * and every core. Use it ONLY for the heavy-transform input; branch
    * counts and broadcast build sides should stay on the LocalRelation
    * (zero-job broadcasts). Over-cap frames are already cluster-side
    * and come back unchanged. */
  def parallel(l: Localized): DataFrame =
    if (!l.local || l.rows.isEmpty) l.df
    else {
      val spark = l.df.sparkSession
      val slices = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, l.rows.length))
      spark.createDataFrame(
        spark.sparkContext.parallelize(l.rows.toIndexedSeq, slices), l.df.schema)
    }

  /** One partition's capped take: buffer at most `cap` rows, count them
    * all. The pure per-task kernel of [[cappedCollect]], split out so
    * BoundedSpec can pin the memory property (a task never buffers or
    * ships more than `cap` rows however long its partition runs). */
  private[core] def cappedPartition(it: Iterator[Row], cap: Int): (Array[Row], Long) = {
    val buf = new scala.collection.mutable.ArrayBuffer[Row]
    var n = 0L
    while (it.hasNext) {
      val r = it.next(); n += 1
      if (buf.length < cap) buf += r
    }
    (buf.toArray, n)
  }

  /** ONE job that either returns the frame's full row set (when its
    * true count is ≤ `max`) or detects over-cap with bounded driver
    * residency: every task ships at most `max + 1` rows, so the driver
    * transiently holds at most partitions×(max+1) rows — never |df| —
    * and the EXACT count comes back either way (tasks keep counting
    * past the cap). Returns (rows, count, truncated); rows is empty
    * when truncated. */
  private[core] def cappedCollect(df: DataFrame, max: Int): (Array[Row], Long, Boolean) = {
    val cap = max + 1
    val parts: Array[(Array[Row], Long)] = df.rdd
      .mapPartitions(it => Iterator.single(cappedPartition(it, cap)))
      .collect()
    val n = parts.iterator.map(_._2).sum
    if (n > max) (Array.empty[Row], n, true)
    else (parts.flatMap(_._1), n, false)
  }

  private def asLocal(spark: SparkSession, rows: Array[Row],
                      schema: org.apache.spark.sql.types.StructType,
                      n: Long): Localized =
    Localized(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema), n, local = true, rows)

  private def asCheckpoint(df: DataFrame, n: Long): Localized =
    Localized(df.localCheckpoint(true), n, local = false, rows = Array.empty)

  /** Materialize `df` driver-locally (one job; zero jobs when the
    * optimized plan is already a LocalRelation). See object doc for
    * why this is strictly cheaper than checkpoint+broadcast for
    * diff-bounded frames, and for the over-cap guard. `bound` is an
    * optional caller-known cardinality UPPER bound: when it exceeds
    * the cap the collect is skipped outright (checkpoint + one count
    * job instead — the rare at-scale path). */
  def localize(df: DataFrame, bound: Option[Long] = None): Localized = {
    val spark = df.sparkSession
    val max = maxRows(spark)
    if (bound.exists(_ > max)) {
      // known over-cap: never collect anything
      val ck = df.localCheckpoint(true)
      Localized(ck, ck.count(), local = false, rows = Array.empty)
    } else if (df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) {
      // already local (a slice of another localized frame): collect is
      // jobless, and the cap check is driver-side arithmetic
      val rows = df.collect()
      if (rows.length > max) asCheckpoint(df, rows.length.toLong)
      else asLocal(spark, rows, df.schema, rows.length.toLong)
    } else {
      val (rows, n, truncated) = cappedCollect(df, max)
      if (truncated) asCheckpoint(df, n)
      else asLocal(spark, rows, df.schema, n)
    }
  }
}
