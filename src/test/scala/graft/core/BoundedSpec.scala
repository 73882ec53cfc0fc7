package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** The r18 localize contract (r17 verdict item 3 / advice item 1):
  * an OVER-CAP frame never fully materializes on the driver — the one
  * probing job ships at most cap rows per task — while the under-cap
  * path keeps the exact r17 shape (LocalRelation plan, rows retained
  * for driver-side folds, exact count). Plus the [[Bounded.parallel]]
  * escape hatch for heavy row transforms. */
class BoundedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withCap[A](cap: Int)(f: => A): A = {
    spark.conf.set("spark.graft.localizeMaxRows", cap.toString)
    try f finally spark.conf.unset("spark.graft.localizeMaxRows")
  }

  test("under-cap: LocalRelation plan, rows kept, exact count (the r17 shape)") {
    val df = spark.range(0, 100, 1, 4).select(col("id"), (col("id") % 7).as("k"))
    val l = Bounded.localize(df)
    assert(l.local && l.count == 100 && l.rows.length == 100)
    assert(l.df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "under-cap localize must serve a LocalRelation")
    assert(l.df.collect().map(_.getLong(0)).sorted.sameElements(0L until 100L))
  }

  test("over-cap: exact count, empty rows, checkpoint-backed fallback") {
    withCap(10) {
      val df = spark.range(0, 1000, 1, 4).toDF("id")
      val l = Bounded.localize(df)
      assert(!l.local, "an over-cap frame must not be driver-local")
      assert(l.count == 1000, "the capped probe must still return the exact count")
      assert(l.rows.isEmpty, "over-cap rows must never be retained")
      assert(l.df.count() == 1000)
      l.release()
    }
  }

  test("a task never buffers more than cap rows however long its partition runs") {
    // the per-task kernel of the capped collect, driven directly: a
    // 100k-row partition against cap 11 buffers exactly 11 rows while
    // counting all 100k — the memory property that makes the over-cap
    // guard a real bound on peak driver (and task) residency
    val it = Iterator.tabulate(100000)(i => Row(i.toLong))
    val (rows, n) = Bounded.cappedPartition(it, 11)
    assert(rows.length == 11 && n == 100000L)
  }

  test("a caller-known over-cap bound skips the collect entirely") {
    withCap(10) {
      val df = spark.range(0, 1000, 1, 1).toDF("id")
      // prime classloading paths so the measured deltas are structural
      Bounded.localize(df, bound = Some(1000L)).release()
      val (l, cost) = Trace.measure(spark)(Bounded.localize(df, bound = Some(1000L)))
      assert(!l.local && l.count == 1000 && l.rows.isEmpty)
      // checkpoint + count only — no probing collect job ever ran
      assert(cost.jobs == 2,
        s"known-over-cap localize must run exactly 2 jobs, got $cost")
      l.release()
    }
  }

  test("an under-cap bound changes nothing: the frame still localizes") {
    val df = spark.range(0, 50, 1, 2).toDF("id")
    val l = Bounded.localize(df, bound = Some(50L))
    assert(l.local && l.count == 50 && l.rows.length == 50)
  }

  test("localize of an already-local slice stays jobless and re-localizes") {
    val base = Bounded.localize(spark.range(0, 20, 1, 2).toDF("id"))
    val (l, cost) = Trace.measure(spark)(Bounded.localize(base.df.filter(col("id") % 2 === 0)))
    assert(l.local && l.count == 10)
    assert(cost.jobs == 0,
      s"localize of a LocalRelation slice must run zero jobs, got $cost")
  }

  test("parallel: same rows, cluster-side plan, spread over slices") {
    val df = spark.range(0, 200, 1, 3)
      .select(col("id"), concat(lit("t"), col("id")).as("s"))
    val l = Bounded.localize(df)
    val par = Bounded.parallel(l)
    assert(!par.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "parallel must hand back a cluster-side frame, not a LocalRelation")
    assert(par.rdd.getNumPartitions > 1,
      "parallel must spread the rows over more than one slice")
    // a heavy-ish deterministic projection over the parallel frame
    // computes the same bytes as over the original frame (the st25/st23
    // equivalence: re-parallelizing the transform input changes nothing
    // about what it computes)
    def tf(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), xxhash64(col("s"), col("id")).as("h"))
        .orderBy("id").collect().toSeq
    assert(tf(par) == tf(df))
    // over-cap localize hands back the checkpoint unchanged
    withCap(10) {
      val over = Bounded.localize(spark.range(0, 100, 1, 2).toDF("id"))
      assert(Bounded.parallel(over) eq over.df)
      over.release()
    }
  }
}
