package graft.core

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{SparkTestSession, TableStore}

/** The determinism contract [[Trace]] sells to the bench: for the same
  * work on the same input, the job/stage/task counts are IDENTICAL
  * run-to-run — that exactness is what lets Bench flag a one-job change
  * as a plan regression with no weather partition. Beside the counts,
  * the wall-time split: jobs that run concurrently count once, and a
  * block that runs no job has no job time. */
class TraceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def shuffleWork(): Long = {
    import org.apache.spark.sql.functions._
    spark.range(0, 10000, 1, 4)
      .groupBy((org.apache.spark.sql.functions.col("id") % 17).as("k"))
      .agg(sum("id").as("s"), count(lit(1)).as("n"))
      .filter(col("s") > 0)
      .count()
  }

  private def cost(f: => Any): Trace.Cost = Trace.measure(spark)(f)._2

  test("identical work yields identical job/stage/task deltas; bytes flow through the shuffle counters") {
    Trace.install(spark)
    // prime once: first execution may pay one-time classloading paths
    // that change nothing structural but could in principle lazy-init
    // an extra action somewhere outside the measured query
    shuffleWork()

    val a = cost(shuffleWork())
    val b = cost(shuffleWork())
    assert(a.jobs > 0, s"no jobs observed: $a")
    assert(a.tasks > 0 && a.stages > 0, s"no stages/tasks observed: $a")
    // groupBy over 4 input partitions must move bytes through the
    // shuffle on both the write and read side
    assert(a.shuffleWriteB > 0 && a.shuffleReadB > 0, s"no shuffle bytes: $a")
    assert(a.jobs == b.jobs, s"job delta not deterministic: $a vs $b")
    assert(a.stages == b.stages, s"stage delta not deterministic: $a vs $b")
    assert(a.tasks == b.tasks, s"task delta not deterministic: $a vs $b")
  }

  test("install is idempotent: a second install does not double-count") {
    Trace.install(spark)
    val once = cost(shuffleWork())
    Trace.install(spark) // must be a no-op
    val after = cost(shuffleWork())
    assert(once.jobs == after.jobs,
      s"second install changed the job delta: $once vs $after")
  }

  test("snapshot json round-trips through Jackson with the receipt's field names") {
    val snap = Trace.Cost(3, 7, 42, 1024, 2048, 4096)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(snap.json)
    assert(n.path("jobs").asLong() == 3)
    assert(n.path("stages").asLong() == 7)
    assert(n.path("tasks").asLong() == 42)
    assert(n.path("shuffle_read_b").asLong() == 1024)
    assert(n.path("shuffle_write_b").asLong() == 2048)
    assert(n.path("input_b").asLong() == 4096)
  }

  test("concurrent appends over several tables count each job once in job_s") {
    import org.apache.spark.sql.functions.lit
    val db = new TableStore(spark, TempDirs.create("graft-trace-append").toString)
    val rows = spark.range(1).select(lit("p").as("project"), lit("e").as("experiment"),
      lit("""{"v": 1}""").as("json"), lit(null).cast("binary").as("blob"))
    def appendCost(tables: Int): Trace.Cost =
      cost(TableStore.concurrently(Seq("menu", "config", "statistics").take(tables))(db.bulkAppend(_, rows)))
    try {
      appendCost(3) // prime the write path
      val one = appendCost(1)
      val three = appendCost(3)
      assert(one.jobs > 0, s"an append ran no job: $one")
      assert(three.jobs == 3 * one.jobs, s"one table: $one, three tables: $three")
      assert(three.jobList.size == three.jobs)
      assert(three.jobList.forall(_.site.startsWith("graft.store.TableStore")), three.jobList)
      assert(three.jobS > 0 && three.jobS <= three.wallS, three)
      assert(three.planS + three.jobS <= three.wallS, three)
    } finally db.close()
  }

  test("localize of a LocalRelation slice runs no job and has no job time") {
    val base = Bounded.localize(spark.range(0, 20, 1, 2).toDF("id"))
    val c = cost(Bounded.localize(base.df.filter(col("id") % 2 === 0)))
    assert(c.jobs == 0 && c.stages == 0 && c.tasks == 0, c)
    assert(c.jobList.isEmpty && c.jobS == 0.0, c)
  }

  // a query with enough planning (CTEs, a window, a join) to read above 0
  private val planHeavySql =
    """WITH a AS (SELECT id % 7 AS k, id AS v FROM range(0, 2000, 1, 2)),
      |     b AS (SELECT k, sum(v) AS s, count(*) AS n FROM a GROUP BY k),
      |     w AS (SELECT k, s, rank() OVER (ORDER BY s DESC) AS r FROM b)
      |SELECT w.k, w.r, b.n FROM w JOIN b ON w.k = b.k WHERE w.r <= 5
      |ORDER BY w.r""".stripMargin

  test("a SQL action's planning shows as plan_s") {
    val c = cost(spark.sql(planHeavySql).collect())
    assert(c.jobs > 0, c)
    assert(c.planS > 0, c)
    assert(c.planS + c.jobS <= c.wallS, c)
  }

  test("planning on a newSession() clone shows as plan_s") {
    // the streaming drives plan every micro-batch's actions on a clone
    // with its own listener manager; the shared bus still sees them
    val clone = spark.newSession()
    val c = cost(clone.sql(planHeavySql).collect())
    assert(c.jobs > 0, c)
    assert(c.planS > 0, c)
    assert(c.planS + c.jobS <= c.wallS, c)
  }
}
