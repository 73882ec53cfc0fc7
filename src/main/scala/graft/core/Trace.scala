package graft.core

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark cost of a block of driver code: job, stage, task and byte
  * counts, and its wall time split into planning, running jobs and the
  * driver's gaps between them.
  *
  * The counts are weather-immune. Timings on a shared box carry ±15%
  * run-to-run noise, so a small structural regression hides inside the
  * noise until it compounds (the r16 `count()`-per-append tax, one
  * extra job per maintained append, was caught only by a timing diff
  * that happened to land in a calm window). For a deterministic gate on
  * fixed input the job and stage counts are the same every warm pass,
  * so a +1 is a plan change by construction.
  *
  * One listener pair is installed per JVM: a `SparkListener` on the
  * shared bus and a `QueryExecutionListener` on the first measured
  * session. [[measure]] drains the bus before and after the block, so
  * the counts hold every event of the block's finished work, and
  * neither drain sits inside the timed region.
  *
  * Attribution needs no job tagging, and that is a requirement on the
  * caller: measure one block at a time, from one thread, and start no
  * Spark work on other threads meanwhile unless it belongs to the
  * block. Every event between the two drains is charged to the block,
  * including jobs the block runs concurrently itself
  * (`TableStore.eachTable`, futures inside a gate). `job_s` is the
  * union of those jobs' intervals, so concurrent jobs count once, and
  * `plan_s` is planning time outside any running job, so
  * `plan_s + job_s <= wall_s` and `gap_s` is the rest. Planning is
  * seen for Dataset actions of the first measured session only;
  * streaming micro-batches, which run on drive sessions, show as jobs
  * and gap.
  *
  * Cold blocks include once-per-JVM fixture construction and are not
  * stable run to run; `graft.Bench` measures stability per gate
  * (warm1 == warm2) rather than assuming it. */
object Trace {

  /** One Spark job a block ran: its interval (epoch nanoseconds, at
    * the listener's millisecond resolution) and the first `graft.`
    * frame of the code that started it. */
  final case class Job(id: Int, startNs: Long, endNs: Long, site: String) {
    def seconds: Double = math.max(0L, endNs - startNs) / 1e9
  }

  /** The Spark work inside one measured block. Times in seconds. */
  final case class Cost(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                        shuffleReadB: Long = 0, shuffleWriteB: Long = 0, inputB: Long = 0,
                        wallS: Double = 0, planS: Double = 0, jobS: Double = 0,
                        aqeReplans: Long = 0, gcS: Double = 0, bytesWritten: Long = 0,
                        filesRead: Long = 0, rowsScanned: Long = 0, filesWritten: Long = 0,
                        jobList: Seq[Job] = Nil) {
    /** Wall time neither planning nor covered by a running job. */
    def gapS: Double = math.max(0.0, wallS - planS - jobS)

    def json: String = {
      def s(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""shuffle_read_b":$shuffleReadB,"shuffle_write_b":$shuffleWriteB,""" +
        s""""input_b":$inputB,"wall_s":${s(wallS)},"plan_s":${s(planS)},""" +
        s""""job_s":${s(jobS)},"gap_s":${s(gapS)},"aqe_replans":$aqeReplans,""" +
        s""""gc_s":${s(gcS)},"bytes_written":$bytesWritten,"files_read":$filesRead,""" +
        s""""rows_scanned":$rowsScanned,"files_written":$filesWritten}"""
    }
  }

  /** Counter totals, and how many job and plan records there were, at
    * a block's start. */
  private final case class Mark(c: Array[Long], jobRecords: Int, planRecords: Int, gcMs: Long)

  private final class Listener extends SparkListener with QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    // jobs, stages, tasks, shuffle read, shuffle write, input, aqe
    // re-plans, bytes written, files read, rows scanned, files written
    private val c = new Array[Long](11)
    // job and plan intervals are kept only while a block is open, so a
    // long-lived JVM does not accumulate them
    private var open = 0
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val jobIndex = mutable.Map.empty[Int, Int]
    private val plans = mutable.ArrayBuffer.empty[(Long, Long)]
    // SQL execution id -> call site, for jobs whose stage names none
    private val execSite = mutable.Map.empty[Long, String]

    def begin(gcMs: Long): Mark = synchronized {
      open += 1
      Mark(c.clone(), jobs.size, plans.size, gcMs)
    }

    def end(m: Mark, t0: Long, t1: Long, gcMs: Long): Cost = synchronized {
      val d = c.indices.map(i => c(i) - m.c(i))
      val js = jobs.drop(m.jobRecords).toVector
      val jobIv = union(js.map(j => (j.startNs, if (j.endNs > 0) j.endNs else t1)), t0, t1)
      val planIv = union(plans.drop(m.planRecords).toSeq, t0, t1)
      Cost(d(0), d(1), d(2), d(3), d(4), d(5), (t1 - t0) / 1e9,
        (covered(planIv) - overlap(planIv, jobIv)) / 1e9, covered(jobIv) / 1e9,
        d(6), (gcMs - m.gcMs) / 1e3, d(7), d(8), d(9), d(10), js)
    }

    def close(): Unit = synchronized {
      open -= 1
      if (open == 0) { jobs.clear(); jobIndex.clear(); plans.clear(); execSite.clear() }
    }

    private def add(i: Int, v: Long): Unit = synchronized { c(i) += v }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      add(0, 1)
      if (open > 0) {
        val execId = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val site = e.stageInfos.headOption.flatMap(s => graftFrame(s.details))
          .orElse(execId.flatMap(id => execSite.get(id.toLong))).getOrElse("?")
        jobIndex(e.jobId) = jobs.size
        jobs += Job(e.jobId, e.time * 1000000L, 0L, site)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobIndex.remove(e.jobId).foreach(i => jobs(i) = jobs(i).copy(endNs = e.time * 1000000L))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(1, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(2, 1)
      val m = e.taskMetrics
      if (m != null) synchronized {
        c(3) += m.shuffleReadMetrics.totalBytesRead
        c(4) += m.shuffleWriteMetrics.bytesWritten
        c(5) += m.inputMetrics.bytesRead
        c(7) += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add(6, 1)
      case s: SparkListenerSQLExecutionStart => synchronized {
        if (open > 0)
          execSite(s.executionId) = graftFrame(s.details).getOrElse("sql:" + s.description.take(40))
      }
      case _ => ()
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = synchronized {
      if (open > 0) qe.tracker.phases.values.foreach { p =>
        plans += ((p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
      }
      foreach(qe.executedPlan) {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(c(8) += _.value)
          s.metrics.get("numOutputRows").foreach(c(9) += _.value)
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(c(10) += _.value)
        case _ =>
      }
    }
  }

  /** The first `graft.` frame of a call-site stack, leaving out the
    * measuring harness itself. */
  private def graftFrame(stack: String): Option[String] = stack.split('\n')
    .find(l => l.contains("graft.") && !Seq("graft.core.Trace$", "graft.tools.Profile", "graft.Bench")
      .exists(l.contains))
    .map(_.trim.stripPrefix("at ").takeWhile(_ != '('))

  /** Intervals clipped to [t0, t1], merged and sorted. */
  private def union(iv: Seq[(Long, Long)], t0: Long, t1: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  private def covered(iv: Seq[(Long, Long)]): Long = iv.map { case (s, e) => e - s }.sum

  private def overlap(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    (for ((as, ae) <- a; (bs, be) <- b) yield math.max(0L, math.min(ae, be) - math.max(as, bs))).sum

  private var listener: Option[Listener] = None

  /** Register the listeners (at most once per JVM; later calls are
    * no-ops, so specs sharing a session can install unconditionally). */
  def install(spark: SparkSession): Unit = synchronized {
    if (listener.isEmpty) {
      val l = new Listener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      listener = Some(l)
    }
  }

  /** Runs `f` and returns its result with the Spark work it caused. */
  def measure[T](spark: SparkSession)(f: => T): (T, Cost) = {
    install(spark)
    val l = synchronized(listener.get)
    def drain(): Unit = org.apache.spark.graftdiag.BusDiag.waitUntilEmpty(spark.sparkContext)
    drain()
    // job and plan times are epoch milliseconds; the block's ends are
    // taken on the monotonic clock and shifted onto that scale
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val m = l.begin(Diag.gcMs)
    try {
      val t0 = System.nanoTime()
      val out = f
      val t1 = System.nanoTime()
      drain()
      (out, l.end(m, t0 - offsetNs, t1 - offsetNs, Diag.gcMs))
    } finally l.close()
  }
}
