package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around calls into the library's public API, with Spark work
  * attributed per span. Only the traced run builds one.
  *
  * Attribution needs no job tagging: the benchmark drives Spark from a
  * single client thread and spans never overlap, so every event that
  * arrives between a span's start and its end belongs to it. Both ends
  * drain the listener bus first (outside the span's wall time).
  * Spans are kept in memory and written out once, at exit. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val c = new Counters
  spark.sparkContext.addSparkListener(c)
  spark.listenerManager.register(c)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Long]
  private var nextId = 0L
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def drain(): Unit =
    org.apache.spark.graftdiag.BusDiag.waitUntilEmpty(spark.sparkContext)

  /** Time `f` as span `name` under the innermost open span. With
    * `sparkWork = true` the span also carries the Spark work it caused. */
  def span[T](name: String, sparkWork: Boolean = false)(f: => T): T = {
    if (sparkWork) drain()
    val before = if (sparkWork) Some(c.snap(gcMs)) else None
    val id = { nextId += 1; nextId }
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      val cost = before.map { b => drain(); c.snap(gcMs).minus(b, t0, t1) }
      spans += Span(id, parent, name, t0, t1, cost)
    }
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: Path): Unit = {
    val w = Files.newBufferedWriter(path)
    try spans.foreach { s => w.write(s.json); w.newLine() }
    finally w.close()
  }
}

object Trace {
  /** Spark work inside one span. Times in seconds. */
  final case class Cost(jobs: Long, stages: Long, tasks: Long, planS: Double,
                        jobS: Double, aqeReplans: Long, shuffleB: Long,
                        bytesWritten: Long, filesRead: Long, rowsScanned: Long,
                        filesWritten: Long, gcS: Double) {
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"plan_s":${Json.num(planS)},""" +
        s""""job_s":${Json.num(jobS)},"aqe_replans":$aqeReplans,"shuffle_b":$shuffleB,""" +
        s""""bytes_written":$bytesWritten,"files_read":$filesRead,"rows_scanned":$rowsScanned,""" +
        s""""files_written":$filesWritten,"gc_s":${Json.num(gcS)}}"""
  }

  final case class Span(id: Long, parent: Long, name: String, t0: Long, t1: Long,
                        cost: Option[Cost]) {
    def wallS: Double = (t1 - t0) / 1e9
    /** Wall time neither planning nor covered by a running job. */
    def gapS: Double = cost.fold(0.0)(c => math.max(0.0, wallS - c.planS - c.jobS))
    def json: String =
      s"""{"id":$id,"parent":$parent,"name":${Json.str(name)},"start_ns":$t0,"end_ns":$t1""" +
        cost.fold("")(c => s""","spark":${c.json}""") + "}"
  }

  final case class Snap(jobs: Long, stages: Long, tasks: Long, planNs: Long, aqe: Long,
                        shuffleB: Long, bytesWritten: Long, filesRead: Long,
                        rowsScanned: Long, filesWritten: Long, gcMs: Long,
                        jobIntervals: Seq[(Long, Long)]) {
    /** Cost since `b`, with job time as the union of job intervals
      * that fall inside [t0, t1] (concurrent jobs count once). */
    def minus(b: Snap, t0: Long, t1: Long): Cost = {
      val iv = jobIntervals.drop(b.jobIntervals.size)
        .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      Cost(jobs - b.jobs, stages - b.stages, tasks - b.tasks, (planNs - b.planNs) / 1e9,
        covered / 1e9, aqe - b.aqe, shuffleB - b.shuffleB, bytesWritten - b.bytesWritten,
        filesRead - b.filesRead, rowsScanned - b.rowsScanned, filesWritten - b.filesWritten,
        (gcMs - b.gcMs) / 1e3)
    }
  }

  /** One SparkListener + QueryExecutionListener pair. Job intervals are
    * kept in System.nanoTime terms (event wall clock shifted by the
    * offset measured at construction). */
  private final class Counters extends SparkListener with QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val jobs, stages, tasks, planNs, aqe, shuffleB, bytesWritten = new AtomicLong
    val filesRead, rowsScanned, filesWritten = new AtomicLong
    private val jobStart = mutable.Map.empty[Int, Long]
    private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    def snap(gcMs: Long): Snap = synchronized {
      Snap(jobs.get, stages.get, tasks.get, planNs.get, aqe.get, shuffleB.get,
        bytesWritten.get, filesRead.get, rowsScanned.get, filesWritten.get, gcMs,
        intervals.toVector)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs.incrementAndGet()
      jobStart(e.jobId) = e.time * 1000000L + offsetNs
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time * 1000000L + offsetNs)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffleB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
      ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate =>
        aqe.incrementAndGet(); ()
      case _ => ()
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      planNs.addAndGet(phases.values.map(_.durationMs).sum * 1000000L)
      val plan: SparkPlan = qe.executedPlan
      foreach(plan) {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(m => filesRead.addAndGet(m.value))
          s.metrics.get("numOutputRows").foreach(m => rowsScanned.addAndGet(m.value))
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(m => filesWritten.addAndGet(m.value))
        case _ =>
      }
    }
  }
}
