package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per JVM, one client thread,
  * closed loop. Prints exactly one JSON object as the last stdout line
  * (see perfbench/README.md for the workloads and metrics). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  /** What a workload hands back: end-to-end metrics (untraced run) or
    * per-layer metrics (traced run), plus the operation tally. */
  final class Result {
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    /** Set-level checks outside the per-operation tally (store
      * cardinalities after import, committed gate digests present). */
    var setupOk = true
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    /** The two paths, computed the same way in both runs: end-to-end
      * metrics untraced, `trace.*` per-layer metrics traced (their
      * difference is the tracing overhead). */
    def paths(traced: Boolean, lightMs: Double, heavyMs: Double): Unit = {
      val prefix = if (traced) "trace." else ""
      metric(prefix + "light_ms", lightMs, "ms")
      metric(prefix + "heavy_ms", heavyMs, "ms")
    }
    def op(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (notes.size < 20) notes += what }
    }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark keeps a record of past jobs, stages, tasks and SQL
      // executions in memory even without the UI; a small fixed cap
      // keeps heap_retained_mb from growing with the number of
      // operations a fixed-time loop gets through
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark
  }

  private val jvmStart = System.nanoTime()
  /** Progress line on stderr: elapsed seconds since start, per phase. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%7.2f s  $what")

  /** Heap still reachable: the lowest used-heap reading over three
    * full collections. */
  def heapRetainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    phase("spark session up")
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val res = new Result
    val run = a.workload match {
      case "serve"   => new Serve(spark, a, trace, res)
      case "gates"   => new Gates(spark, a, trace, res, sparkStartS)
      case other     => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    var out: String = null
    try {
      run.run()
      // after the workload returns its stores are unreachable: what
      // survives a full collection is what the library keeps, plus
      // Spark's own state (its job record capped in `session`)
      if (!a.trace) res.metric("heap_retained_mb", heapRetainedMb(), "MB")
      trace.foreach(_.write(a.work.resolve(s"trace-${a.workload}.jsonl")))
      Metrics.complete(res, a.trace)
      res.notes.foreach(n => System.err.println(s"[perfbench] failed: $n"))
      out = Json.result(res)
    } finally {
      phase("workload done")
      spark.stop()
    }
    println(out)
  }
}

/** The metric catalog, the same for every workload (BENCHMARK.json
  * lists the same names). `light_ms`/`heavy_ms` are each workload's
  * two paths: serve — JsonFileStore get / TableStore get; gates — warm
  * time of the `plain` group / of the `av` and `chain` groups. The
  * write-path metrics come from the publish cycles of the traced gates
  * run. A per-layer metric of a layer the workload bypasses reads 0. */
object Metrics {
  val EndToEnd: Seq[String] = Seq("setup_s", "light_ms", "heavy_ms", "heap_retained_mb")
  val PerLayer: Seq[(String, String)] = Seq(
    "codec.uri_parse_us" -> "us", "store.json_resolve_us" -> "us",
    "store.json_cache_hit_ratio" -> "ratio", "filters.parse_us" -> "us",
    "filters.apply_us" -> "us", "filters.serialize_us" -> "us",
    "store.table_jobs_per_get" -> "count", "store.table_tasks_per_get" -> "count",
    "store.table_plan_ms_per_get" -> "ms", "store.table_job_ms_per_get" -> "ms",
    "store.table_driver_gap_ms_per_get" -> "ms", "store.table_files_per_get" -> "count",
    "store.table_rows_scanned_per_get" -> "rows", "etl.bulk_import_s" -> "s",
    "store.json_put_us" -> "us", "store.table_put_us" -> "us", "store.table_flush_s" -> "s",
    "store.json_query_s" -> "s", "store.table_query_s" -> "s", "store.json_rm_s" -> "s",
    "store.table_rm_s" -> "s", "store.table_compact_s" -> "s",
    "store.table_jobs_per_cycle" -> "count", "store.table_files_written_per_cycle" -> "count",
    "store.table_bytes_written_per_user_byte" -> "ratio",
    "store.table_bytes_per_user_byte" -> "ratio") ++
    Seq("av", "chain", "plain", "total").flatMap(g => Seq(
      s"analytics.$g.jobs" -> "count", s"analytics.$g.stages" -> "count",
      s"analytics.$g.tasks" -> "count", s"analytics.$g.plan_s" -> "s",
      s"analytics.$g.aqe_replans" -> "count", s"analytics.$g.job_s" -> "s",
      s"analytics.$g.driver_gap_s" -> "s", s"analytics.$g.shuffle_mb" -> "MB",
      s"analytics.$g.gc_s" -> "s")) ++
    Seq("trace.light_ms" -> "ms", "trace.heavy_ms" -> "ms")

  /** Check the untraced run measured every end-to-end metric; give the
    * traced run every per-layer metric, in catalog order. */
  def complete(r: Main.Result, traced: Boolean): Unit =
    if (!traced) {
      val missing = EndToEnd.filterNot(r.metrics.contains)
      require(missing.isEmpty, s"end-to-end metrics not measured: ${missing.mkString(", ")}")
    } else {
      val measured = r.metrics.clone()
      r.metrics.clear()
      PerLayer.foreach { case (k, u) =>
        val v = measured.get(k).map(_._1).filterNot(_.isNaN).getOrElse(0.0)
        r.metric(k, v, u)
      }
    }
}

/** A workload: sets itself up, measures for `seconds`, fills a Result. */
trait Workload { def run(): Unit }

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def result(r: Main.Result): String = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString(", ")
    s"""{"correct": ${r.setupOk}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$ms}}"""
  }
}

/** Order statistics over one sample. */
object Stats {
  def quantile(xs: Array[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)
}
