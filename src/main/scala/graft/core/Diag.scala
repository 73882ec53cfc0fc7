package graft.core

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** JVM/runtime aging metrics for the bench and [[graft.tools.Profile]].
  *
  * A long-lived Spark driver (the 100 TB deployment profile) degrades
  * through ACCUMULATION, not through any single query's plan: loaded
  * state-store providers, listener buses from per-drive sessions,
  * metaspace from codegen classes, old-gen heap from pinned sink data.
  * Each of those shows up as a monotonic counter here; snapshotting
  * between queries localizes which one is growing when a warm pass
  * slows down. All reads are cheap (MXBeans + two map sizes) — safe to
  * take per-query in a bench. */
object Diag {

  final case class Snap(heapUsedMb: Long, metaspaceMb: Long, loadedClasses: Int,
                        gcMs: Long, gcCount: Long, jitMs: Long, threads: Int,
                        listeners: Int, stateProviders: Int, codegenCompiles: Long) {
    def json: String =
      s"""{"heap_mb":$heapUsedMb,"metaspace_mb":$metaspaceMb,"classes":$loadedClasses,""" +
        s""""gc_ms":$gcMs,"gc_n":$gcCount,"jit_ms":$jitMs,"threads":$threads,""" +
        s""""listeners":$listeners,"state_providers":$stateProviders,"codegen_n":$codegenCompiles}"""
  }

  /** Loaded state-store provider count. The map is object-private in
    * Spark, so this is reflection — acceptable for a diagnostic (and it
    * degrades to -1 if the field moves in a future Spark). */
  private def stateProviderCount(): Int =
    try {
      val cls = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
      val module = cls.getField("MODULE$").get(null)
      val f = cls.getDeclaredField("loadedProviders")
      f.setAccessible(true)
      f.get(module).asInstanceOf[scala.collection.mutable.HashMap[_, _]].size
    } catch { case _: Throwable => -1 }

  /** Total Janino compilations since JVM start (evicted codegen cache
    * entries leave their classes loaded until a full GC unloads the
    * classloader — compile count + metaspace together show codegen
    * churn). */
  private def codegenCompileCount(): Long =
    try org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    catch { case _: Throwable => -1L }

  /** Total collection time of every garbage collector since JVM start. */
  def gcMs: Long = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(g => ms += math.max(g.getCollectionTime, 0))
    ms
  }

  def snap(spark: SparkSession): Snap = {
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val meta = ManagementFactory.getMemoryPoolMXBeans.stream()
      .filter(p => p.getName == "Metaspace").findFirst()
      .map[Long](p => p.getUsage.getUsed).orElse(0L)
    var gcN = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(g => gcN += math.max(g.getCollectionCount, 0))
    val jit = ManagementFactory.getCompilationMXBean
    Snap(
      heapUsedMb = mem.getUsed >> 20,
      metaspaceMb = meta >> 20,
      loadedClasses = ManagementFactory.getClassLoadingMXBean.getLoadedClassCount,
      gcMs = gcMs, gcCount = gcN,
      jitMs = if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else -1L,
      threads = ManagementFactory.getThreadMXBean.getThreadCount,
      listeners = org.apache.spark.graftdiag.BusDiag.listenerCount(spark.sparkContext),
      stateProviders = stateProviderCount(),
      codegenCompiles = codegenCompileCount())
  }
}
