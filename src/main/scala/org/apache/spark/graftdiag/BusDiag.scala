package org.apache.spark.graftdiag

import org.apache.spark.SparkContext

/** Read-only visibility into `private[spark]` scheduler internals for
  * the aging diagnostics in [[graft.core.Diag]] — a long-lived driver
  * accumulates per-session listeners (every `SparkSession` that runs a
  * streaming query registers a `StreamingQueryListenerBus` on the
  * shared `LiveListenerBus`), and the only way to SEE that from user
  * code is from inside the `org.apache.spark` package. Nothing here
  * mutates anything. */
object BusDiag {
  /** Number of listeners currently registered on the shared
    * LiveListenerBus (all queues). Monotonic growth across a bench run
    * = a per-query session/listener leak. */
  def listenerCount(sc: SparkContext): Int =
    sc.listenerBus.listeners.size()

  /** Drain the shared bus: block until every queued event has been
    * delivered to every listener. [[graft.core.Trace]] drains before
    * and after a measured block, and the maintenance-scratch receipt's
    * block-update listener must observe a finished drive's LAST events
    * before its byte counter is read. */
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
