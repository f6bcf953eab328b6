package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus fence for the benchmark's span recorder. The bus is
  * asynchronous: a task-end event of a job that already returned can
  * still be queued when the driver moves on. Draining the bus at every
  * span boundary makes each event land in the span that caused it (the
  * straggler fence `graft.tools.ShuffleMeter` approximates by polling). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
