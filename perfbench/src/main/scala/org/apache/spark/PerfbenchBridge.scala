package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** `private[spark]` reads the benchmark's traced run needs. */
object PerfbenchBridge {
  /** Whole-stage and expression classes compiled so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Block until every posted listener event has been delivered, so an
    * op's job and task events are attributed to that op. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
