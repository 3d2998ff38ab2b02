package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark-internal reads the tracer needs. */
object SparkAccess {
  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** (compiles so far, their summed ms while the histogram still holds every sample). */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val sum = if (n <= snap.size()) snap.getValues.sum.toDouble else snap.getMean * n
    (n, sum)
  }
}
