package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark reads; both are `private[spark]`.
  */
object Bus {
  /** Block until every listener has seen every event posted so far, so a
    * span closed after this call holds all of its op's jobs and tasks.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression code generator compilations so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
}
