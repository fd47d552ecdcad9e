package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus: the traced run drains
  * it at pass boundaries so every listener event of a pass is counted in
  * that pass. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Janino compilations of generated code so far, in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
