package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Janino compiles of generated code in this JVM so far: the cache of
  * compiled classes answers a repeated plan without a compile, so a
  * count that moves over a repeat means its classes were evicted.
  */
object CodegenCompiles {
  def apply(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
