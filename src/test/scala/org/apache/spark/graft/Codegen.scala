package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark keeps its codegen metrics private; specs that count janino
  * compilations read the JVM-wide total here. */
object Codegen {
  /** Classes compiled in this JVM so far (one compilation-time sample
    * per compilation; cache hits add none). */
  def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
