package graft.obs

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark's JVM-wide codegen counters: classes Janino compiled
  * (`CodegenMetrics.METRIC_COMPILATION_TIME`, one sample per compile)
  * and the nanoseconds those compiles took (`CodeGenerator.compileTime`).
  * A class served from Spark's compile cache counts in neither, so the
  * difference of two readings is what a block compiled, driver and local
  * executors together.
  */
object Codegen {
  final case class Count(compiles: Long, nanos: Long) {
    def -(o: Count): Count = Count(compiles - o.compiles, nanos - o.nanos)
    def ms: Long = nanos / 1000000L
  }

  def now: Count =
    Count(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
