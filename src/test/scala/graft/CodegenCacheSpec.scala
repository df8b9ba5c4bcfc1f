package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** GraftSession.configure sizes Spark's JVM-wide generated-class cache
  * above its default of 100 entries: a plan set with more distinct
  * generated classes than that compiles each class once, and running it
  * again compiles nothing. */
class CodegenCacheSpec extends SparkSpec {

  test("a plan set of more than 100 generated classes compiles once") {
    // Projections that differ only in an inlined literal: one distinct
    // whole-stage class each.
    def pass(): Unit = (1 to 120).foreach { k =>
      spark.range(0, 4, 1, 1).select((col("id") * k + k).as("x")).collect()
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiles
    pass()
    val first = compiles - before
    assert(first > 100, s"the plan set compiled only $first classes")
    pass()
    assert(compiles - before - first === 0L,
      "the second pass recompiled classes the cache should have held")
  }
}
