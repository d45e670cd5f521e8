package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

/** A local session compiles each generated class once: the class the
  * driver compiles while preparing a whole-stage stage serves its tasks
  * from Spark's codegen cache. */
class CompileOnceSpec extends SparkSpec {

  test("one whole-stage stage compiles once, on the driver, not again in its task") {
    // a literal no earlier plan used: its source is not yet in the cache
    val k = 1000003L + System.nanoTime() % 1000000L
    val plan = spark.range(0, 1000, 1, 1).selectExpr(s"id * $k AS v")
      .filter(s"v % 7 = ${k % 7}").queryExecution.executedPlan
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    assert(plan.execute().count() > 0)
    assert(compiles.getCount - before == 1)
  }
}
