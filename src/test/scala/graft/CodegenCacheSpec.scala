package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Warm visits must not recompile: `Sessions.local` sizes Spark's
  * generated-class cache to the query book, so a plan revisited after
  * more than the default 100 other classes were compiled still finds its
  * classes in the cache. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a plan revisited after 120 other generated classes compiles nothing") {
    def visit(): Unit = {
      spark.range(1000)
        .selectExpr("id % 13 AS k", "id * 37 + 5 AS v")
        .groupBy("k").sum("v").collect()
      ()
    }
    visit()
    val beforeOthers = compiles
    (1 to 120).foreach { i =>
      spark.range(10).selectExpr(s"id * $i + $i").collect()
    }
    val afterOthers = compiles
    assert(afterOthers - beforeOthers > 100,
      "the filler queries must compile more classes than Spark's default cache holds")
    visit()
    assert(compiles === afterOthers)
  }
}
