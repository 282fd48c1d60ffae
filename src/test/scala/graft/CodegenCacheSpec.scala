package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache is one LRU per JVM, sized once from
  * the static `spark.sql.codegen.cache.maxEntries` of the session that
  * first generates code. A workload that cycles through more distinct
  * classes than that recompiles every one of them on every pass.
  * GraftSession sizes the cache for the engine's working sets; this
  * spec cycles 150 distinct projections (two classes each, 300 in all)
  * through it twice. The second cycle must compile nothing, which also
  * catches a capacity that never took effect (a `.config` on a builder
  * whose SparkContext already exists is dropped with only a warning). */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm cycle of 150 projections compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // the inlined literal makes each projection's generated classes distinct
    def cycle(): Long = {
      val c0 = compiles
      (1 to 150).foreach(i => spark.range(4).selectExpr(s"id * $i + 7").collect())
      compiles - c0
    }
    val cold = cycle()
    assert(cold >= 150, s"the cold cycle compiled only $cold classes")
    val warm = cycle()
    assert(warm == 0, s"the warm cycle recompiled $warm of $cold classes")
  }
}
