package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** A `GraftSession.builder` session keeps the classes it generates: a query
  * run again after more than Spark's default 100 other generated classes
  * compiles nothing the second time. */
class CodegenCacheSpec extends SparkSpec {

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // each k inlines different constants, so each k is its own generated class
  private def run(k: Long): Unit =
    spark.range(10).select((col("id") * lit(k) + lit(k)).as("v"))
      .filter(col("v") > lit(-k - 1)).collect()

  test("a rerun query compiles no class after 150 other queries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    run(1000003L)
    val before = compiled
    (1L to 150L).foreach(run)
    val after = compiled
    assert(after - before >= 150, "the sweep must overflow the default cache")
    run(1000003L)
    assert(compiled == after, "the first query's classes were evicted and recompiled")
  }
}
