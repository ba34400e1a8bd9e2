package graft

import graft.plans.CodegenCache
import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf

class CodegenCacheSpec extends SparkSpec {

  /** Janino compiles started by `f`, JVM-wide. */
  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a working set above Spark's default 100 entries stays compiled across rounds") {
    // each literal is inlined into its own whole-stage source
    val n = 150
    def round(): Unit = (1 to n).foreach(i => spark.range(1).selectExpr(s"id * $i + $i").collect())
    val first = compiles(round())
    assert(first >= n, s"round 1 compiled $first sources, expected at least $n distinct ones")
    assert(compiles(round()) == 0L, s"round 2 recompiled sources of round 1 (cache size below $n?)")
  }

  test("sizing rule: the platform size unless the SparkConf sets the cache size") {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    assert(CodegenCache.sizingConf(new SparkConf(false)).map(_.codegenCacheMaxEntries)
      .contains(CodegenCache.Entries))
    assert(CodegenCache.sizingConf(new SparkConf(false).set(key, "7")).isEmpty)
  }
}
