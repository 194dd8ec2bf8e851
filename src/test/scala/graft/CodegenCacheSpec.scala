package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf

import graft.plans.GraftExtensions

/** `GraftExtensions` sizes Spark's generated-class cache so a working set
  * larger than Spark's default 100 entries stays resident: re-running the
  * same plans compiles nothing. The cache is JVM-wide and sized once, so
  * this spec FAILS (it never skips) when something compiled code in the
  * test JVM before the first graft session existed. */
class CodegenCacheSpec extends SparkSpecBase {

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("sizing sets 1024 only when the key is unset") {
    val unset = GraftExtensions.sizeCodegenCache(new SparkConf(false))
    assert(unset.get(key) === "1024")
    val userSet = GraftExtensions.sizeCodegenCache(new SparkConf(false).set(key, "100"))
    assert(userSet.get(key) === "100", "an explicit user setting must never be overridden")
  }

  test("the graft session carries the sized cache conf") {
    assert(spark.conf.get(key) === GraftExtensions.CodegenCacheEntries.toString)
  }

  test("re-running more than 100 distinct plans compiles no class") {
    // literals are inlined into generated code: each i is its own class
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach(i => spark.range(10).selectExpr(s"id * $i AS x").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = round()
    assert(first > 100, s"first round compiled $first classes; it must exceed Spark's default cache")
    val second = round()
    assert(second === 0L,
      s"second round recompiled $second of $first classes: CodeGenerator's cache was " +
        "sized before any GraftExtensions session existed in this JVM, or below the working set")
  }
}
